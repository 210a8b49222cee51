#!/usr/bin/env python3
"""Ingest benchmark for ``ves_spark``.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Runs one named workload against the public ``ves_spark`` API from the
root of a source checkout, checks every output against an independent
reference, prints each metric with its unit, and prints as its last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run records spans around the program's layers and
reports the per-layer metrics instead (and writes the full span list
under ``.perfbench-work/``). The exit code is nonzero when any
operation failed or any output check did not hold.

Workloads, metrics and the metric-to-layer map are documented in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")

# Workload sizes. "tiny" is the self-test scale: one operation each.
# Tail rounds are small so that per-increment fixed cost, not compute,
# dominates them (see README.md); a tail run makes at least two rounds
# so that both a new part file and an in-place growth are ingested.
SCALES = {
    "full": {
        "backfill_rows": 12_000,
        "rows_per_part": 4_000,
        "warm_rows": 1_000,
        "tail_base_rows": 2_000,
        "tail_base_parts": 16,
        "round_rows": 1_000,
        "min_ops": {"backfill": 1, "tail": 2},
        "refreshes": {"backfill": 4, "tail": 2},
        "gen_repeats": 3,
    },
    "tiny": {
        "backfill_rows": 2_000,
        "rows_per_part": 1_000,
        "warm_rows": 200,
        "tail_base_rows": 400,
        "tail_base_parts": 4,
        "round_rows": 300,
        "min_ops": {"backfill": 1, "tail": 1},
        "refreshes": {"backfill": 1, "tail": 1},
        "gen_repeats": 1,
    },
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "ingest_seq_per_s": "seq/s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "refresh_p50_s": "s",
    "refresh_tail_s": "s",
    "output_bytes_per_seq": "B/seq",
    "peak_rss_mb": "MB",
    "ops_ok_frac": "ratio",
}

TABLES = ("routed", "rollup_partial", "hdr_partial", "kmv_partial", "cms_partial")


def tail_stat(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it; the maximum when there are too few samples."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11  # xs[k] has exactly ten samples above it
    return xs[k], 100.0 * (k + 1) / n, n


def host() -> tuple[int, int]:
    """(cores usable by this process, MemTotal in MiB)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return nproc, int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_session(nproc: int, mem_mib: int, trace: bool):
    """A SparkSession sized to the host, with every scratch path inside
    the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    heap_mib = max(1024, min(mem_mib // 8, 4096))
    from ves_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mib}m",
        "spark.local.dir": tmp,
        # a fixed heap: the JVM's RSS then does not depend on when the
        # collector decides to grow the heap. No hsperfdata file: the
        # JVM would write it under /tmp whatever java.io.tmpdir says.
        "spark.driver.extraJavaOptions": f"-Xms{heap_mib}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark(
        master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway JVM exits
    when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    python_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (python_kib + jvm_kib) / 1024.0


class Bench:
    def __init__(self, args, spark, tracer, nproc: int):
        from perfbench import data

        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.nproc = nproc
        self.scale = SCALES[args.scale]
        self.data = data
        self.attempted = 0
        self.failed = 0
        self.freshness: list[float] = []
        self.rates: list[float] = []
        self.refreshes: list[float] = []
        self.out_bytes_per_seq = float("nan")
        self.layer: dict[str, float] = {}

    # ------------------------------------------------------------ helpers
    def pipeline(self, fix_dir: str, out_dir: str):
        from ves_spark.pipeline import Pipeline, PipelineConfig

        p = Pipeline(
            self.spark,
            PipelineConfig(
                sequences_path=self.data.seq_dir(fix_dir),
                source_meta_path=os.path.join(fix_dir, "source_meta.parquet"),
                route_rules_path=os.path.join(fix_dir, "route_rules.parquet"),
                out_dir=out_dir,
                # one unit per core, all units in one increment per batch
                n_units=self.nproc,
                units_per_increment=self.nproc,
            ),
        )
        if self.args.trace:
            from perfbench import tracer as tr

            self.tracer.wrap(p, tr.PIPELINE_METHODS, "pipeline")
            self.tracer.wrap(p.store, tr.STORE_METHODS, "checkpoint")
            self.tracer.wrap(p.catalog, tr.CATALOG_METHODS, "sources.catalog")
        return p

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def finalize_rows(self, p) -> dict[tuple, tuple]:
        from pyspark.sql import functions as F

        with self.tracer.span("pipeline.finalize_rollup"):
            rows = (
                p.finalize_rollup()
                .select(
                    "sink",
                    "source",
                    F.col("time_bucket").cast("long").alias("tb"),
                    "cnt",
                    "sum_n_tok",
                    "sum_bytes",
                )
                .collect()
            )
        return {
            (r.sink, r.source, int(r.tb)): (int(r.cnt), int(r.sum_n_tok), int(r.sum_bytes))
            for r in rows
        }

    def refresh(self, p) -> tuple:
        """One dashboard refresh: HDR rollup merge, KMV distinct docs,
        CMS trigram frequencies and one routed drill-down."""
        from pyspark.sql import functions as F

        d = self.data
        roll = self.finalize_rows(p)
        with self.tracer.span("pipeline.distinct_docs_per_sink"):
            kmv = {r.sink: float(r.est_distinct) for r in p.distinct_docs_per_sink().collect()}
        with self.tracer.span("pipeline.trigram_freq_per_sink"):
            cms = {
                (r.sink, int(r.tri_id)): int(r.est_count)
                for r in p.trigram_freq_per_sink(d.TRIGRAMS).collect()
            }
        lo, hi = (d.BASE_EPOCH + m * 60 for m in d.DRILL_MINUTES)
        with self.tracer.span("pipeline.drilldown"):
            drill = (
                p.routed()
                .filter(
                    (F.col("sink") == d.DRILL_SINK)
                    & (F.col("source") == d.DRILL_SOURCE)
                    & (F.col("ts").cast("long") >= lo)
                    & (F.col("ts").cast("long") < hi)
                )
                .count()
            )
        return roll, kmv, cms, drill

    def check_refresh(self, got: tuple, ref: dict, what: str) -> None:
        from ves_spark.pipeline import Pipeline

        roll, kmv, cms, drill = got
        k = Pipeline.KMV_K
        if roll != ref["rollup"]:
            return self.fail(f"{what}: finalized rollup differs from the reference")
        if drill != ref["drill"]:
            return self.fail(f"{what}: drill-down count {drill} != reference {ref['drill']}")
        if set(kmv) != set(ref["distinct"]):
            return self.fail(f"{what}: sinks {sorted(kmv)} != reference {sorted(ref['distinct'])}")
        for sink, n in ref["distinct"].items():
            # below k distinct docs the KMV sketch is exact
            if kmv[sink] != n if n < k else abs(kmv[sink] - n) > 0.25 * n:
                return self.fail(f"{what}: distinct docs for {sink}: {kmv[sink]} vs reference {n}")
        for key, n in ref["trigrams"].items():
            if cms.get(key, -1) < n:
                return self.fail(f"{what}: trigram estimate {key} = {cms.get(key)} below true count {n}")

    def reference(self, routed) -> dict:
        """Reference answers for a refresh over ``routed`` (pandas)."""
        import numpy as np

        d = self.data
        trig = {}
        for sink, grp in routed.groupby("sink"):
            toks = np.concatenate([np.asarray(t, dtype=np.int64) for t in grp["tokens"]])
            # windows that straddle two docs must not count
            doc_end = np.cumsum([len(t) for t in grp["tokens"]])
            ok = np.ones(len(toks), dtype=bool)
            ok[np.maximum(doc_end - 1, 0)] = False
            ok[np.maximum(doc_end - 2, 0)] = False
            for i, tri in enumerate(d.TRIGRAMS):
                hit = (toks[:-2] == tri[0]) & (toks[1:-1] == tri[1]) & (toks[2:] == tri[2])
                trig[(sink, i)] = int((hit & ok[:-2]).sum())
        return {
            "rollup": d.ref_rollup_exact(routed),
            "drill": d.ref_drilldown(routed),
            "distinct": routed.groupby("sink")["doc_id"].nunique().astype(int).to_dict(),
            "trigrams": trig,
        }

    def routed_ok(self, p, routed, tag: str) -> bool:
        """The routed table holds as many rows per sink as the
        reference ``routed`` frame."""
        want = routed.groupby("sink").size().astype(int).to_dict()
        got = {r["sink"]: int(r["count"]) for r in p.routed().groupBy("sink").count().collect()}
        if got != want:
            self.fail(f"{tag}: routed rows per sink {got} != reference {want}")
        return got == want

    def timed_refreshes(self, p, ref: dict, tag: str) -> None:
        for j in range(self.scale["refreshes"][self.args.workload]):
            self.tracer.new_trace(f"{tag}-refresh{j}")
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = self.refresh(p)
            except Exception as e:  # an operation failure is a result
                self.fail(f"{tag} refresh {j}: {e!r}")
                continue
            self.refreshes.append(time.perf_counter() - t0)
            self.check_refresh(got, ref, f"{tag} refresh {j}")

    def warm_up(self) -> None:
        """JVM and codegen warm-up on 1 000 throwaway rows: the
        transform written as the routed table is, then the three sketch
        builds over it. A full ``Pipeline.run`` would warm a few more
        paths at twice the cost."""
        from pyspark.sql import functions as F

        d = self.data
        fix = os.path.join(WORK, "warm-fix")
        out = os.path.join(WORK, "warm-out")
        files = d.write_parts(fix, self.scale["warm_rows"], self.scale["warm_rows"] // 2, seed=self.args.seed + 7919)
        d.write_dims(fix)
        p = self.pipeline(fix, out)
        routed = p.transform(p.catalog.read_files(self.spark, files))
        routed = routed.withColumn("batch_seq", F.lit(0)).withColumn("unit_id", F.lit(0))
        p.catalog.overwrite_partitions(routed, "routed", ["batch_seq", "unit_id", "sink"])
        self.sketch_probes(p, out)

    def output_metrics(self, out_dir: str, n_seq: int) -> None:
        total, _ = self.data.dir_bytes(out_dir)
        self.out_bytes_per_seq = total / n_seq
        for t in TABLES:
            b, f = self.data.dir_bytes(os.path.join(out_dir, t))
            self.layer[f"sources.catalog.write.{t}.bytes"] = b
            self.layer[f"sources.catalog.write.{t}.files"] = f
        lin = os.path.join(out_dir, "lineage")
        self.layer["checkpoint.lineage_files"] = sum(
            1 for n in os.listdir(lin) if n.endswith(".parquet") and not n.startswith(".")
        )

    def generate(self, write) -> float:
        """Run the input generator ``gen_repeats`` times from a clean
        directory; returns the median generation time."""
        times = []
        for _ in range(self.scale["gen_repeats"]):
            shutil.rmtree(self.fix, ignore_errors=True)
            t0 = time.perf_counter()
            self.files = write()
            self.data.write_dims(self.fix)
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def measure(self, op) -> None:
        """Run ``op(i, tag)`` ``min_ops`` times and then until
        ``--seconds`` have passed (a traced run stops at ``min_ops``).
        ``op`` returns False when the run cannot go on."""
        t_end = time.perf_counter() + self.args.seconds
        n_min = self.scale["min_ops"][self.args.workload]
        i = 0
        while i < n_min or (not self.args.trace and time.perf_counter() < t_end):
            tag = f"op{i}"
            self.tracer.new_trace(tag)
            self.attempted += 1
            try:
                if not op(i, tag):
                    return
            except Exception as e:  # an operation failure is a result
                self.fail(f"{tag}: {e!r}")
                return
            i += 1

    # ---------------------------------------------------------- workloads
    def setup_backfill(self) -> float:
        d, s = self.data, self.scale
        self.fix = os.path.join(WORK, "backfill-fix")
        self.out = os.path.join(WORK, "backfill-out")
        t0 = time.perf_counter()
        self.warm_up()
        warm_s = time.perf_counter() - t0
        gen_s = self.generate(
            lambda: d.write_parts(self.fix, s["backfill_rows"], s["rows_per_part"], self.args.seed)
        )
        return warm_s + gen_s

    def run_backfill(self) -> None:
        d, n = self.data, self.scale["backfill_rows"]
        routed = d.ref_routed(d.read_rows(self.files))
        ref = self.reference(routed)

        def op(i: int, tag: str) -> bool:
            shutil.rmtree(self.out, ignore_errors=True)
            t0 = time.perf_counter()
            p = self.pipeline(self.fix, self.out)
            p.run()
            roll = self.finalize_rows(p)
            wall = time.perf_counter() - t0
            if self.args.corrupt:
                corrupt(self.out)
            if roll != ref["rollup"]:
                self.fail(f"{tag}: finalized rollup differs from the refimpl rollup")
            elif self.routed_ok(p, routed, tag):
                self.freshness.append(wall)
                self.rates.append(n / wall)
            self.timed_refreshes(p, ref, tag)
            self.output_metrics(self.out, n)
            if self.args.trace:
                self.probes(p, self.out)
            return True

        self.measure(op)

    def setup_tail(self) -> float:
        d, s = self.data, self.scale
        self.fix = os.path.join(WORK, "tail-fix")
        self.out = os.path.join(WORK, "tail-out")
        gen_s = self.generate(
            lambda: d.write_parts(
                self.fix, s["tail_base_rows"], s["tail_base_rows"] // s["tail_base_parts"], self.args.seed
            )
        )
        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.perf_counter()
        self.p = self.pipeline(self.fix, self.out)
        self.p.run()
        self.refresh(self.p)  # warms the read side, like the backfill warm-up
        return gen_s + time.perf_counter() - t0

    def run_tail(self) -> None:
        import pandas as pd

        d, s = self.data, self.scale
        routed = [d.ref_routed(d.read_rows(self.files))]
        state = {"expected": len(routed[0]), "newest": None, "rows": s["tail_base_rows"]}

        def op(i: int, tag: str) -> bool:
            state["newest"] = d.land_round(
                self.fix, i, s["round_rows"], self.args.seed, state["rows"], state["newest"]
            )
            t_landed = time.perf_counter()
            self.p.run()
            with self.tracer.span("pipeline.finalize_rollup"):
                total = self.p.finalize_rollup().agg({"cnt": "sum"}).first()[0]
            wall = time.perf_counter() - t_landed
            state["rows"] += s["round_rows"]
            routed.append(d.ref_routed(d.read_rows([state["newest"]], last_rows=s["round_rows"])))
            state["expected"] += len(routed[-1])
            if self.args.corrupt:
                corrupt(self.out)
            if total != state["expected"]:
                self.fail(f"{tag}: rollup sum(cnt) {total} != expected routed rows {state['expected']}")
                return False
            every = pd.concat(routed, ignore_index=True)
            if not self.routed_ok(self.p, every, tag):
                return False
            self.freshness.append(wall)
            self.rates.append(s["round_rows"] / wall)
            self.timed_refreshes(self.p, self.reference(every), tag)
            self.output_metrics(self.out, state["rows"])
            return True

        self.measure(op)
        if self.args.trace:
            self.probes(self.p, self.out)

    # ------------------------------------------------------------ probes
    def probes(self, p, out_dir: str) -> None:
        """Layer probes with a noop sink (traced runs only). Stage times
        are differences between prefix materializations (scan, +parse,
        +enrich, +route, +rollup) of the workload's whole input, each
        the median of three. Sketch times are the three partial builds
        over the routed rows of the newest batch, the scope of one
        operation's partial writes."""
        from pyspark.sql import functions as F

        from ves_spark.checkpoint import unit_col
        from ves_spark.enrich import enrich
        from ves_spark.parse import parse
        from ves_spark.route import route

        spark = self.spark
        conf = p.conf
        self.tracer.new_trace("probe")
        files = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(conf.sequences_path)
            for f in fs
            if f.endswith(".parquet")
        )
        meta = spark.read.parquet(conf.source_meta_path)
        rules = spark.read.parquet(conf.route_rules_path)
        scan = spark.read.parquet(*files).withColumn("unit_id", unit_col(conf.n_units))
        parsed = parse(scan, conf.parse_impl)
        enriched = enrich(parsed, meta)
        routed = route(enriched, rules)
        rolled = routed.groupBy("unit_id", "sink", "source", "time_bucket").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("n_tok").cast("long")).alias("sum_n_tok"),
        )
        stages = [("scan", scan), ("parse", parsed), ("enrich", enriched), ("route", routed), ("aggregate", rolled)]
        prev = 0.0
        for name, df in stages:
            t = statistics.median(self._noop(f"probe.{name}", df) for _ in range(3))
            self.layer[f"{name}.s"] = t - prev
            prev = t
        n_in = scan.count()
        self.layer["route.fanout"] = routed.count() / n_in

        self.layer.update(self.sketch_probes(p, out_dir))

    def sketch_probes(self, p, out_dir: str) -> dict[str, float]:
        """The three partial builds (CMS, KMV, HDR) over the routed rows
        of the newest batch under ``out_dir``, each to a noop sink."""
        from pyspark.sql import functions as F

        from ves_spark.operators.cms import cms_sketch
        from ves_spark.operators.sketches import kmv_sketch
        from ves_spark.operators.token_dedup import _gram_hash_expr
        from ves_spark.streaming.hdr import rollup_histogram

        back = self.spark.read.parquet(os.path.join(out_dir, "routed"))
        back = back.filter(F.col("batch_seq") == back.agg(F.max("batch_seq")).first()[0])
        keys = ["batch_seq", "unit_id", "sink"]
        # the gram expression of Pipeline's cms_partial write
        grams = back.select(
            *keys, F.explode(F.expr(_gram_hash_expr("tokens", p.CMS_GRAM_K, "xxhash64"))).alias("gram")
        )
        return {
            "operators.cms.exploded_rows": grams.count(),
            "operators.cms.s": self._noop(
                "probe.cms", cms_sketch(grams, "gram", keys, depth=p.CMS_DEPTH, width=p.CMS_WIDTH)
            ),
            "operators.sketches.kmv.s": self._noop(
                "probe.kmv", kmv_sketch(back.select(*keys, "doc_id"), "doc_id", keys, k=p.KMV_K)
            ),
            "streaming.hdr.s": self._noop(
                "probe.hdr", rollup_histogram(back, [*keys, "source", "time_bucket"], value_col="n_tok")
            ),
        }

    def _noop(self, name: str, df) -> float:
        with self.tracer.span(name):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0


def corrupt(out_dir: str) -> None:
    """Self-test hook: delete one routed partition of the output."""
    routed = os.path.join(out_dir, "routed")
    for root, dirs, _files in sorted(os.walk(routed)):
        if any(d.startswith("sink=") for d in dirs):
            shutil.rmtree(os.path.join(root, sorted(d for d in dirs if d.startswith("sink="))[0]))
            return
    raise RuntimeError(f"no routed partition under {routed}")


def layer_metrics(b: Bench, spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics from the traced operations and their
    refreshes: ingest-side figures are means per operation, query-side
    figures means per refresh."""
    from perfbench.tracer import COUNTERS, summarize

    runs = [s for s in spans if s["name"] == "pipeline.run"]
    n_ops = len(runs)
    n_refreshes = len({s["trace"] for s in spans if "-refresh" in s["trace"]})

    def in_run(s: dict) -> bool:
        while s is not None:
            if s["name"] == "pipeline.run":
                return True
            s = None if s["parent"] is None else spans[s["parent"]]
        return False

    ingest = [s for s in spans if in_run(s)]
    query = [s for s in spans if "-refresh" in s["trace"]]
    out = dict(b.layer)

    def put(prefix: str, name: str, counters=COUNTERS, scope=ingest, per=n_ops) -> None:
        s = summarize(scope, name)
        out[f"{prefix}.s"] = s["s"] / per
        for k in counters:
            out[f"{prefix}.{k}"] = s[k] / per
        if "exec_s" in counters:
            out[f"{prefix}.core_util"] = s["exec_s"] / max(s["s"] * b.nproc, 1e-9)

    put("pipeline.run", "pipeline.run")
    put("pipeline.discover", "pipeline.discover", ("jobs",))
    put("pipeline.transform", "pipeline.transform", ("jobs",))
    for q in ("finalize_rollup", "distinct_docs_per_sink", "trigram_freq_per_sink", "drilldown"):
        put(f"pipeline.{q}", f"pipeline.{q}", ("jobs", "tasks", "exec_s"), query, n_refreshes)
    for m in ("discovery_delta", "pending_work", "append", "read"):
        put(f"checkpoint.{m}", f"checkpoint.{m}", ("jobs",))
    for t in TABLES:
        put(
            f"sources.catalog.write.{t}",
            f"sources.catalog.write.{t}",
            ("jobs", "tasks", "exec_s", "shuffle_bytes", "input_records"),
        )
    put("sources.catalog.delete", "sources.catalog.delete_partitions", ())
    put("sources.catalog.read", "sources.catalog.read", ("jobs",))
    put("sources.catalog.read_files", "sources.catalog.read_files", ())

    run_ids = {s["id"] for s in runs}
    covered = sum(s["wall_s"] for s in spans if s["parent"] in run_ids)
    run_sum = summarize(runs, "pipeline.run")
    out["pipeline.run.span_coverage"] = covered / run_sum["s"]
    increments = summarize(ingest, "sources.catalog.write.routed")["n"]
    out["pipeline.increments"] = increments / n_ops
    out["pipeline.jobs_per_increment"] = run_sum["jobs"] / max(increments, 1)
    n_seq = b.scale["backfill_rows"] if b.args.workload == "backfill" else b.scale["round_rows"]
    out["pipeline.scan_amplification"] = run_sum["input_records"] / (n_seq * n_ops)
    # the traced op's wall; the tracing overhead is this minus the
    # untraced runs' freshness_p50_s (see README.md)
    out["trace.op_wall_s"] = statistics.median(b.freshness)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--corrupt", action="store_true", help="self-test: delete one routed partition before the output check")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ves_spark")):
        print(f"ves_spark/ not found under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.tracer import Tracer

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    nproc, mem_mib = host()
    t0 = time.perf_counter()
    spark = start_session(nproc, mem_mib, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, False, nproc)
        b = Bench(args, spark, tracer, nproc)
        setup = b.setup_backfill if args.workload == "backfill" else b.setup_tail
        run = b.run_backfill if args.workload == "backfill" else b.run_tail
        setup_s = session_s + setup()
        tracer.enabled = bool(args.trace)
        run()
        if args.trace:
            spans = tracer.finish()
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
            metrics = layer_metrics(b, spans)
        else:
            f50 = statistics.median(b.freshness) if b.freshness else float("nan")
            r50 = statistics.median(b.refreshes) if b.refreshes else float("nan")
            ftail, fp, fn = tail_stat(b.freshness or [float("nan")])
            rtail, rp, rn = tail_stat(b.refreshes or [float("nan")])
            metrics = {
                "setup_s": setup_s,
                "ingest_seq_per_s": statistics.median(b.rates) if b.rates else float("nan"),
                "freshness_p50_s": f50,
                "freshness_tail_s": ftail,
                "refresh_p50_s": r50,
                "refresh_tail_s": rtail,
                "output_bytes_per_seq": b.out_bytes_per_seq,
                "peak_rss_mb": peak_rss_mb(spark),
                "ops_ok_frac": 1.0 - b.failed / b.attempted,
            }
            print(f"freshness: n={fn}, tail = p{fp:.1f}; refresh: n={rn}, tail = p{rp:.1f}")
    finally:
        stop_session(spark)
        for name in os.listdir(WORK):
            if not name.startswith("trace-"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    for k, v in metrics.items():
        print(f"{k:42s} {v!r} {unit(k)}")
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if b.failed == 0 else 1


def unit(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("core_util", "fanout", "span_coverage", "scan_amplification")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
