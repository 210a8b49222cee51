"""In-memory span tracer for the benchmark.

Spans are recorded from outside the program: the benchmark wraps the
public methods of one ``Pipeline`` instance and of the ``LineageStore``
and catalog instances it owns, and opens spans around its own calls
(finalize, sketch merges, probes). Every span runs under its own Spark
job group, so the jobs, stages and task counters Spark records for it
can be attributed after the fact from the status tracker and the
status store. Nothing is written until :meth:`Tracer.dump`.

A disabled tracer (``enabled=False``) keeps no spans and sets no job
groups: the untraced runs measure the program alone.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

# Public methods wrapped on each instance. LineageStore.read and
# catalog reads return lazy frames: their span is the planning work
# (file listing, schema resolution) done at call time; jobs they feed
# run inside the caller's span.
PIPELINE_METHODS = ("run", "discover", "transform")
STORE_METHODS = (
    "append",
    "read",
    "discovery_delta",
    "pending_work",
    "batch_files",
    "batch_sources",
    "claims_by_paths",
    "record_ingest",
    "record_append_batch",
    "record_retire",
    "read_stat_cache",
    "write_stat_cache",
)
CATALOG_METHODS = ("read", "read_files", "delete_partitions", "overwrite_partitions")

COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "exec_s",
    "shuffle_bytes",
    "spill_bytes",
    "input_records",
)


class Tracer:
    def __init__(self, spark, enabled: bool, nproc: int):
        self.spark = spark
        self.enabled = enabled
        self.nproc = nproc
        self.spans: list[dict] = []
        self.trace_id = ""
        self._stack: list[int] = []

    def new_trace(self, trace_id: str) -> None:
        """Spans opened from now on belong to ``trace_id`` (one run,
        round or refresh)."""
        self.trace_id = trace_id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "trace": self.trace_id,
            "parent": parent,
            "group": f"perfbench-{sid}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])

    def wrap(self, obj, methods, prefix: str) -> None:
        """Shadow ``obj``'s bound methods with span-recording wrappers
        (recording only while the tracer is enabled). A write span is
        named after its table."""
        for m in methods:
            fn = getattr(obj, m)
            label = f"{prefix}.{m}"
            if m == "overwrite_partitions":
                label = None

            @functools.wraps(fn)
            def wrapper(*a, __fn=fn, __label=label, **kw):
                name = __label or f"{prefix}.write.{a[1] if len(a) > 1 else kw['name']}"
                with self.span(name):
                    return __fn(*a, **kw)

            setattr(obj, m, wrapper)

    # ---------------------------------------------------------- counters
    def _collect_counters(self) -> dict[str, dict]:
        """Per job group: Spark's counters summed over its jobs."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is filled by an asynchronous listener
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = {}
        for rec in self.spans:
            c = dict.fromkeys(COUNTERS, 0)
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                job = store.job(jid)
                c["jobs"] += 1
                c["tasks"] += job.numTasks()
                c["failed_tasks"] += job.numFailedTasks()
                it = job.stageIds().iterator()
                while it.hasNext():
                    st = _stage(store, it.next())
                    if st is None:
                        continue  # skipped stage: its shuffle was reused
                    c["exec_s"] += st.executorRunTime() / 1000.0
                    c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["input_records"] += st.inputRecords()
            out[rec["group"]] = c
        return out

    def finish(self) -> list[dict]:
        """Attach Spark counters, inclusive of descendant spans, to
        every span and return the span list."""
        own = self._collect_counters()
        children: dict[int, list[int]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec["id"])

        def total(sid: int) -> dict:
            acc = dict(own[self.spans[sid]["group"]])
            for ch in children.get(sid, []):
                for k, v in total(ch).items():
                    acc[k] += v
            return acc

        for rec in self.spans:
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["wall_s"] - sum(
                self.spans[ch]["end"] - self.spans[ch]["start"]
                for ch in children.get(rec["id"], [])
            )
            rec.update(total(rec["id"]))
            rec["core_util"] = rec["exec_s"] / max(rec["wall_s"] * self.nproc, 1e-9)
        return self.spans

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _stage(store, stage_id: int):
    from py4j.protocol import Py4JJavaError

    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None


def summarize(spans: list[dict], name: str) -> dict:
    """Occurrence count, wall seconds and counters summed over the
    spans called ``name``."""
    sel = [s for s in spans if s["name"] == name]
    out = {"n": len(sel), "s": sum(s["wall_s"] for s in sel)}
    for k in COUNTERS:
        out[k] = sum(s[k] for s in sel)
    return out
