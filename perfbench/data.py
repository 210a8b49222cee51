"""Seeded inputs and reference answers for the benchmark workloads.

Inputs are written with the program's own generator (``ves_spark.synth``)
in a single process. Every part file or growth step holds at most
``MAX_DRAW_ROWS`` rows: the generator draws at most 512 tokens per row,
so no draw reaches the 16 MiB at which ``synth`` pre-faults buffers
from 32 threads, and generation stays on this one thread.

Reference answers come from ``ves_spark.refimpl`` (pure pandas), so the
benchmark checks the Spark pipeline against an independent computation.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from ves_spark import refimpl, synth
from ves_spark.schema import BASE_EPOCH

MAX_DRAW_ROWS = 8000

# Fixed dashboard query set: a few trigrams and one drill-down window.
TRIGRAMS = [[1, 2, 3], [17, 4242, 9], [50000, 7, 7], [123, 456, 789]]
DRILL_SINK = "sink_hot"
DRILL_SOURCE = "src-hot"
DRILL_MINUTES = (0, 20_000)  # [lo, hi) over ts_minute


def write_dims(fix_dir: str) -> None:
    pq.write_table(synth.make_source_meta(), os.path.join(fix_dir, "source_meta.parquet"))
    pq.write_table(synth.make_route_rules(), os.path.join(fix_dir, "route_rules.parquet"))


def seq_dir(fix_dir: str) -> str:
    return os.path.join(fix_dir, "sequences.parquet")


def write_parts(
    fix_dir: str, n_rows: int, rows_per_part: int, seed: int, start_row: int = 0
) -> list[str]:
    """``n_rows`` canonical rows spread over part files of at most
    ``rows_per_part`` rows each; part ``i`` draws from ``seed * 1000 + i``."""
    if rows_per_part > MAX_DRAW_ROWS:
        raise ValueError(f"rows_per_part must be <= {MAX_DRAW_ROWS}")
    os.makedirs(seq_dir(fix_dir), exist_ok=True)
    paths = []
    for i, lo in enumerate(range(0, n_rows, rows_per_part)):
        p = os.path.join(seq_dir(fix_dir), f"part-{i:05d}.parquet")
        n = min(rows_per_part, n_rows - lo)
        synth.write_sequences_file(p, n, seed=seed * 1000 + i, start_row=start_row + lo)
        paths.append(p)
    return paths


def land_round(fix_dir: str, rnd: int, n_rows: int, seed: int, start_row: int, newest: str | None) -> str:
    """One tail round: even rounds land a new part file, odd rounds grow
    the newest one in place. Returns the path that changed."""
    if n_rows > MAX_DRAW_ROWS:
        raise ValueError(f"a round lands at most {MAX_DRAW_ROWS} rows")
    rseed = seed * 1000 + 500 + rnd
    if rnd % 2 == 0 or newest is None:
        return synth.append_sequences(fix_dir, n_rows, seed=rseed, start_row=start_row, name=f"tail-{rnd:04d}")
    return synth.grow_sequences_file(newest, n_rows, seed=rseed, start_row=start_row)


def read_rows(paths: list[str], last_rows: int | None = None) -> pd.DataFrame:
    """The sequences in ``paths`` (only the trailing ``last_rows`` of a
    single file when given: a grown file's new rows)."""
    tables = [pq.read_table(p) for p in paths]
    df = pd.concat([t.to_pandas() for t in tables], ignore_index=True)
    if last_rows is not None:
        df = df.iloc[len(df) - last_rows :].reset_index(drop=True)
    return df


def ref_routed(seq: pd.DataFrame) -> pd.DataFrame:
    meta = synth.make_source_meta().to_pandas()
    rules = synth.make_route_rules().to_pandas()
    return refimpl.ref_route(refimpl.ref_enrich(refimpl.ref_parse(seq), meta), rules)


def ref_rollup_exact(routed: pd.DataFrame) -> dict[tuple, tuple]:
    """(sink, source, time_bucket epoch s) -> (cnt, sum_n_tok, sum_bytes)."""
    df = routed.assign(
        tb=(routed["time_bucket"] - pd.Timestamp(0)) // pd.Timedelta(seconds=1),
        n=routed["n_tok"].astype(np.int64),
    )
    g = df.groupby(["sink", "source", "tb"])
    agg = g.agg(cnt=("n", "size"), sum_n_tok=("n", "sum"))
    return {
        (s, src, int(tb)): (int(r.cnt), int(r.sum_n_tok), int(r.sum_n_tok) * 4)
        for (s, src, tb), r in agg.iterrows()
    }


def ref_drilldown(routed: pd.DataFrame) -> int:
    lo, hi = (BASE_EPOCH + m * 60 for m in DRILL_MINUTES)
    ts = (routed["ts"] - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    m = (routed["sink"] == DRILL_SINK) & (routed["source"] == DRILL_SOURCE) & (ts >= lo) & (ts < hi)
    return int(m.sum())


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's hidden/marker files
    count toward bytes but not toward files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                files += 1
    return total, files
