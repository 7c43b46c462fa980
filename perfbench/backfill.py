"""Workload ``backfill``: the paper's core job, a chunked UPDATE ... JOIN.

A seeded sparse fact table (dense runs, sparse runs, wide gaps, hot ids
carrying many rows) is updated from a small dimension table one id range
at a time: ``BatchChunker`` with the default COUNT probe and
``min_chunk_percent``, ``target_time=0`` (so every pass makes the same
decisions), ``sleep=0`` and status lines on. Each chunk is a broadcast
join to the dimension followed by a parquet append to the pass's sink.

One iteration is one full pass over the table. One op is one processed
chunk, timed from the previous ``coderef`` return (or from ``execute()``
start) to this chunk's ``coderef`` return, so it includes the chunk's
probes, skips and resizes. Items are id-rows written.
"""

from __future__ import annotations

import os
import time

import duckdb

import gen
from chunker_hooks import StatusCounter

CHUNK_SIZE = 5_000
#: Untimed passes in set-up. A fresh JVM's first pass is about twice as
#: slow as its second, and passes keep getting faster for about eight
#: more; later passes sit on the flatter part of that curve.
WARM_PASSES = 2
#: Timed passes per run (at least; see run.measure): 40 ops, enough for a
#: p75 tail with ten samples beyond it.
MIN_ITERATIONS = 5


class State:
    def __init__(self, ctx) -> None:
        from pyspark.sql import functions as F

        facts, dims = gen.backfill_tables(ctx.seed, CHUNK_SIZE)
        self.n_rows = len(facts)
        self.facts_path = gen.write_parquet(facts, ctx.path("in", "facts.parquet"))
        self.dims_path = gen.write_parquet(dims, ctx.path("in", "dims.parquet"))
        spark = ctx.spark
        self.facts = spark.read.parquet(self.facts_path)
        self.dims = F.broadcast(spark.read.parquet(self.dims_path))
        self.sinks: list = []
        self.counters: list = []


def _update(chunk_df, dims):
    from pyspark.sql import functions as F

    return chunk_df.join(dims, "dim_key").select(
        "id", "dim_key", (F.col("val") * F.col("mult") + F.col("add")).alias("val")
    )


def run_pass(ctx, st: State, sink: str) -> list:
    """One full chunked pass into ``sink``; returns the op latencies."""
    from dbix_batchchunker_spark import BatchChunker

    tracer = ctx.tracer
    ops: list = []
    mark = [0.0]

    def coderef(bc, chunk_df) -> None:
        out = _update(chunk_df, st.dims)
        with tracer.span("sink.write"):
            out.write.mode("append").parquet(sink)
        now = time.perf_counter()
        ops.append(now - mark[0])
        mark[0] = now

    counter = StatusCounter()
    bc = BatchChunker(
        df=st.facts,
        id_name="id",
        coderef=coderef,
        chunk_size=CHUNK_SIZE,
        target_time=0,
        sleep=0,
        on_message=counter,
    )
    bc.calculate_ranges()
    mark[0] = time.perf_counter()
    bc.execute()
    st.sinks.append(sink)
    st.counters.append(counter)
    return ops


def setup(ctx) -> State:
    st = State(ctx)
    for k in range(WARM_PASSES):
        run_pass(ctx, st, ctx.path("sink", f"warm{k}"))
    return st


def iteration(ctx, st: State, k: int):
    ops = run_pass(ctx, st, ctx.path("sink", f"pass{k}"))
    return ops, st.n_rows


_CHECKSUM = "count(*) AS n, sum(id) AS s, sum((id * 7919 + val) % 1000000007) AS c"


def check(ctx, st: State):
    """Every pass's sink equals the one-shot SQL update of the input, by
    row count and checksum; every pass made the same loop decisions."""
    con = duckdb.connect()
    try:
        want = con.execute(
            f"SELECT {_CHECKSUM} FROM (SELECT f.id, f.val * d.mult + d.add AS val "
            f"FROM read_parquet('{st.facts_path}') f "
            f"JOIN read_parquet('{st.dims_path}') d USING (dim_key))"
        ).fetchone()
        got = [
            con.execute(
                f"SELECT {_CHECKSUM} FROM read_parquet('{os.path.join(s, '*.parquet')}')"
            ).fetchone()
            for s in st.sinks
        ]
    finally:
        con.close()
    decisions = {tuple(sorted(c.counts.items())) for c in st.counters}
    ok = all(g == want for g in got) and len(decisions) == 1
    return ok, {
        "rows": want[0],
        "sinks_checked": len(got),
        "sinks_mismatched": sum(g != want for g in got),
        "decisions": dict(st.counters[0].counts),
        "decisions_repeat": len(decisions) == 1,
    }


def layer_extras(ctx, st: State) -> dict:
    """Sink size of the last pass."""
    files = [f for f in os.listdir(st.sinks[-1]) if f.endswith(".parquet")]
    size = sum(os.path.getsize(os.path.join(st.sinks[-1], f)) for f in files)
    return {"sink.bytes": (size, "bytes"), "sink.files": (len(files), "count")}
