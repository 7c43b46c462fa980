"""The query half of workload ``operators``: registered batch queries over
a seeded star schema.

The seed generates the tables (in the schema of the repository's test
data) and fixes the order of the queries within a pass. One pass runs
every query in :data:`QUERIES`; one op is one query, from the build call
through a write to the ``noop`` sink. The chunk loop runs here only
inside the chunked queries (a lazy plan union with probes off) and no
persisted store runs.

The warm pass collects every query's rows and checks them: against the
query's DuckDB oracle from ``registry.ORACLES`` (the comparison of
``tests/test_queries_oracle.py``), or, for a query without one, against
invariants its output must satisfy on these inputs.
"""

from __future__ import annotations

import random
import time

import duckdb
import pandas as pd

import gen

#: One registered query per batch-operator module.
QUERIES = (
    "q01_pricing_summary",
    "q23_chunked_update_join",
    "dd07_simhash_pairs",
    "sim03_embedding_near_dup",
    "tx35_substring_dedup",
    "tx27_bpe_fixed_encode",
)
N_ORDERS, N_DOCS, N_VECS = 5_000, 500, 500


class State:
    def __init__(self, ctx) -> None:
        import __spark_entry__  # noqa: F401  (registers every query)
        from dbix_batchchunker_spark.operators.registry import ORACLES, QUERIES as REG

        self.data_dir = ctx.path("in")
        self.tables = gen.star_tables(ctx.seed, N_ORDERS, N_DOCS, N_VECS)
        for name, df in self.tables.items():
            gen.write_parquet(df, ctx.path("in", f"{name}.parquet"))
        self.fns = {q: REG[q] for q in QUERIES}
        self.oracles = {q: ORACLES[q] for q in QUERIES if q in ORACLES}
        self.module = {q: fn.__module__.rsplit(".", 1)[-1] for q, fn in self.fns.items()}
        self.order = list(QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.warm_rows: dict = {}


def warm_pass(ctx, st: State) -> None:
    """One pass that collects the rows the check compares."""
    for q in st.order:
        df = st.fns[q](ctx.spark, st.data_dir)
        st.warm_rows[q] = pd.DataFrame([tuple(r) for r in df.collect()], columns=df.columns)


def iteration(ctx, st: State, k) -> list:
    """One timed pass into the noop sink; returns the op latencies."""
    tracer = ctx.tracer
    ops = []
    for q in st.order:
        t0 = time.perf_counter()
        with tracer.span(f"query.{q}"):
            with tracer.span(f"{st.module[q]}.build"):
                df = st.fns[q](ctx.spark, st.data_dir)
            with tracer.span(f"{st.module[q]}.exec"):
                df.write.format("noop").mode("overwrite").save()
        ops.append(time.perf_counter() - t0)
    return ops


def _check_simhash_pairs(rows: pd.DataFrame, docs: pd.DataFrame) -> bool:
    """Exact duplicate texts have Hamming distance 0, which the operator
    guarantees to find; every reported pair is ordered and within 3."""
    first: dict = {}
    dup_pairs = set()
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for other in first.get(text, ()):
            dup_pairs.add((other, doc_id))
        first.setdefault(text, []).append(doc_id)
    found = {(a, b) for a, b, h in zip(rows["doc_a"], rows["doc_b"], rows["hamming"]) if h == 0}
    return (
        dup_pairs <= found
        and bool((rows["doc_a"] < rows["doc_b"]).all())
        and bool((rows["hamming"] <= 3).all())
    )


_INVARIANTS = {"dd07_simhash_pairs": lambda rows, st: _check_simhash_pairs(rows, st.tables["documents"])}


def check(ctx, st: State):
    from tests.test_queries_oracle import _canon_pdf

    con = duckdb.connect()
    bad = []
    try:
        for name in st.tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{ctx.path('in', name + '.parquet')}')"
            )
        for q, rows in st.warm_rows.items():
            if q in st.oracles:
                want = con.execute(st.oracles[q]).df()
                ok = sorted(rows.columns) == sorted(want.columns) and _canon_pdf(rows) == _canon_pdf(want)
            else:
                ok = _INVARIANTS[q](rows, st)
            if not ok:
                bad.append(q)
    finally:
        con.close()
    return not bad, {
        "order": st.order,
        "oracle_checked": sorted(st.oracles),
        "invariant_checked": sorted(set(QUERIES) - set(st.oracles)),
        "failed_queries": bad,
    }

