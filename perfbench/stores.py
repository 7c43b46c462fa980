"""The store half of workload ``operators``: both persisted stores, writes
beside reads.

Gram postings store: a seeded planted corpus in two drops goes through
``onboard_corpus_serial`` (a chunk loop with probes off) into one store,
then a purge, a compact and a read-back of the store's accounting row.
Embedding store: the persisted lifecycle of the ``sim13`` query on seeded
embeddings: save, append of an exact-copy increment, compact with a
purge of the increment's sources, load, and the pair listing from the
reloaded store, written to parquet.

One iteration is both lifecycles on fresh stores. One op is one
``ingest_batch`` call.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd

import gen
from dbix_batchchunker_spark.operators.gram_store import GramPostingsStore, onboard_corpus_serial

N_DOCS = 400
N_VECS = 500
TARGET_CHUNKS = 1


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class TimedGramStore(GramPostingsStore):
    """Times ``ingest_batch``, ``purge``, ``compact`` and ``max_real_batch``
    and forwards each to the store."""

    def __init__(self, *args, tracer, ingest_ops: list, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.ingest_ops = ingest_ops

    def ingest_batch(self, *args, **kwargs):
        t0 = time.perf_counter()
        with self.tracer.span("gram_store.ingest_batch"):
            out = super().ingest_batch(*args, **kwargs)
        self.ingest_ops.append(time.perf_counter() - t0)
        return out

    def purge(self, *args, **kwargs):
        with self.tracer.span("gram_store.purge"):
            return super().purge(*args, **kwargs)

    def compact(self, *args, **kwargs):
        with self.tracer.span("gram_store.compact"):
            return super().compact(*args, **kwargs)

    def max_real_batch(self):
        with self.tracer.span("gram_store.max_real_batch"):
            return super().max_real_batch()


class State:
    def __init__(self, ctx) -> None:
        from pyspark.sql import functions as F

        from dbix_batchchunker_spark.functions.vectors import norm
        from dbix_batchchunker_spark.operators.similarity import SIM11_INC_MOD, SIM11_INC_OFFSET, SIM11_INC_RES

        spark = ctx.spark
        self.corpus = gen.planted_corpus(ctx.seed, N_DOCS)
        c = self.corpus
        self.input_bytes = sum(len(t.encode()) for df in (c.drop1, c.drop2) for t in df["text"])
        read = lambda name, df: spark.read.parquet(  # noqa: E731
            gen.write_parquet(df, ctx.path("in", f"{name}.parquet"))
        )
        self.drop1 = read("drop1", c.drop1)
        self.drop2 = read("drop2", c.drop2)
        self.purge_ids = read("purge", pd.DataFrame({"doc_id": pd.Series(c.purge_ids, dtype="int64")}))
        self.emb_path = gen.write_parquet(gen.embeddings(ctx.seed, N_VECS), ctx.path("in", "embeddings.parquet"))
        self.emb = spark.read.parquet(self.emb_path).withColumn("nrm", norm(F.col("embedding")))
        is_slice = F.col("vec_id") % SIM11_INC_MOD == SIM11_INC_RES
        self.copies = self.emb.where(is_slice).select(
            (F.col("vec_id") + SIM11_INC_OFFSET).alias("vec_id"), "label", "embedding", "nrm"
        )
        self.slice_ids = self.emb.where(is_slice).select("vec_id")
        self.runs: list = []  # per iteration: (result sink, readback row, pairs path)
        self.sizes: dict = {}


def _gram_lifecycle(ctx, st: State, base: str, name: str, ops: list):
    tracer = ctx.tracer
    store = TimedGramStore(ctx.spark, name, os.path.join(base, "postings"), tracer=tracer, ingest_ops=ops).create()
    sink = os.path.join(base, "results")
    try:
        for drop in (st.drop1, st.drop2):
            with tracer.span("gram_store.onboard"):
                onboard_corpus_serial(drop, store, target_chunks=TARGET_CHUNKS, sink_dir=sink)
        store.purge(st.purge_ids)
        store.compact()
        with tracer.span("gram_store.readback"):
            row = store.stats().first().asDict()
        st.sizes["gram_store"] = _dir_size(store.path)
    finally:
        store.drop()
    return sink, row


def _embedding_lifecycle(ctx, st: State, base: str) -> str:
    from pyspark.sql import functions as F

    from dbix_batchchunker_spark.operators import similarity as S

    spark, tracer = ctx.spark, ctx.tracer
    path = os.path.join(base, "emb")
    entries = lambda emb, index: S._probe_entries(emb, index, S.SIM06_NPROBE).select(  # noqa: E731
        F.col("doc_id").alias("vec_id"), F.col("bucket").alias("centroid_id")
    )
    with tracer.span("similarity.store_save"):
        index = S.build_ivf_index(st.emb)
        S.save_embedding_store(path, index, entries(st.emb, index), st.emb)
    with tracer.span("similarity.store_append"):
        loaded = S.load_ivf_index(spark, f"{path}/index")
        S.append_embedding_store(path, entries(st.copies, loaded), st.copies)
    with tracer.span("similarity.store_compact"):
        S.compact_persisted_embedding_store(spark, path, st.slice_ids, n_deleted=index.n_vecs)
    with tracer.span("similarity.store_load"):
        _, entries_live, vectors_live = S.load_embedding_store(spark, path)
    pairs = os.path.join(base, "pairs")
    with tracer.span("similarity.store_pairs"):
        S.store_near_dup_pairs(
            entries_live, vectors_live, n_vecs=S._read_n_vecs(spark, path)
        ).write.parquet(pairs)
    st.sizes["similarity"] = _dir_size(path)
    return pairs


def iteration(ctx, st: State, k) -> list:
    """Both lifecycles on fresh stores; returns the op latencies."""
    base = ctx.path("stores", f"it{k}")
    ops: list = []
    sink, row = _gram_lifecycle(ctx, st, base, f"perfbench_grams_{k}", ops)
    pairs = _embedding_lifecycle(ctx, st, base)
    st.runs.append((sink, row, pairs))
    return ops


def check(ctx, st: State):
    """Per-doc results match the planted closed form, the store's
    accounting row matches the live docs and grams, and the pair listing
    matches the ``sim13`` oracle over the generated embeddings."""
    from dbix_batchchunker_spark.operators.registry import ORACLES
    from tests.test_queries_oracle import _canon_pdf

    want_docs = st.corpus.expected_results()
    want_live = st.corpus.expected_store()
    con = duckdb.connect()
    bad = []
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{st.emb_path}')")
        want_pairs = _canon_pdf(con.execute(ORACLES["sim13_persisted_store_lifecycle"]).df())
        for i, (sink, row, pairs) in enumerate(st.runs):
            got = con.execute(
                f"SELECT doc_id, n_removed, n_kept FROM read_parquet('{sink}/*/*.parquet') ORDER BY doc_id"
            ).df()
            docs_ok = got.astype("int64").equals(want_docs.astype("int64"))
            live_ok = (row["n_docs_live"], row["n_grams_live"]) == want_live and row["n_docs_tombstoned"] == 0
            got_pairs = con.execute(f"SELECT * FROM read_parquet('{pairs}/*.parquet')").df()
            pairs_ok = _canon_pdf(got_pairs) == want_pairs
            if not (docs_ok and live_ok and pairs_ok):
                bad.append({"iteration": i, "docs": docs_ok, "store": live_ok, "pairs": pairs_ok})
    finally:
        con.close()
    return not bad, {
        "iterations_checked": len(st.runs),
        "docs": len(want_docs),
        "removed_docs": int((want_docs["n_removed"] > 0).sum()),
        "live_docs_grams": want_live,
        "pairs": len(want_pairs),
        "failures": bad,
    }


def layer_extras(ctx, st: State) -> dict:
    gb, gf = st.sizes["gram_store"]
    sb, _ = st.sizes["similarity"]
    return {
        "gram_store.bytes": (gb, "bytes"),
        "gram_store.files": (gf, "count"),
        "gram_store.bytes_per_input_byte": (gb / st.input_bytes, "ratio"),
        "similarity.store_bytes": (sb, "bytes"),
    }
