"""Seeded generators: reproducible, seed-sensitive, and shaped as the
workloads need (no JVM: the chunk loop runs over DuckDB here)."""

import hashlib

import duckdb
import pyarrow as pa
import pytest

import gen
from chunker_hooks import StatusCounter


def content_hash(*frames):
    """sha256 over the frames' Arrow IPC serialization (schema + values)."""
    h = hashlib.sha256()
    for df in frames:
        table = pa.Table.from_pandas(df, preserve_index=False)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def _inputs(seed):
    facts, dims = gen.backfill_tables(seed, 500)
    corpus = gen.planted_corpus(seed, 200)
    star = gen.star_tables(seed, 1500, 60, 60)
    return {
        "backfill": content_hash(facts, dims),
        "stores": content_hash(corpus.drop1, corpus.drop2, gen.embeddings(seed, 100)),
        "queries": content_hash(*star.values()),
    }


@pytest.mark.parametrize("inputs", ["backfill", "stores", "queries"])
def test_same_seed_same_inputs_other_seed_other_inputs(inputs):
    a, b, c = _inputs(3)[inputs], _inputs(3)[inputs], _inputs(4)[inputs]
    assert a == b
    assert a != c


def test_backfill_table_drives_every_loop_decision():
    _decisions(11)


def _decisions(seed):
    """Replay the backfill loop over DuckDB; assert every decision kind
    occurs and return the per-kind counts."""
    from backfill import CHUNK_SIZE
    from dbix_batchchunker_spark import BatchChunker

    facts, _ = gen.backfill_tables(seed, CHUNK_SIZE)
    con = duckdb.connect()
    con.execute("CREATE TABLE f AS SELECT * FROM facts")
    counter = StatusCounter()
    bc = BatchChunker(
        dbapi_connector=lambda: con,
        stmt="SELECT ? <= ?",
        count_stmt="SELECT COUNT(*) FROM f WHERE id BETWEEN ? AND ?",
        min_stmt="SELECT MIN(id) FROM f",
        max_stmt="SELECT MAX(id) FROM f",
        chunk_size=CHUNK_SIZE,
        target_time=0,
        sleep=0,
        on_message=counter,
    )
    bc.calculate_ranges()
    bc.execute()
    for action in ("processed", "skipped", "shrunk", "expanded"):
        assert counter.counts[action] >= 1, dict(counter.counts)
    assert facts["id"].max() > 5 * len(facts)  # sparse: span well above rows
    assert facts["id"].value_counts().max() == 200  # the 1:N hot ids
    return dict(counter.counts)


def test_backfill_decisions_do_not_depend_on_the_seed():
    assert _decisions(11) == _decisions(12) == _decisions(13)


def test_planted_copies_have_uncopied_sources():
    c = gen.planted_corpus(5, 400)
    text_owner = {}
    for df in (c.drop1, c.drop2):
        for doc_id, text in zip(df["doc_id"], df["text"]):
            if c.is_copy[doc_id]:
                assert not c.is_copy[text_owner[text]]
            else:
                assert text not in text_owner
                text_owner[text] = doc_id
    want = c.expected_results()
    assert (want["n_removed"] + want["n_kept"]).tolist() == [c.n_tokens[i] for i in want["doc_id"]]
    assert not set(c.purge_ids) & {i for i, copy in c.is_copy.items() if copy}
