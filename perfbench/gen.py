"""Seeded input generators for the benchmark workloads.

Every generator takes a ``seed`` and returns plain Python/NumPy/pandas data;
the same seed always yields byte-identical inputs. Nothing here touches
Spark: the workloads write these frames to parquet and the program under
test only ever sees the parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: The 31-word vocabulary of the repository's synthetic test corpus.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

#: Gram width of the postings store (``operators.text._SSD_N``).
GRAM_N = 4


def write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


# --------------------------------------------------------------------------- #
# backfill: a sparse keyed table for the chunked UPDATE ... JOIN              #
# --------------------------------------------------------------------------- #
#: The backfill key layout in units of the chunk size: (kind, units).
#: The skeleton is fixed so the loop makes the same decisions for every
#: seed; seeds vary the data, not the shape of the workload.
BACKFILL_SKELETON = (
    ("dense", 3.0),
    ("gap", 50.0),
    ("sparse", 4.0),
    ("dense", 3.0),
)


def backfill_ids(
    seed: int, chunk: int, n_hot: int = 20, hot_rows: int = 200
) -> np.ndarray:
    """Sorted row ids (one per row; hot ids repeat) laid out along
    :data:`BACKFILL_SKELETON`: dense runs (consecutive ids), a sparse run
    (every 50th id), wide gaps, and ``n_hot`` ids carrying ``hot_rows``
    rows each (the 1:N case), picked by the seed from a window of a fifth
    of a chunk early in the second chunk of the first dense run. At that
    position the loop takes the same decisions whichever ids the seed
    picks (``tests/test_gen.py`` checks the decision mix)."""
    rng = np.random.default_rng(seed)
    parts: list = []
    cursor = 1
    for kind, units in BACKFILL_SKELETON:
        n = int(units * chunk)
        if kind == "dense":
            parts.append(cursor + np.arange(n))
        elif kind == "sparse":
            parts.append(cursor + np.arange(0, n, 50))
        cursor += n
    ids = np.concatenate(parts)
    first = parts[0]
    lo = chunk + chunk // 10
    hot = first[lo + np.sort(rng.choice(chunk // 5, size=n_hot, replace=False))]
    return np.sort(np.concatenate([ids, np.repeat(hot, hot_rows - 1)]))


def backfill_tables(
    seed: int, chunk: int, n_dims: int = 1000
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(facts, dims): ``facts(id, dim_key, val)`` over the sparse key and
    the small dimension ``dims(dim_key, mult, add)`` it is updated from."""
    ids = backfill_ids(seed, chunk)
    rng = np.random.default_rng([seed, 1])
    facts = pd.DataFrame(
        {
            "id": ids.astype("int64"),
            "dim_key": rng.integers(0, n_dims, size=len(ids)).astype("int32"),
            "val": rng.integers(0, 1_000_000, size=len(ids)).astype("int64"),
        }
    )
    dims = pd.DataFrame(
        {
            "dim_key": np.arange(n_dims, dtype="int32"),
            "mult": rng.integers(1, 10, size=n_dims).astype("int64"),
            "add": rng.integers(-500, 500, size=n_dims).astype("int64"),
        }
    )
    return facts, dims


# --------------------------------------------------------------------------- #
# stores: a planted corpus with a closed-form dedup result                    #
# --------------------------------------------------------------------------- #
@dataclass
class PlantedCorpus:
    """Two corpus drops. Base docs use per-doc-unique tokens (``word#id``)
    so no gram is shared by accident; copy docs repeat an earlier base
    doc's text exactly. Every copy is therefore removed in full and every
    base doc is kept in full, wherever the chunk boundaries fall."""

    drop1: pd.DataFrame  # doc_id, text
    drop2: pd.DataFrame
    is_copy: dict  # doc_id -> bool
    n_tokens: dict  # doc_id -> int
    purge_ids: list  # drop-1 base docs tombstoned after both drops

    def expected_results(self) -> pd.DataFrame:
        ids = sorted(self.n_tokens)
        nt = np.array([self.n_tokens[i] for i in ids])
        copy = np.array([self.is_copy[i] for i in ids]) & (nt > 0)
        return pd.DataFrame(
            {
                "doc_id": ids,
                "n_removed": np.where(copy, nt, 0),
                "n_kept": np.where(copy, 0, nt),
            }
        )

    def expected_store(self) -> tuple[int, int]:
        """(live docs, live grams) of the store after purge + compact."""
        purged = set(self.purge_ids)
        docs = grams = 0
        for df in (self.drop1, self.drop2):
            for doc_id, text in zip(df["doc_id"], df["text"]):
                toks = text.split()
                if self.is_copy[doc_id] or not toks or doc_id in purged:
                    continue
                docs += 1
                grams += len(
                    {
                        " ".join(toks[i : i + GRAM_N])
                        for i in range(max(len(toks) - GRAM_N, 0) + 1)
                    }
                )
        return docs, grams


#: Drop-2 doc ids start here (ids are never reused across drops).
DROP2_OFFSET = 1_000_000_000


def planted_corpus(
    seed: int, n_docs: int, copy_share: float = 0.2, purge_share: float = 0.05
) -> PlantedCorpus:
    rng = np.random.default_rng([seed, 2])
    n1 = n_docs // 2
    all_ids = list(range(n1)) + [DROP2_OFFSET + i for i in range(n_docs - n1)]
    texts: dict = {}
    is_copy: dict = {}
    bases: list = []
    for doc_id in all_ids:
        if bases and rng.random() < copy_share:
            src = bases[int(rng.integers(0, len(bases)))]
            texts[doc_id], is_copy[doc_id] = texts[src], True
            continue
        n = int(rng.integers(2, 40))
        words = rng.choice(VOCAB, size=n)
        texts[doc_id] = " ".join(f"{w}#{doc_id}" for w in words)
        is_copy[doc_id] = False
        bases.append(doc_id)
    frame = lambda ids: pd.DataFrame(  # noqa: E731
        {"doc_id": np.array(ids, dtype="int64"), "text": [texts[i] for i in ids]}
    )
    base1 = [i for i in all_ids[:n1] if not is_copy[i]]
    n_purge = max(1, int(len(base1) * purge_share))
    purge = sorted(int(i) for i in rng.choice(base1, size=n_purge, replace=False))
    return PlantedCorpus(
        drop1=frame(all_ids[:n1]),
        drop2=frame(all_ids[n1:]),
        is_copy=is_copy,
        n_tokens={i: len(texts[i].split()) for i in all_ids},
        purge_ids=purge,
    )


def embeddings(seed: int, n: int, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    """``embeddings(vec_id, embedding, label)``: unit-norm float32 vectors,
    the schema of the repository's test embeddings."""
    rng = np.random.default_rng([seed, 3])
    v = rng.standard_normal((n, dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(v),
            "label": rng.integers(0, labels, size=n).astype("int32"),
        }
    )


# --------------------------------------------------------------------------- #
# queries: a small star schema plus documents and embeddings                  #
# --------------------------------------------------------------------------- #
def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pd.Series:
    return pd.Series(
        pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, size=n), "D")
    ).astype("datetime64[us]")


def documents(seed: int, n: int, dup_share: float = 0.02) -> pd.DataFrame:
    """``documents(doc_id, text, lang, source, n_chars)`` with a seeded
    share of exact copies of earlier docs, so the dedup operators have
    duplicates to find."""
    rng = np.random.default_rng([seed, 4])
    texts: list = []
    for i in range(n):
        if i and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], size=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def star_tables(seed: int, n_orders: int, n_docs: int, n_vecs: int) -> dict:
    """The tables the query mix reads, in the test data's schema."""
    rng = np.random.default_rng([seed, 5])
    n_cust, n_part, n_supp = n_orders // 10, n_orders // 8, max(10, n_orders // 150)
    region = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"],
                size=n_cust,
            ),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["small", "red", "blue", "green", "large"], size=n_part),
                    rng.choice(["ring", "widget", "bolt", "gear", "pipe"], size=n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"], size=n_part),
            "p_size": rng.integers(1, 51, size=n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, size=n_orders).astype("int64"),
            "o_orderstatus": rng.choice(["P", "F", "O"], size=n_orders),
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                size=n_orders,
            ),
        }
    )
    lines = rng.integers(1, 8, size=n_orders)
    n_li = int(lines.sum())
    lineitem = pd.DataFrame(
        {
            "l_orderkey": np.repeat(orders["o_orderkey"].values, lines),
            "l_partkey": rng.integers(0, n_part, size=n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, size=n_li).astype("int64"),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32"),
            "l_quantity": rng.integers(1, 51, size=n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
            "l_linestatus": rng.choice(["F", "O"], size=n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents(seed, n_docs),
        "embeddings": embeddings(seed, n_vecs),
    }
