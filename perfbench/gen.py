"""Seeded input generators.

Every generator takes a seed and writes only under the directory it is
given. The same seed gives byte-identical files: all randomness comes
from ``numpy.random.default_rng((seed, stream))`` with a fixed stream
number per table, and files are written with fixed writer options.

What is generated:

- ``write_tpch``: the ten tables ``catalog.register_views`` loads
  (TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), with the same column names and types as the
  project's test corpus.
- ``write_reference_catalog``: the reference engine's source format, a
  ``metadata.txt`` catalog plus headerless integer CSVs in which some
  values are double-quoted (as in the reference's ``table2.csv``).
- ``dedup_corpus``: random documents over a 30-word vocabulary,
  replicated with mutually non-duplicate token suffixes, plus planted
  near-duplicate and containment clusters.
- ``ingest_shards``: shards of new documents, some of them
  near-duplicates of corpus documents.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "error", "login")

# Corpus ids are never, ingested ids always, 0 modulo NEW_MOD: the
# split the registered incremental-dedup oracle uses.
NEW_MOD = 10

_EPOCH = np.datetime64("1992-01-01", "us")


def stream_rng(seed: int, stream: int) -> np.random.Generator:
    """The generator for one input stream of one seed."""
    return np.random.default_rng((seed, stream))


def write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100), n, endpoint=True) / 100.0


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return _EPOCH + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


# ----------------------------------------------------------------- documents


def random_texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    """``n`` texts of ``lo``..``hi`` words drawn uniformly from VOCAB."""
    lens = rng.integers(lo, hi, n, endpoint=True)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return out


def near_dup(rng: np.random.Generator, text: str) -> str:
    """A variant of ``text`` with one word changed and one of its words
    appended: for a 45+ word text the 3-gram Jaccard to the original
    stays above 0.8."""
    w = text.split(" ")
    i, j = (int(x) for x in rng.integers(0, len(w), 2))
    w[i] += "x"
    w.append(w[j])
    return " ".join(w)


def documents_table(ids, texts, rng: np.random.Generator) -> pa.Table:
    """``documents`` schema: doc_id, text, lang, source, n_chars."""
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def dedup_corpus(seed: int, base_docs: int, replicas: int, clusters: int) -> pa.Table:
    """The curation corpus.

    ``base_docs`` random documents are replicated ``replicas`` times;
    every token of replica k > 0 gets the suffix ``k``, so replicas
    never duplicate each other and duplicate density stays constant as
    volume grows. Then ``clusters`` planted clusters: each takes a long
    document and adds two to four near-duplicates of it plus one
    document made of its first 70% of words (a containment pair).
    Every id is 1 modulo NEW_MOD."""
    rng = stream_rng(seed, 1)
    base = random_texts(rng, base_docs)
    texts: list[str] = []
    for k in range(replicas):
        texts.extend(base if k == 0 else [" ".join(f"{w}{k}" for w in t.split(" ")) for t in base])
    long_ids = [i for i, t in enumerate(base) if t.count(" ") >= 45]
    for src in rng.choice(long_ids, clusters, replace=False):
        text = base[int(src)]
        texts.extend(near_dup(rng, text) for _ in range(int(rng.integers(2, 5))))
        w = text.split(" ")
        texts.append(" ".join(w[: int(len(w) * 0.7)]))
    return documents_table([NEW_MOD * i + 1 for i in range(len(texts))], texts, rng)


def ingest_shards(seed: int, corpus: pa.Table, shards: int, docs_per_shard: int, dup_share: float) -> list[pa.Table]:
    """Shards of new documents for streaming ingest against ``corpus``.
    ``dup_share`` of each shard are near-duplicates of random long
    corpus documents, the rest are fresh random documents. New ids are
    multiples of NEW_MOD, so the one-shot ``incremental_jaccard_pairs``
    over corpus ∪ shards (new = id % NEW_MOD == 0) is the reference
    answer for the union of the per-shard stream outputs."""
    rng = stream_rng(seed, 2)
    texts = corpus.column("text").to_pylist()
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 45]
    n_dup = int(round(docs_per_shard * dup_share))
    out = []
    for s in range(shards):
        new = [near_dup(rng, texts[int(i)]) for i in rng.choice(long_ids, n_dup)]
        new += random_texts(rng, docs_per_shard - n_dup)
        new = [new[int(i)] for i in rng.permutation(docs_per_shard)]
        ids = [NEW_MOD * (s * docs_per_shard + j + 1) for j in range(docs_per_shard)]
        out.append(documents_table(ids, new, rng))
    return out


# ------------------------------------------------------------ TPC-H tables


def write_tpch(out_dir: str, seed: int, sf: float, documents: pa.Table) -> dict:
    """Write the ten catalog tables under ``out_dir`` at scale ``sf``
    (sf 1 = 6M lineitems) and return {table: {"rows", "bytes"}}.
    ``documents`` is written as given; ``events`` and ``embeddings``
    are registered by the catalog but never scanned, so they stay at a
    fixed small size."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    rng = stream_rng(seed, 10)
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
        }
    )
    rng = stream_rng(seed, 11)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    rng = stream_rng(seed, 12)
    adj = ("large", "small", "hot", "cold", "shiny", "matte")
    noun = ("ring", "bolt", "gear", "nut", "pipe", "valve")
    kinds = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 6, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(kinds, n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 20_000) / 10.0),
        }
    )
    rng = stream_rng(seed, 13)
    odate = _dates(rng, n_ord, 365 * 7)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(("O", "F", "P"), n_ord).tolist()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 400_000.0, n_ord)),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
        }
    )
    rng = stream_rng(seed, 14)
    per_order = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(lkey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[lkey] + rng.integers(1, 122, n_li).astype("timedelta64[D]").astype("timedelta64[us]")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lkey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * _money(rng, 900.0, 2000.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li).tolist()),
            "l_linestatus": pa.array(rng.choice(("O", "F"), n_li).tolist()),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    rng = stream_rng(seed, 15)
    n_ev = 1000
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(rng.integers(1, 60_000_000, n_ev)).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2000, n_ev)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
            "value": pa.array(_money(rng, 0.0, 500.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    rng = stream_rng(seed, 16)
    n_emb = 200
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(
                list(rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 4, n_emb, dtype=np.int32)),
        }
    )
    tables["documents"] = documents

    return {
        name: {"rows": t.num_rows, "bytes": write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))}
        for name, t in tables.items()
    }


# ------------------------------------------------------- reference catalog

# (name, columns, rows): the reference's four-table layout, scaled up.
REF_TABLES = (
    ("table1", ("A", "B", "C"), 4000),
    ("table2", ("B", "D"), 3000),
    ("table3", ("A", "B", "C"), 2000),
    ("table4", ("B", "D"), 1000),
)
# Column B is the join key of every table; it is drawn from a small
# range so implicit joins on B match a few rows each.
KEY_RANGE = 500
VALUE_RANGE = 20_000


def write_reference_catalog(out_dir: str, seed: int) -> dict:
    """``metadata.txt`` plus one headerless CSV per table; roughly one
    value in five is double-quoted. Returns {table: {"rows", "bytes"}}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = stream_rng(seed, 20)
    meta = []
    sizes = {}
    for name, cols, rows in REF_TABLES:
        meta += ["<begin_table>", name, *cols, "<end_table>"]
        vals = rng.integers(-VALUE_RANGE, VALUE_RANGE, (rows, len(cols)))
        vals[:, cols.index("B")] = rng.integers(0, KEY_RANGE, rows)
        quoted = rng.random((rows, len(cols))) < 0.2
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w", encoding="ascii", newline="") as fh:
            for r in range(rows):
                fh.write(
                    ",".join(
                        f'"{v}"' if q else str(v) for v, q in zip(vals[r].tolist(), quoted[r])
                    )
                    + "\n"
                )
        sizes[name] = {"rows": rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "metadata.txt"), "w", encoding="ascii", newline="") as fh:
        fh.write("\n".join(meta) + "\n")
    return sizes


def date_literal(days_after_epoch: int) -> str:
    """'YYYY-MM-DD' for a day offset from the generated calendar's start."""
    return (dt.date(1992, 1, 1) + dt.timedelta(days=int(days_after_epoch))).isoformat()
