import hashlib
import os

import pyarrow.parquet as pq

from perfbench import gen, sqlgen
from perfbench.check import digest


def _tree_hashes(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(root, seed):
    corpus = gen.dedup_corpus(seed, 60, 3, 5)
    gen.write_tpch(os.path.join(root, "tables"), seed, 0.002, corpus)
    gen.write_reference_catalog(os.path.join(root, "ref"), seed)
    for i, t in enumerate(gen.ingest_shards(seed, corpus, 3, 20, 0.3)):
        gen.write_parquet(t, os.path.join(root, f"shard_{i}.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(tmp_path / "a", 7)
    _write_all(tmp_path / "b", 7)
    _write_all(tmp_path / "c", 8)
    a, b, c = (_tree_hashes(tmp_path / d) for d in "abc")
    assert len(a) == 10 + 5 + 3
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_sql_stream_is_seeded():
    r1, r2, r3 = (sqlgen.rounds(s) for s in (3, 3, 4))
    first = [next(r1) for _ in range(3)]
    assert first == [next(r2) for _ in range(3)]
    assert first != [next(r3) for _ in range(3)]
    shapes = [name for name, _, _ in first[0]]
    assert len(shapes) == len(sqlgen.HEAVY) + len(sqlgen.SHORT) + len(sqlgen.SHORT_EXTRA)
    assert {f.__name__.lstrip("_") for f in sqlgen.HEAVY} <= set(shapes)


def test_corpus_and_shard_ids_split_on_new_mod():
    corpus = gen.dedup_corpus(1, 80, 2, 4)
    old = corpus.column("doc_id").to_pylist()
    assert all(i % gen.NEW_MOD != 0 for i in old) and len(set(old)) == len(old)
    new = [i for s in gen.ingest_shards(1, corpus, 3, 10, 0.5) for i in s.column("doc_id").to_pylist()]
    assert all(i % gen.NEW_MOD == 0 for i in new) and len(set(new)) == len(new)


def test_digest_ignores_row_order_but_not_values(tmp_path):
    t = gen.dedup_corpus(2, 20, 1, 0)
    path = tmp_path / "d.parquet"
    gen.write_parquet(t, str(path))
    back = pq.read_table(path)
    assert digest(t) == digest(back.take(list(reversed(range(back.num_rows)))))
    assert digest(t) != digest(t.slice(1))
