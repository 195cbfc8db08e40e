"""The benchmark's own tests: seeded inputs are byte-identical for one
seed and differ between seeds; the tail rule keeps ten samples beyond.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

import gen
from common import tail

SMALL = gen.StarSizes(customers=60, suppliers=5, parts=80, orders=300)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, root: str) -> dict[str, str]:
    star_dir = os.path.join(root, "star")
    gen.write_star(seed, SMALL, star_dir)
    star = gen.star_tables(seed, SMALL)
    gen.write_drop(seed, 0, star, 500, os.path.join(root, "drop0"))
    texts = gen.corpus_texts(seed, 50)
    gen.write_parquet(gen.documents_table(seed, np.arange(50), texts),
                      os.path.join(root, "docs", "documents.parquet"))
    ids, batch = gen.near_dup_batch(seed, 0, texts, 10, 1000)
    gen.write_parquet(gen.documents_table(seed, ids, batch),
                      os.path.join(root, "docs", "batch.parquet"))
    vecs, labels = gen.embedding_matrix(seed, 40)
    gen.write_parquet(gen.embeddings_table(np.arange(40), vecs, labels),
                      os.path.join(root, "vec", "embeddings.parquet"))
    q = gen.query_vectors(seed, 0, vecs, 4)
    gen.write_parquet(gen.embeddings_table(np.arange(4), q, np.zeros(4, np.int32)),
                      os.path.join(root, "vec", "queries.parquet"))
    gen.write_parquet(gen.dml_table(gen.dml_base(seed, 200)),
                      os.path.join(root, "dml", "sales.parquet"))
    return _digest(root)


def test_same_seed_writes_identical_bytes(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    assert len(a) == 15
    assert a == b


def test_different_seeds_write_different_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(8, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    fixed = {"star/region.parquet", "star/nation.parquet"}
    for name in a.keys() - fixed:
        assert a[name] != b[name], name


def test_drop_accounts_for_injected_dirt(tmp_path):
    star = gen.star_tables(3, SMALL)
    d = gen.write_drop(3, 0, star, 1000, str(tmp_path))
    assert d.staged_rows == 1000
    assert 0 < d.expected_rejects < d.staged_rows
    assert d.expected_fact_rows + d.dropped_rows <= d.staged_rows


def test_tail_keeps_ten_samples_beyond():
    assert tail(list(range(10))) is None
    value, pct, n = tail(list(range(100)))
    assert (value, n) == (89, 100)
    assert sum(1 for x in range(100) if x > value) == 10
    assert pct == 90.0
