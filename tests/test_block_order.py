"""Stored block format invariants on adversarial doc keys.

A packed block's doc ids must ascend and its (min_doc, max_doc) must be
their decoded extremes: the doc-gap codec and doc-range pruning rely on
both. A doc id is a user key or a hash, not row order, so the build has
to sort postings by doc id itself. Indexes keyed by descending and by
random user keys check that through ``IndexBuilder.verify()``, a direct
decode of every block, and pruned-vs-exhaustive top-k (ground truth,
not one evaluator against another).
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aspublic_spark import cli
from aspublic_spark.index import codec
from aspublic_spark.index.build import IndexBuilder
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.tables import synth_transcripts
from tests.test_incremental import assert_same_index, index_postings

N_TURNS = 3000


def _build(spark, idx, keys):
    pdf = synth_transcripts(spark, N_TURNS, seed=42).toPandas()[["text"]]
    pdf.insert(0, "doc_id", keys.astype(np.int64))
    shutil.rmtree(idx, ignore_errors=True)
    IndexBuilder(
        spark, idx, key_cols=["doc_id"], text_col="text", meta_cols=[],
        n_slices=2, block_size=16,
    ).build(spark.createDataFrame(pdf))
    return idx


@pytest.fixture(scope="module", params=["descending", "random"])
def keyed_idx(request, spark, workdir):
    if request.param == "descending":
        keys = np.arange(N_TURNS, 0, -1) * 1_000
    else:
        keys = np.random.default_rng(5).permutation(N_TURNS) * 7_919 - 10**6
    return _build(spark, os.path.join(workdir, f"keyed_{request.param}_idx"), keys)


def _gen0_blocks(idx) -> pa.Table:
    return pq.read_table(os.path.join(idx, "postings", "gen=0"))


def test_blocks_ascend_with_exact_doc_range(spark, keyed_idx):
    tbl = _gen0_blocks(keyed_idx)
    n = tbl.column("n").to_numpy()
    mn, mx = tbl.column("min_doc").to_numpy(), tbl.column("max_doc").to_numpy()
    gaps = tbl.column("doc_gaps").to_pylist()
    assert (n > 1).sum() > 100  # multi-posting blocks: the check bites
    for i in range(tbl.num_rows):
        ids = codec.delta_decode_docs(gaps[i])
        assert ids.size == n[i]
        assert (np.diff(ids) > 0).all(), i
        assert (ids[0], ids[-1]) == (mn[i], mx[i]), i
    rep = IndexBuilder(spark, keyed_idx).verify()
    assert rep["ok"] and rep["blocks"] == tbl.num_rows, rep
    assert cli.main(["verify", "--index", keyed_idx]) == 0


@pytest.mark.parametrize("q", ["the data", "the and", "data example !query"])
def test_pruned_top_k_equals_exhaustive(spark, keyed_idx, q):
    pruned = SearchEngine(spark, keyed_idx, prune_min_postings=0)
    res = pruned.search(q, k=100)
    got = res.df.collect()
    want = SearchEngine(spark, keyed_idx).search(q, k=100, block_max=False).df.collect()
    assert got == want and got, q  # Row equality includes exact score bits
    assert res.pruning["range_pruned"], res.pruning


@pytest.fixture(scope="module")
def plain_idx(spark, workdir):
    return _build(spark, os.path.join(workdir, "verify_base_idx"), np.arange(N_TURNS) * 3 + 1)


def _corrupt(src, dst, duplicate: bool) -> int:
    """Copy index ``src`` to ``dst`` and damage three blocks of slice 0:
    one block's doc ids descend (same ids, same min/max), one block's
    max_doc overstates its last id and, with ``duplicate``, one block
    is stored twice (its postings duplicate and its group's block_ids
    stop being dense). Returns the duplicated block's posting count."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    slice0 = os.path.join(dst, "postings", "gen=0", "slice=0")
    tbl = pq.read_table(slice0)
    multi = np.flatnonzero(tbl.column("n").to_numpy() > 1)
    rev, wide, dup = (int(i) for i in multi[:3])
    rows = tbl.to_pylist()
    ids = codec.delta_decode_docs(rows[rev]["doc_gaps"])
    rows[rev]["doc_gaps"] = codec.delta_encode_docs(ids[::-1])
    rows[wide]["max_doc"] += 1
    if duplicate:
        rows.append(dict(rows[dup]))
    for f in os.listdir(slice0):
        if f.endswith(".parquet"):
            os.remove(os.path.join(slice0, f))
    pq.write_table(
        pa.Table.from_pylist(rows, schema=tbl.schema), os.path.join(slice0, "part-0.parquet")
    )
    return int(rows[dup]["n"])


def test_verify_counts_each_violation(spark, workdir, plain_idx):
    """verify() is not vacuous: one corruption per invariant, each
    counted exactly once."""
    idx = os.path.join(workdir, "verify_corrupt_idx")
    n_dup = _corrupt(plain_idx, idx, duplicate=True)
    rep = IndexBuilder(spark, idx).verify()
    assert rep == {
        "blocks": _gen0_blocks(plain_idx).num_rows + 1,
        "blocks_out_of_order": 1,
        "blocks_bad_range": 1,
        "duplicate_postings": n_dup,
        "groups_bad_block_ids": 1,
        "ok": False,
    }, rep
    assert cli.main(["verify", "--index", idx]) == 1


def test_compact_repairs_block_order(spark, workdir, plain_idx):
    """The repair path verify() names: compact() re-cuts every posting
    sorted by doc, also on a single generation at the same slicing."""
    idx = os.path.join(workdir, "verify_repair_idx")
    _corrupt(plain_idx, idx, duplicate=False)
    b = IndexBuilder(spark, idx)
    before = b.verify()
    assert (before["blocks_out_of_order"], before["blocks_bad_range"]) == (1, 1)
    # the re-cut keeps every decoded posting (as stored, so the
    # reversed block's ids keep their misassigned tfs) in valid blocks
    stored = index_postings(idx)
    assert b.compact()["compacted"]
    assert index_postings(idx) == stored
    assert IndexBuilder(spark, idx).verify()["ok"]
    # an intact single generation re-cuts to the index it was
    intact = os.path.join(workdir, "verify_recut_idx")
    shutil.rmtree(intact, ignore_errors=True)
    shutil.copytree(plain_idx, intact)
    assert IndexBuilder(spark, intact).compact()["compacted"]
    assert_same_index(spark, intact, plain_idx)
