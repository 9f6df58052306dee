"""Stored block format invariants on adversarial doc keys.

A packed block's doc ordinals must ascend and its (min_doc, max_doc)
must be their decoded extremes: the doc-gap codec and doc-range pruning
rely on both. An ordinal is a doc's rank by doc_id within its
(generation, slice), and a doc id is a user key or a hash, not row
order, so the build has to rank and sort by doc id itself. Indexes
keyed by descending and by random user keys (the random one with
empty-text docs interleaved, which take ordinals but hold no postings)
check that through ``IndexBuilder.verify()``, a direct decode of every
block, and pruned-vs-exhaustive top-k (ground truth, not one evaluator
against another).
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
from tests.test_incremental import assert_dense_ordinals, assert_same_index, index_postings

N_TURNS = 3000


def _build(spark, idx, keys, empty_every=0):
    pdf = synth_transcripts(spark, N_TURNS, seed=42).toPandas()[["text"]]
    pdf.insert(0, "doc_id", keys.astype(np.int64))
    if empty_every:
        pdf.loc[:: empty_every, "text"] = ""
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
        return _build(spark, os.path.join(workdir, "keyed_descending_idx"), keys)
    keys = np.random.default_rng(5).permutation(N_TURNS) * 7_919 - 10**6
    return _build(spark, os.path.join(workdir, "keyed_random_idx"), keys, empty_every=5)


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
    assert not any(v for k, v in rep.items() if k not in ("blocks", "ok")), rep
    assert cli.main(["verify", "--index", keyed_idx]) == 0
    assert_dense_ordinals(keyed_idx)


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
    one block's ordinals descend (same ords, same min/max), one block's
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
        "docs_bad_ordinals": 0,
        "postings_without_doc": 0,
        "ok": False,
    }, rep
    assert cli.main(["verify", "--index", idx]) == 1


def _rewrite_parquet(path, tbl):
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            os.remove(os.path.join(path, f))
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


def test_verify_counts_ordinal_violations(spark, workdir, plain_idx):
    """One corruption per ordinal invariant, each counted exactly and
    each alone making ``cli verify`` exit 1: a docs row repeated (its
    slice's ordinals stop being 0..n-1: one bad doc) and a one-posting
    block moved to an ordinal past its slice's docs (a posting without
    a doc)."""
    base = {
        "blocks": _gen0_blocks(plain_idx).num_rows,
        "blocks_out_of_order": 0,
        "blocks_bad_range": 0,
        "duplicate_postings": 0,
        "groups_bad_block_ids": 0,
        "docs_bad_ordinals": 0,
        "postings_without_doc": 0,
        "ok": False,
    }
    idx = os.path.join(workdir, "verify_ord_docs_idx")
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(plain_idx, idx)
    docs_dir = os.path.join(idx, "docs", "gen=0")
    docs = pq.read_table(docs_dir)
    _rewrite_parquet(docs_dir, pa.concat_tables([docs, docs.slice(7, 1)]))
    assert IndexBuilder(spark, idx).verify() == {**base, "docs_bad_ordinals": 1}
    assert cli.main(["verify", "--index", idx]) == 1

    idx = os.path.join(workdir, "verify_ord_post_idx")
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(plain_idx, idx)
    slice0 = os.path.join(idx, "postings", "gen=0", "slice=0")
    rows = pq.read_table(slice0).to_pylist()
    one = next(r for r in rows if r["n"] == 1)
    past = int((docs.column("slice").to_numpy() == 0).sum()) + 100
    one["doc_gaps"] = codec.delta_encode_docs(np.array([past]))
    one["min_doc"] = one["max_doc"] = past
    _rewrite_parquet(slice0, pa.Table.from_pylist(rows, schema=pq.read_table(slice0).schema))
    assert IndexBuilder(spark, idx).verify() == {**base, "postings_without_doc": 1}
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


def test_doc_id_repeated_in_one_build_fails(spark, workdir):
    """Two docs of one build cannot share one ordinal: a repeated
    doc_id fails the build instead of storing duplicate postings, and
    no generation goes live."""
    keys = np.arange(N_TURNS) * 11
    keys[1500] = keys[40]
    idx = os.path.join(workdir, "repeated_key_idx")
    with pytest.raises(Exception, match=f"doc_id {keys[40]} occurs twice in one build"):
        _build(spark, idx, keys)
    assert not os.path.exists(os.path.join(idx, "manifest", "raw_g0.json"))
