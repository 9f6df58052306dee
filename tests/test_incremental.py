"""Incremental index maintenance: per-batch dictionary/stats merge.

The scale contract (VERDICT r1, "what's wrong" #2): `add_documents`
must NOT re-aggregate every generation's raw postings per batch. The
builder now writes a per-generation dictionary (term -> df/cf/max_tf/
min_dl, all decomposable) and per-gen counters, and `refresh_global`
merges those small tables only. Proven here two ways: (1) incremental
builds produce bit-identical dictionary/stats/results to a one-shot
build of the union; (2) refresh_global still works after the raw
postings of EVERY generation are deleted — it cannot be reading them.
"""

import json
import os
import shutil
from functools import reduce

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aspublic_spark.index import codec
from aspublic_spark.index.build import (
    IndexBuilder,
    dictionary_location,
    live_gen_paths,
    read_stats,
)
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.tables import synth_transcripts


def _builder(spark, idx):
    return IndexBuilder(
        spark, idx, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], n_slices=2, block_size=8,
    )


def _dict_rows(spark, idx):
    return sorted(
        (r["term"], r["df"], r["cf"], r["max_tf"], r["min_dl"])
        for r in spark.read.parquet(dictionary_location(idx)).collect()
    )


def _stats_row(spark, idx):
    r = read_stats(idx)[0]
    return (r["n_docs"], round(r["avgdl"], 12), r["total_tokens"])


def index_postings(idx) -> list[tuple]:
    """Every live posting, decoded from the stored blocks, its (gen,
    slice, ord) resolved to the doc_id through the generation's docs
    table: sorted (slice, term, fld, doc_id, tf, dl, positions) tuples.
    A posting whose ordinal names no doc raises."""
    rows = []
    for gen_dir in live_gen_paths(idx, "postings"):
        docs = pq.read_table(
            os.path.join(idx, "docs", os.path.basename(gen_dir)),
            columns=["doc_id", "slice", "ord"],
        ).to_pydict()
        doc_of = dict(zip(zip(docs["slice"], docs["ord"]), docs["doc_id"]))
        for name in os.listdir(gen_dir):
            if not name.startswith("slice="):
                continue
            sl = int(name[len("slice="):])
            tbl = pq.read_table(os.path.join(gen_dir, name))
            d = codec.decode_blocks(tbl, "values")
            if d is None:
                continue
            terms, flds = tbl.column("term").to_pylist(), tbl.column("fld").to_pylist()
            ps = np.concatenate([[0], np.cumsum(d["tf"])])
            for k, b in enumerate(d["blk"].tolist()):
                rows.append((
                    sl, terms[b], flds[b], doc_of[(sl, int(d["ord"][k]))],
                    int(d["tf"][k]), int(d["dl"][k]), tuple(d["pos"][ps[k]:ps[k + 1]].tolist()),
                ))
    return sorted(rows)


def assert_same_index(spark, idx, want_idx):
    """``idx`` holds the same index as ``want_idx`` (a one-shot build of
    the same rows): decoded postings with positions, dictionary rows and
    stats.json are equal, whatever the block and salt layout, and
    ``verify()`` finds no violation."""
    assert index_postings(idx) == index_postings(want_idx)

    def dict_rows(i):
        return sorted(tuple(r.values()) for r in pq.read_table(dictionary_location(i)).to_pylist())

    assert dict_rows(idx) == dict_rows(want_idx)
    assert read_stats(idx) == read_stats(want_idx)
    rep = IndexBuilder(spark, idx).verify()
    assert rep["ok"] and rep["blocks"] > 0, rep


def full_blocks(idx) -> int:
    """Stored blocks holding exactly block_size postings."""
    n = 0
    size = json.load(open(os.path.join(idx, "index_meta.json")))["block_size"]
    for gen_dir in live_gen_paths(idx, "postings"):
        n += int((pq.read_table(gen_dir, columns=["n"]).column("n").to_numpy() == size).sum())
    return n


def test_incremental_merge_equals_full_rebuild(spark, workdir):
    df = synth_transcripts(spark, 120, seed=5)
    parts = [
        df.filter(F.col("conv_id") < "c000000005"),
        df.filter((F.col("conv_id") >= "c000000005") & (F.col("conv_id") < "c000000010")),
        df.filter(F.col("conv_id") >= "c000000010"),
    ]
    inc_idx = os.path.join(workdir, "inc_idx")
    b = _builder(spark, inc_idx)
    b.build(parts[0], gen=0)
    b.add_documents(parts[1], gen=1)
    b.add_documents(parts[2], gen=2)

    full_idx = os.path.join(workdir, "full_idx")
    _builder(spark, full_idx).build(df)

    assert _stats_row(spark, inc_idx) == _stats_row(spark, full_idx)
    assert _dict_rows(spark, inc_idx) == _dict_rows(spark, full_idx)

    q = "the data"
    a = [
        (r["conv_id"], r["turn_idx"], round(r["score"], 9))
        for r in SearchEngine(spark, inc_idx).search(q, k=100).df.collect()
    ]
    c = [
        (r["conv_id"], r["turn_idx"], round(r["score"], 9))
        for r in SearchEngine(spark, full_idx).search(q, k=100).df.collect()
    ]
    assert a == c and len(a) > 0

    # the one encoder: compacting the three generations re-cuts their
    # postings into the same index a one-shot build writes
    assert b.compact()["compacted"]
    assert_same_index(spark, inc_idx, full_idx)
    assert full_blocks(inc_idx) > 0


def test_refresh_global_never_reads_postings(spark, workdir):
    """The global dictionary/stats merge reads ONLY the small per-gen
    dictionary tables + manifests — per-batch cost independent of
    corpus size. Deleting every packed posting must not change it."""
    idx = os.path.join(workdir, "norew_idx")
    b = _builder(spark, idx)
    b.build(synth_transcripts(spark, 40, seed=7), gen=0)
    b.add_documents(synth_transcripts(spark, 80, seed=7).filter(F.col("conv_id") >= "c000000005"), gen=1)
    before_d, before_s = _dict_rows(spark, idx), _stats_row(spark, idx)

    # delete ALL packed postings: the merge must not notice
    shutil.rmtree(os.path.join(idx, "postings"))
    b.refresh_global()
    assert _dict_rows(spark, idx) == before_d
    assert _stats_row(spark, idx) == before_s


def _mk_rows(spark, cid, n, epoch0, words):
    rows = [
        (f"{cid}", i, "user", f"{words} tok{i % 3}", None, epoch0 + i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, e long"
    ).withColumn("ts", F.timestamp_seconds("e")).drop("e")


def test_index_retention_prune(spark, workdir):
    """S9 index-segment retention: whole old generations are dropped,
    the boundary generation is rewritten, and the pruned index is
    IDENTICAL (dictionary, stats, search results) to a fresh build over
    only the surviving rows."""
    from datetime import datetime, timezone

    idx = os.path.join(workdir, "prune_idx")
    b = _builder(spark, idx)
    g0 = _mk_rows(spark, "cOLD", 12, 1_000_000, "ancient alpha words")
    g1 = _mk_rows(spark, "cMID", 12, 2_000_000 - 6, "boundary bravo words")  # straddles
    g2 = _mk_rows(spark, "cNEW", 12, 3_000_000, "recent charlie words")
    b.build(g0, gen=0)
    b.add_documents(g1, gen=1)
    b.add_documents(g2, gen=2)

    cutoff = datetime.fromtimestamp(2_000_000, tz=timezone.utc).replace(tzinfo=None)
    res = b.prune_index(cutoff)
    assert res["pruned"] and res["dropped"] == [0] and res["rewritten"] == [1]

    union = g0.unionByName(g1).unionByName(g2).filter(F.col("ts") >= F.lit(cutoff))
    fresh_idx = os.path.join(workdir, "prune_fresh_idx")
    _builder(spark, fresh_idx).build(union)

    assert _stats_row(spark, idx) == _stats_row(spark, fresh_idx)
    assert _dict_rows(spark, idx) == _dict_rows(spark, fresh_idx)

    eng = SearchEngine(spark, idx)
    # pre-cutoff docs are gone from results AND from the dictionary
    assert eng.search("ancient", k=100).df.count() == 0
    assert eng.search("alpha", k=100).df.count() == 0
    got = [
        (r["conv_id"], r["turn_idx"], round(r["score"], 9))
        for r in eng.search("words", k=100).df.collect()
    ]
    want = [
        (r["conv_id"], r["turn_idx"], round(r["score"], 9))
        for r in SearchEngine(spark, fresh_idx).search("words", k=100).df.collect()
    ]
    assert got == want and len(got) == 18  # 6 surviving MID + 12 NEW

    assert_same_index(spark, idx, fresh_idx)

    # idempotent: a second prune at the same cutoff is a no-op
    assert b.prune_index(cutoff)["pruned"] is False


def test_reopen_adopts_stored_layout(spark, workdir):
    """Reopening an index with different constructor params must adopt
    the on-disk layout (differing slicing/fields would corrupt)."""
    idx = os.path.join(workdir, "reopen_idx")
    _builder(spark, idx).build(synth_transcripts(spark, 20, seed=3))
    b2 = IndexBuilder(spark, idx, n_slices=16, block_size=999, text_col="nope")
    assert b2.n_slices == 2 and b2.block_size == 8 and b2.text_cols == ["text"]
    assert b2.key_cols == ["conv_id", "turn_idx"]


def test_other_raw_format_is_refused(spark, workdir):
    """An index whose meta records another raw postings format is
    refused by every reader and writer, not only by build(): format 3,
    and format 4, whose postings stored 64-bit doc ids where format 5
    stores doc ordinals."""
    idx = os.path.join(workdir, "old_format_idx")
    shutil.rmtree(idx, ignore_errors=True)
    _builder(spark, idx).build(synth_transcripts(spark, 20, seed=3))
    meta_path = os.path.join(idx, "index_meta.json")
    meta = json.load(open(meta_path))
    for fmt in (3, 4):
        meta["raw_format"] = fmt
        json.dump(meta, open(meta_path, "w"))
        for use in (
            lambda: IndexBuilder(spark, idx).compact(),
            lambda: IndexBuilder(spark, idx).verify(),
            lambda: SearchEngine(spark, idx),
        ):
            with pytest.raises(ValueError, match=f"format {fmt}.*rebuild into a fresh directory"):
                use()


def test_prune_crash_recovery_rolls_forward(spark, workdir):
    """A prune interrupted after the marker commit (filtered copies
    written, nothing swapped) must roll forward on the next call and
    end in exactly the same state as an uninterrupted prune."""
    import json
    from datetime import datetime, timezone

    idx = os.path.join(workdir, "prunecrash_idx")
    b = _builder(spark, idx)
    b.build(_mk_rows(spark, "cOLD", 8, 1_000_000, "ancient alpha words"), gen=0)
    b.add_documents(_mk_rows(spark, "cMID", 8, 2_000_000 - 4, "boundary bravo words"), gen=1)

    cutoff = datetime.fromtimestamp(2_000_000, tz=timezone.utc).replace(tzinfo=None)
    # crash injection at the exact protocol point: the prune decision's
    # filtered copies (docs + packed postings + dictionary) are fully
    # written to their FINAL new-gen directories and the marker is
    # committed, but the roll-forward never runs
    from aspublic_spark.index.build import IndexBuilder

    orig_apply = IndexBuilder._apply_pending_prune

    def crash_after_marker(self):
        if self.fs.exists(self._prune_marker()):
            raise RuntimeError("injected crash after prune marker commit")
        return orig_apply(self)

    IndexBuilder._apply_pending_prune = crash_after_marker
    try:
        try:
            b.prune_index(cutoff)
            raise AssertionError("injected crash did not fire")
        except RuntimeError as e:
            assert "injected crash" in str(e)
    finally:
        IndexBuilder._apply_pending_prune = orig_apply
    assert os.path.exists(os.path.join(idx, "manifest", "prune_pending.json"))

    # next prune call first rolls the pending decision forward
    res = b.prune_index(cutoff)
    assert res["pruned"] is False  # nothing left to do after roll-forward

    fresh_idx = os.path.join(workdir, "prunecrash_fresh")
    union = (
        _mk_rows(spark, "cOLD", 8, 1_000_000, "ancient alpha words")
        .unionByName(_mk_rows(spark, "cMID", 8, 2_000_000 - 4, "boundary bravo words"))
        .filter(F.col("ts") >= F.lit(cutoff))
    )
    _builder(spark, fresh_idx).build(union)
    assert _stats_row(spark, idx) == _stats_row(spark, fresh_idx)
    assert _dict_rows(spark, idx) == _dict_rows(spark, fresh_idx)
    assert SearchEngine(spark, idx).search("ancient", k=10).df.count() == 0
    assert not os.path.exists(os.path.join(idx, "manifest", "prune_pending.json"))


def assert_dense_ordinals(idx):
    """Each live generation's docs hold, per slice of n docs, the
    ordinals 0..n-1 in doc_id order."""
    for gen_dir in live_gen_paths(idx, "docs"):
        docs = pq.read_table(gen_dir, columns=["doc_id", "slice", "ord"]).to_pandas()
        for _sl, grp in docs.groupby("slice"):
            assert grp.sort_values("doc_id")["ord"].tolist() == list(range(len(grp))), gen_dir


def test_reslice_and_prune_renumber_ordinals(spark, workdir):
    """compact(n_slices=3) re-slices three generations and a prune
    rewrites a boundary generation: both renumber the surviving docs,
    leave every (gen, slice)'s ordinals dense and in doc_id order, and
    ``verify()`` reports no violation; the re-sliced index equals a
    one-shot build at 3 slices."""
    from datetime import datetime, timezone

    idx = os.path.join(workdir, "renumber_idx")
    shutil.rmtree(idx, ignore_errors=True)
    b = _builder(spark, idx)
    parts = [
        _mk_rows(spark, "cOLD", 30, 1_000_000, "ancient alpha words"),
        _mk_rows(spark, "cMID", 30, 2_000_000 - 15, "boundary bravo words"),
        _mk_rows(spark, "cNEW", 30, 3_000_000, "recent charlie words"),
    ]
    for g, part in enumerate(parts):
        b.build(part, gen=g)
    assert b.compact(n_slices=3)["compacted"]
    assert_dense_ordinals(idx)
    fresh = os.path.join(workdir, "renumber_fresh_idx")
    shutil.rmtree(fresh, ignore_errors=True)
    IndexBuilder(
        spark, fresh, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], n_slices=3, block_size=8,
    ).build(reduce(lambda a, c: a.unionByName(c), parts))
    assert_same_index(spark, idx, fresh)

    cutoff = datetime.fromtimestamp(2_000_000, tz=timezone.utc).replace(tzinfo=None)
    b.add_documents(parts[1].withColumn("conv_id", F.lit("cMID2")), gen=b._next_gen_id())
    res = b.prune_index(cutoff)
    assert res["pruned"] and len(res["rewritten"]) == 2, res
    assert_dense_ordinals(idx)
    rep = b.verify()
    assert rep["ok"] and rep["blocks"] > 0 and rep["docs_bad_ordinals"] == 0, rep
    assert SearchEngine(spark, idx).search("words", k=100).df.count() == 30 + 2 * 15


def test_generation_ids_past_the_doc_key_budget(spark, workdir, monkeypatch):
    """Generation ids only grow (streaming ingest takes one per batch,
    every compaction and prune another), so an id past 2^GEN_BITS must
    build, search and compact: the doc key holds a generation's RANK
    among the live ones. What is bounded is the live count — a build
    past it is refused, and compaction (which only lowers it) still
    runs."""
    from aspublic_spark.index import build as build_mod
    from aspublic_spark.index.build import GEN_BITS, live_gens

    idx = os.path.join(workdir, "big_gen_idx")
    shutil.rmtree(idx, ignore_errors=True)
    b = _builder(spark, idx)
    b.build(_mk_rows(spark, "cA", 20, 1_000_000, "alpha words"), gen=0)
    big = (1 << GEN_BITS) + 5
    b.add_documents(_mk_rows(spark, "cB", 20, 2_000_000, "bravo words"), gen=big)
    eng = SearchEngine(spark, idx)
    assert eng.search("words", k=100).df.count() == 40
    assert {r["conv_id"] for r in eng.search("bravo", k=100).df.collect()} == {"cB"}

    assert b.compact()["compacted"]
    assert live_gens(idx) == [big + 1]
    assert_dense_ordinals(idx)
    assert b.verify()["ok"]
    eng.refresh()
    assert eng.search("words", k=100).df.count() == 40
    assert {r["conv_id"] for r in eng.search("alpha", k=100).df.collect()} == {"cA"}

    monkeypatch.setattr(build_mod, "GEN_BITS", 1)  # at most 2 live gens
    b.add_documents(_mk_rows(spark, "cC", 5, 3_000_000, "charlie words"), gen=b._next_gen_id())
    with pytest.raises(ValueError, match="live generations"):
        b.add_documents(_mk_rows(spark, "cD", 5, 4_000_000, "delta words"), gen=b._next_gen_id())
    assert b.compact()["compacted"]
    assert len(live_gens(idx)) == 1
