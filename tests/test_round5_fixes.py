"""Round-5 regression tests for the r4 ADVICE/VERDICT items."""

import os

import pytest
from pyspark.sql import functions as F

from aspublic_spark.index.build import IndexBuilder
from aspublic_spark.query.engine import SearchEngine


def _builder(spark, idx, **kw):
    kw.setdefault("key_cols", ["conv_id", "turn_idx"])
    kw.setdefault("text_col", "text")
    kw.setdefault("meta_cols", ["role", "tool", "ts"])
    kw.setdefault("n_slices", 2)
    kw.setdefault("block_size", 8)
    return IndexBuilder(spark, idx, **kw)


def _mk_rows(spark, conv, n, t0, words):
    rows = [
        (conv, i, "user" if i % 2 == 0 else "assistant", f"{words} t{i}", "", t0 + i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, e long"
    ).withColumn("ts", F.timestamp_seconds("e")).drop("e")


def test_compact_reslices_zero_generation_index(spark, workdir):
    """ADVICE r4: compact(n_slices=N) on an index whose generations were
    all pruned away must still apply the requested re-slice (the CLI
    --n-slices flag was silently ignored in that state): the meta is
    rewritten directly and the next incremental generation builds with
    the new slicing."""
    import json
    from datetime import datetime, timezone

    idx = os.path.join(workdir, "zero_gen_reslice_idx")
    b = _builder(spark, idx)
    b.build(_mk_rows(spark, "cA", 10, 1_000_000, "alpha words"))
    # prune EVERYTHING -> zero live generations
    cutoff = datetime.fromtimestamp(9_000_000, tz=timezone.utc).replace(tzinfo=None)
    assert b.prune_index(cutoff)["pruned"]
    assert b._live_gens() == []

    r = b.compact(n_slices=8)
    assert r == {"compacted": False, "gens": 0, "n_slices_set": 8}
    assert b.n_slices == 8
    meta = json.load(open(os.path.join(idx, "index_meta.json")))
    assert meta["n_slices"] == 8

    # the next generation lands with the new slicing and queries work
    b.add_documents(_mk_rows(spark, "cB", 12, 9_500_000, "bravo words"), gen=b._next_gen_id())
    gens = [g for g in os.listdir(os.path.join(idx, "postings")) if g.startswith("gen=")]
    slices = {
        s
        for g in gens
        for s in os.listdir(os.path.join(idx, "postings", g))
        if s.startswith("slice=")
    }
    # 12 docs won't populate every bucket; slice ids beyond the old
    # n_slices=2 range prove the new slicing was applied
    assert max(int(s.split("=")[1]) for s in slices) >= 2
    assert SearchEngine(spark, idx).search("bravo", k=20).df.count() == 12

    # a compact with no re-slice request on a zero-gen index stays a no-op
    idx2 = os.path.join(workdir, "zero_gen_noop_idx")
    b2 = _builder(spark, idx2)
    b2.build(_mk_rows(spark, "cC", 4, 1_000_000, "charlie words"))
    b2.prune_index(cutoff)
    assert b2.compact() == {"compacted": False, "gens": 0}


def test_auto_refresh_sees_new_generation_without_manual_refresh(spark, workdir):
    """VERDICT r4 Next #6: with auto_refresh=True the engine probes the
    manifest per search and re-snapshots when the live-gen set changed —
    a server following an ingest stream can't serve a stale snapshot."""
    idx = os.path.join(workdir, "auto_refresh_idx")
    b = _builder(spark, idx)
    b.build(_mk_rows(spark, "cA", 6, 1_000_000, "delta words"))

    manual = SearchEngine(spark, idx)  # default: pinned snapshot
    auto = SearchEngine(spark, idx, auto_refresh=True)
    # snapshots pin at first table access — warm both engines now
    assert manual.search("delta", k=20).df.count() == 6
    assert auto.search("delta", k=20).df.count() == 6
    fp0 = auto._snap_fp

    b.add_documents(_mk_rows(spark, "cB", 9, 2_000_000, "delta fresh"), gen=b._next_gen_id())

    # pinned engine still serves the old snapshot (documented contract) ...
    assert manual.search("delta", k=20).df.count() == 6
    # ... the auto engine picks up the new generation with no refresh() call
    assert auto.search("delta", k=20).df.count() == 15
    assert auto.search("fresh", k=20).df.count() == 9
    assert auto._snap_fp != fp0

    # unchanged manifest -> the probe is a no-op (fingerprint stable)
    fp1 = auto._snap_fp
    auto.search("delta", k=5)
    assert auto._snap_fp == fp1


def test_auto_refresh_survives_prune(spark, workdir):
    """Pruning a generation away must not leave the auto engine reading
    deleted part files: the next search re-snapshots."""
    from datetime import datetime, timezone

    idx = os.path.join(workdir, "auto_refresh_prune_idx")
    b = _builder(spark, idx)
    b.build(_mk_rows(spark, "cA", 5, 1_000_000, "echo words"))
    b.add_documents(_mk_rows(spark, "cB", 7, 9_500_000, "echo keep"), gen=b._next_gen_id())

    auto = SearchEngine(spark, idx, auto_refresh=True)
    assert auto.search("echo", k=20).df.count() == 12

    cutoff = datetime.fromtimestamp(5_000_000, tz=timezone.utc).replace(tzinfo=None)
    assert b.prune_index(cutoff)["pruned"]
    assert auto.search("echo", k=20).df.count() == 7


def test_not_side_broadcasts_and_dead_not_skips_anti_join(spark, workdir):
    """NOT-side plan shape: the NOT terms' blocks ride the evaluator's
    one slice-local pass (no anti-join on doc_id at all), and a single
    NOT term absent from the corpus excludes nothing and adds no NOT
    scan."""
    idx = os.path.join(workdir, "not_bcast_idx")
    b = _builder(spark, idx)
    rows = []
    for i in range(40):
        text = "alpha common words" + (" noisy" if i % 5 == 0 else "")
        rows.append(("cN", i, "user", text, "", 1_000_000 + i))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, e long"
    ).withColumn("ts", F.timestamp_seconds("e")).drop("e")
    b.build(df)
    eng = SearchEngine(spark, idx)

    res = eng.search("alpha !noisy", k=100)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan and "LeftSemi" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert res.df.count() == 32  # 8 noisy docs excluded

    # dead NOT term: same results as no NOT at all, and no NOT scan
    dead = eng.search("alpha !zzzmissing", k=100)
    base = eng.search("alpha", k=100)
    dead_plan = dead.df._jdf.queryExecution().executedPlan().toString()
    assert "zzzmissing" not in dead_plan and "LeftAnti" not in dead_plan
    got = [(r["turn_idx"], round(r["score"], 9)) for r in dead.df.collect()]
    want = [(r["turn_idx"], round(r["score"], 9)) for r in base.df.collect()]
    assert got == want and len(got) == 40


def test_selective_phrase_docs_broadcast_into_semi_join(spark, workdir):
    """Positive-phrase plan shape: the adjacency window is applied
    inside the evaluator's one slice-local pass, so the plan needs no
    semi join on doc_id (and no phrase-doc set to size-estimate)."""
    idx = os.path.join(workdir, "phrase_bcast_idx")
    b = _builder(spark, idx)
    rows = []
    for i in range(40):
        text = "alpha beta words" if i % 4 == 0 else "alpha words beta"
        rows.append(("cP", i, "user", text, "", 1_000_000 + i))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, e long"
    ).withColumn("ts", F.timestamp_seconds("e")).drop("e")
    b.build(df)
    eng = SearchEngine(spark, idx)

    res = eng.search('"alpha beta"', k=100)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert res.df.count() == 10  # only the adjacent variant matches


def test_auto_n_slices_resolves_by_volume_at_first_build(spark, workdir):
    """VERDICT r4 #3: n_slices=None auto-sizes from the first build's
    corpus volume (floor 8 at small scale — the measured optimum of the
    PLANS.md slice sweep), resolution is persisted in index_meta.json,
    and a stored layout overrides any later constructor value."""
    import json

    idx = os.path.join(workdir, "auto_slices_idx")
    b = IndexBuilder(
        spark, idx, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], block_size=8,
    )
    assert b.n_slices is None  # unresolved until the input is seen
    b.build(_mk_rows(spark, "cA", 24, 1_000_000, "alpha beta"))
    assert b.n_slices == IndexBuilder.MIN_SLICES
    with open(os.path.join(idx, "index_meta.json")) as f:
        assert json.load(f)["n_slices"] == IndexBuilder.MIN_SLICES
    # reopening with auto again: the stored layout wins, no re-probe
    b2 = IndexBuilder(spark, idx)
    assert b2.n_slices == IndexBuilder.MIN_SLICES
    # reopening with a DIFFERENT explicit value: stored layout still wins
    b3 = IndexBuilder(spark, idx, n_slices=64)
    assert b3.n_slices == IndexBuilder.MIN_SLICES
    # volume formula: ceil(n_docs / DOCS_PER_SLICE) clamped to [8, 4096]
    r = IndexBuilder._resolve_auto_slices
    fake = type("B", (), {"MIN_SLICES": 8, "MAX_SLICES": 4096,
                          "DOCS_PER_SLICE": IndexBuilder.DOCS_PER_SLICE})()
    class _Probe:
        def __init__(self, n): self.n = n
        def select(self, *a): return self
        def limit(self, k): return _Probe(min(self.n, k))
        def count(self): return self.n
    assert r(fake, _Probe(1000)) == 8
    assert r(fake, _Probe(9_000_000)) == 9
    assert r(fake, _Probe(10**13)) == 4096


def test_engine_plans_queries_without_aqe_in_child_session(spark, workdir):
    """r5 perf: interactive queries have dictionary-bounded join sides
    with explicit broadcast hints, so AQE only adds one job per
    exchange (15-30% of latency). The engine must plan on a child
    session with AQE off, leave the caller's session untouched, and
    return identical results either way."""
    idx = os.path.join(workdir, "aqe_child_idx")
    b = _builder(spark, idx)
    b.build(_mk_rows(spark, "cQ", 30, 1_000_000, "alpha beta gamma"))

    eng = SearchEngine(spark, idx)
    assert eng.spark is not spark
    assert eng.spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # caller's session keeps its own setting (and the runtime overrides
    # were cloned into the child: shuffle width must match)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert eng.spark.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    assert "AdaptiveSparkPlan" not in (
        eng.search("alpha beta", k=10).df._jdf.queryExecution()
        .executedPlan().toString()
    )

    opt_in = SearchEngine(spark, idx, adaptive_execution=True)
    assert opt_in.spark is spark
    a = [(r["turn_idx"], round(r["score"], 9))
         for r in eng.search('"alpha beta"', k=10).df.collect()]
    bb = [(r["turn_idx"], round(r["score"], 9))
          for r in opt_in.search('"alpha beta"', k=10).df.collect()]
    assert a == bb and len(a) == 10
