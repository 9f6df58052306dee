"""Round-4 correctness fixes (ADVICE r3).

- term_stats driver cache eviction must not drop terms requested in the
  SAME call (a silent miss made an AND/phrase term look absent and
  search() returned empty);
- row-store generation ids must never regress onto occupied docs_dir
  partitions after a retention prune drops every live index generation.
"""

import datetime as dt
import os

from pyspark.sql import functions as F

from aspublic_spark.index.build import IndexBuilder
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.streaming.ingest import StreamingIngest
from aspublic_spark.tables import fixture_transcripts
from tests.test_incremental import assert_same_index, full_blocks


def test_term_stats_eviction_keeps_same_call_terms(spark, workdir):
    idx = os.path.join(workdir, "ts_evict_idx")
    b = IndexBuilder(
        spark, idx, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], n_slices=2, block_size=8,
    )
    b.build(fixture_transcripts(spark))
    eng = SearchEngine(spark, idx)
    # warm one term, then force the eviction path on the next call
    warm = eng.term_stats(["sample"])
    assert "sample" in warm
    eng._term_cache_max = 1
    both = eng.term_stats(["sample", "example"])
    # the bug cleared 'sample' out of the cache and silently returned it
    # as absent-from-corpus
    assert "sample" in both and "example" in both
    # and an AND search combining a warm and a cold term stays correct
    assert eng.search("sample status").df.count() > 0


def test_single_term_warm_search_runs_at_most_two_jobs(spark, workdir):
    """VERDICT r3 #6: a warm-path single-term search (terms in the
    driver term cache, plan shape compiled) must execute in at most two
    Spark jobs — the broadcast build of the scored candidates and the
    final probe+top-k job."""
    from aspublic_spark.tables import synth_transcripts

    idx = os.path.join(workdir, "jobcount_idx")
    b = IndexBuilder(
        spark, idx, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], n_slices=2, block_size=8,
    )
    df = synth_transcripts(spark, 3_000, seed=5)
    b.build(df)
    eng = SearchEngine(spark, idx, cache_tables=True)
    term = df.first()["text"].lower().split()[0]
    eng.search(term, k=10).df.collect()  # warm: term cache + plan shape
    eng.search(term, k=10).df.collect()
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    rows = eng.search(term, k=10).df.collect()
    after = len(tracker.getJobIdsForGroup(None))
    assert rows
    assert after - before <= 2, f"warm single-term search ran {after - before} jobs"


def test_compact_reslices_index(spark, workdir):
    """VERDICT r3 #3: compact(n_slices=N) must re-slice the index —
    recomputing the slice column for docs and postings during the merge
    — with identical query results (ids AND scores) before and after,
    and the new slicing visible to a refreshed engine and to subsequent
    incremental builds."""
    import json

    from aspublic_spark.tables import synth_transcripts

    idx = os.path.join(workdir, "reslice_idx")
    b = IndexBuilder(
        spark, idx, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], n_slices=2, block_size=8,
    )
    df = synth_transcripts(spark, 3_000, seed=3)
    b.build(df)
    eng = SearchEngine(spark, idx)
    # pick a live phrase straight from the corpus
    sample_text = df.first()["text"].lower().split()
    phrase = f'"{sample_text[0]} {sample_text[1]}"'
    q_single = eng.search(sample_text[0], k=20).df.collect()
    q_phrase = eng.search(phrase, k=20).df.collect()
    assert q_single, "test query must match something"

    r = b.compact(n_slices=8)
    assert r["compacted"]
    assert b.n_slices == 8
    meta = json.load(open(os.path.join(idx, "index_meta.json")))
    assert meta["n_slices"] == 8
    gens = [g for g in os.listdir(os.path.join(idx, "postings")) if g.startswith("gen=")]
    assert len(gens) == 1
    slices = sorted(
        s for s in os.listdir(os.path.join(idx, "postings", gens[0]))
        if s.startswith("slice=")
    )
    assert len(slices) == 8

    eng.refresh()
    assert eng.search(sample_text[0], k=20).df.collect() == q_single
    assert eng.search(phrase, k=20).df.collect() == q_phrase

    # the re-cut postings land in the new slices: same index as a
    # one-shot build at 8 slices
    fresh = os.path.join(workdir, "reslice_fresh_idx")
    IndexBuilder(
        spark, fresh, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], n_slices=8, block_size=8,
    ).build(df)
    assert_same_index(spark, idx, fresh)
    assert full_blocks(idx) > 0

    # a subsequent incremental generation uses the new slicing
    extra = synth_transcripts(spark, 200, seed=9).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))
    )
    b.add_documents(extra, gen=b._next_gen_id())
    eng.refresh()
    assert eng.search(sample_text[0], k=20).df.count() == 20


def test_first_build_has_no_full_count_prepass(spark, workdir, monkeypatch):
    """VERDICT r3 #8: a first build must not run a full count() over a
    (possibly expensively transformed) input. With the default
    n_slices the only count() it issues is the slice-sizing probe,
    which must sit under a GlobalLimit (bounded); salting is decided
    inside the pack job's map tasks and counts nothing."""
    # patch the CONCRETE class (pyspark 4 makes pyspark.sql.DataFrame an
    # abstract facade whose methods the classic implementation overrides)
    from pyspark.sql.classic.dataframe import DataFrame

    from aspublic_spark.tables import synth_transcripts

    idx = os.path.join(workdir, "salt_probe_idx")
    b = IndexBuilder(
        spark, idx, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], block_size=8,
    )
    # a table input: a Range-backed DataFrame has a known row bound,
    # so the optimizer would drop the probe's limit altogether
    src = os.path.join(workdir, "salt_probe_src")
    synth_transcripts(spark, 2_000, seed=11).write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    plans = []
    orig = DataFrame.count

    def spy(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    b.build(df)
    assert plans and all("GlobalLimit" in p for p in plans), plans


def test_gen_ids_do_not_regress_after_full_prune(spark, workdir):
    idx = os.path.join(workdir, "genreg_idx")
    docs = os.path.join(workdir, "genreg_docs")
    ing = StreamingIngest(
        spark, idx, docs, index_kwargs=dict(n_slices=2, block_size=8)
    )
    first = fixture_transcripts(spark)
    assert ing.ingest_batch(first) == 6
    # retention prune far in the future drops EVERY live index generation
    ing.builder.prune_index(dt.datetime(2030, 1, 1))
    assert ing.builder._live_gens() == []
    # a fresh ingester (restart) must see docs_dir/gen=0 as occupied
    ing2 = StreamingIngest(
        spark, idx, docs, index_kwargs=dict(n_slices=2, block_size=8)
    )
    assert ing2._next_gen == 1
    second = first.withColumn("conv_id", F.lit("c2"))
    assert ing2.ingest_batch(second) == 6
    # the old row-store partition is intact, the new batch landed beside it
    gens = sorted(
        n for n in os.listdir(docs) if n.startswith("gen=")
    )
    assert gens == ["gen=0", "gen=1"]
    assert spark.read.parquet(os.path.join(docs, "gen=0")).count() == 6
    assert spark.read.parquet(os.path.join(docs, "gen=1")).count() == 6
