"""Round-6 optimization pins.

The optimizations are performance-only; these tests pin the invariants
they rely on:

1. The Arrow-native tokenize fast path emits the same postings as the
   per-row Python tokenizer (including null / empty / whitespace /
   dirty-row edge cases), and a whole build stores exactly the
   postings a per-document Python reference derives from the
   analyzer's tokens.
2. ``encode_grouped_records_offsets`` (the shared-buffer positions
   encoder) slices exactly like the per-group ``bytes`` encoder.
3. The one query evaluator (the slice-local mapInArrow pass) matches
   references on an index with heavy-hitter salting: live sqlite FTS5
   match sets for NOT/phrase/NEAR/anchor/OR shapes, the pandas BM25
   oracle's top-k and scores for the AND/NOT/phrase shapes it covers,
   and the exhaustive plan's top-k under forced block pruning.
4. The build tokenizes behind a hash exchange on doc_id: a one-row-group
   input still tokenizes in n_slices tasks, one slice each, and the
   index does not depend on the input's row-group layout. The
   tokenize's and the re-cut's partial rows do not depend on the order
   their rows arrive in, so a retried task repeats its first attempt.
"""

import os
import shutil
import sqlite3

import numpy as np
import pyarrow as pa
import pytest

from aspublic_spark.index import codec
from aspublic_spark.index.build import IndexBuilder, _raw_postings_arrow_factory
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.query.parser import parse_fts5, parse_websearch
from aspublic_spark.tables import synth_transcripts
from tests.test_bm25_oracle import _oracle
from tests.test_fts5_tree import _fts5_available


def _collect_postings(factory, batch, store_positions):
    """Decode the factory's partial-block output back to sorted
    (slice, term, fld, ord, tf, dl, positions) postings."""
    rows = []
    for rb in factory([batch]):
        d = codec.decode_blocks(rb, "values" if store_positions else None)
        cols = {c: rb.column(c).to_pylist() for c in ("slice", "term", "fld")}
        ps = np.concatenate([[0], np.cumsum(d["tf"])])
        for k, b in enumerate(d["blk"].tolist()):
            pos = tuple(d["pos"][ps[k] : ps[k + 1]].tolist()) if store_positions else ()
            rows.append((
                cols["slice"][b], cols["term"][b], cols["fld"][b], int(d["ord"][k]),
                int(d["tf"][k]), int(d["dl"][k]), pos,
            ))
    return sorted(rows)


def _factory(store_positions, analyzer="fts5"):
    # small blocks so groups are cut; no salting outside a task
    return _raw_postings_arrow_factory(
        store_positions, 1, analyzer, salt_threshold=10**9, block_size=2
    )


def _force_python_factory(store_positions):
    """Build the factory with the Arrow fast path disabled (analyzer
    name unknown to the fast-path gate, tokenizer forced to fts5)."""
    from aspublic_spark.functions import stemmer

    orig = stemmer.get_analyzer
    stemmer.get_analyzer = lambda name: orig("fts5")
    try:
        return _factory(store_positions, analyzer="__force_python__")
    finally:
        stemmer.get_analyzer = orig


def test_arrow_tokenize_path_matches_python_path():
    texts = [
        "hash join the table",
        "",
        None,
        "  leading and trailing  ",
        "the  the",
        "UPPER case_mix",
        "café déjà",
        "tab\tsep\nline",
        "   ",
        "a",
        "mixed CLEAN dirty_row here",
        "99 bottles of beer",
    ]
    n = len(texts)
    # one slice's rows, sorted by doc_id and ranked: the tokenize's
    # input
    batch = pa.record_batch(
        [
            pa.array(np.zeros(n, dtype=np.int32), type=pa.int32()),
            pa.array(np.arange(n, dtype=np.int32), type=pa.int32()),
            pa.array(np.arange(n, dtype=np.int64), type=pa.int64()),
            pa.array(texts, type=pa.string()),
        ],
        names=["slice", "ord", "doc_id", "f0"],
    )
    for store_positions in (True, False):
        new = _collect_postings(_factory(store_positions), batch, store_positions)
        old = _collect_postings(_force_python_factory(store_positions), batch, store_positions)
        assert new == old
        assert new  # non-vacuous


def test_grouped_records_offsets_match_bytes_encoder():
    rng = np.random.default_rng(0)
    lens = rng.integers(1, 9, size=200).astype(np.int64)
    vals = np.sort(rng.integers(0, 1 << 20, size=int(lens.sum())))
    buf, off = codec.encode_grouped_records_offsets(vals, lens)
    via_offsets = [buf.tobytes()[off[k] : off[k + 1]] for k in range(off.size - 1)]
    assert via_offsets == codec.encode_grouped_records(vals, lens)


# (engine query, search kwargs, live FTS5 MATCH expression, pandas BM25
# oracle case for the shapes tests/test_bm25_oracle.py covers)
FUSED_QUERIES = [
    ("query spark", {}, "query spark", dict(and_terms=["query", "spark"])),
    (
        "query spark !shuffle", {}, "query spark NOT shuffle",
        dict(and_terms=["query", "spark"], not_terms=["shuffle"]),
    ),
    ('"the the"', {}, '"the the"', dict(phrase=["the", "the"])),
    # sqlite-style negated phrase: conjunctive NOT (a AND b)
    ('table !"data query"', {}, "table NOT (data AND query)", None),
    ("dup OR vector", {"parser": parse_websearch}, "dup OR vector", None),
    ('"data query" OR zebra', {"parser": parse_websearch}, '"data query" OR zebra', None),
    ("NEAR(data query, 3)", {"parser": parse_fts5}, "NEAR(data query, 3)", None),
    ("^the", {"parser": parse_fts5}, "^the", None),
    ("query spark", {"role": "assistant"}, "query spark", None),
    ("data example !query", {"order": "recency"}, "data example NOT query", None),
    ("query !query", {}, "query NOT query", None),
]


@pytest.fixture(scope="module")
def fused_idx(spark, workdir):
    idx = os.path.join(workdir, "r6_fused_idx")
    shutil.rmtree(idx, ignore_errors=True)
    IndexBuilder(
        spark, idx, n_slices=4, block_size=32, salt_max_postings=500
    ).build(synth_transcripts(spark, 4000, seed=42))
    return idx


@pytest.fixture(scope="module")
def fused_corpus(spark):
    return synth_transcripts(spark, 4000, seed=42).toPandas()


@pytest.mark.skipif(not _fts5_available(), reason="sqlite without FTS5")
def test_fused_queries_match_live_fts5(spark, fused_idx, fused_corpus):
    pdf = fused_corpus
    db = sqlite3.connect(":memory:")
    db.execute("CREATE VIRTUAL TABLE f USING fts5(text, tokenize='unicode61')")
    db.executemany(
        "INSERT INTO f(rowid, text) VALUES (?, ?)",
        [(i + 1, t) for i, t in enumerate(pdf["text"])],
    )
    eng = SearchEngine(spark, fused_idx)
    nonempty = 0
    for q, kw, fts_q, _case in FUSED_QUERIES:
        hits = pdf.iloc[
            sorted(r[0] - 1 for r in db.execute("SELECT rowid FROM f WHERE f MATCH ?", (fts_q,)))
        ]
        if "role" in kw:
            hits = hits[hits["role"] == kw["role"]]
        want = set(zip(hits["conv_id"], hits["turn_idx"]))
        rows = eng.search(q, k=100, **kw).df.collect()
        got = [(r["conv_id"], r["turn_idx"]) for r in rows]
        if kw.get("order") == "recency":
            top = hits.sort_values(["ts", "conv_id", "turn_idx"], ascending=[False, True, True])
            assert got == list(zip(top["conv_id"], top["turn_idx"]))[:100], q
        elif len(want) <= 100:
            assert set(got) == want and len(got) == len(want), q
        else:  # the engine clamps k at 100: its top-k is a subset
            assert len(got) == 100 and set(got) <= want, q
        nonempty += bool(got)
    assert nonempty >= 8  # the comparisons are non-vacuous


def test_fused_queries_score_like_bm25_oracle(spark, fused_idx, fused_corpus):
    eng = SearchEngine(spark, fused_idx)
    cases = [(q, case) for q, kw, _f, case in FUSED_QUERIES if case and not kw]
    assert len(cases) == 3
    for q, case in cases:
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in eng.search(q, k=100).df.collect()
        ]
        want = _oracle(fused_corpus, k=100, **case)
        assert [g[:2] for g in got] == [w[:2] for w in want] and got, q
        for g, w in zip(got, want):
            assert abs(g[2] - w[2]) < 1e-9, (q, g, w)


def test_partial_block_build_equals_python_reference(spark, workdir):
    """A salted partial-block build stores exactly the postings (with
    positions and dl), dictionary and stats that a per-document Python
    reference derives from the analyzer's tokens."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from aspublic_spark.functions.stemmer import get_analyzer
    from aspublic_spark.index.build import read_stats
    from tests.test_incremental import index_postings

    df = synth_transcripts(spark, 3000, seed=42)
    idx = os.path.join(workdir, "r6_partial_ref")
    shutil.rmtree(idx, ignore_errors=True)
    b = IndexBuilder(spark, idx, n_slices=4, block_size=32, salt_max_postings=300)
    b.build(df)

    tokenize = get_analyzer("fts5")
    postings, n_docs, n_tok = [], 0, 0
    dic = defaultdict(lambda: [0, 0, 0, 1 << 30])  # df, cf, max_tf, min_dl
    for r in df.select(b.doc_id_col().alias("doc_id"), "text").collect():
        toks = tokenize(r["text"] or "")
        n_docs, n_tok = n_docs + 1, n_tok + len(toks)
        at = defaultdict(list)
        for p, t in enumerate(toks):
            at[t].append(p)
        for t, pos in at.items():
            postings.append((t, 0, r["doc_id"], len(pos), len(toks), tuple(pos)))
            e = dic[t]
            e[0], e[1] = e[0] + 1, e[1] + len(pos)
            e[2], e[3] = max(e[2], len(pos)), min(e[3], len(toks))
    assert sorted(p[1:] for p in index_postings(idx)) == sorted(postings)
    assert sorted(tuple(r) for r in b.dictionary_df().collect()) == sorted(
        (t, 0, *e) for t, e in dic.items()
    )
    assert read_stats(idx) == [
        {"fld": 0, "n_docs": n_docs, "avgdl": n_tok / n_docs, "total_tokens": n_tok}
    ]
    # heavy-term salting engaged through the task-id scheme
    mx = spark.read.parquet(idx + "/postings/gen=0").agg(F.max("salt")).first()[0]
    assert mx is not None and mx > 0


def test_single_task_build_salts_heavy_terms_from_task_zero(spark, workdir):
    """Map task 0 salts a heavy group too (salt = task id + 1, 0 stays
    unsalted), so a one-task tokenize still splits its heavy terms: the
    tokenize function run as partition 0 over a whole corpus salts the
    heavy term with 1, a build salts it with 1 as well (its tokenize
    task 0 is never empty), and either's content equals an unsalted
    run's."""
    import pyspark.sql.functions as F
    from pyspark import TaskContext

    from aspublic_spark.index.build import read_stats

    df = synth_transcripts(spark, 2000, seed=11)

    texts = [r.text for r in df.select("text").collect()]
    # slice 0's rows as partition 0, sorted by doc_id and ranked
    batch = pa.RecordBatch.from_pydict({
        "slice": pa.array([0] * len(texts), pa.int32()),
        "ord": pa.array(range(len(texts)), pa.int32()),
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "f0": pa.array(texts, pa.string()),
    })

    def one_task(salt_threshold):
        fn = _raw_postings_arrow_factory(True, 1, "fts5", salt_threshold, block_size=16)
        prev = TaskContext.get()
        tc = TaskContext()
        tc._partitionId = 0
        TaskContext._setTaskContext(tc)
        try:
            rows = list(fn([batch]))
        finally:
            TaskContext._setTaskContext(prev)
        the = {s for rb in rows for t, s in zip(rb.column("term").to_pylist(),
                                                rb.column("salt").to_pylist()) if t == "the"}
        return the, _collect_postings(lambda _: rows, None, True)

    salts, salted_rows = one_task(16)
    assert salts == {1}, salts
    salts, plain_rows = one_task(10**9)
    assert salts == {0}, salts
    assert salted_rows == plain_rows and salted_rows

    def build(name, salt_max):
        idx = os.path.join(workdir, name)
        shutil.rmtree(idx, ignore_errors=True)
        b = IndexBuilder(spark, idx, n_slices=2, block_size=16, salt_max_postings=salt_max)
        b.build(df)
        return idx, b

    salted, bs = build("r6_task0_salted", 40)
    plain, bp = build("r6_task0_plain", 10**9)
    post = lambda idx: spark.read.parquet(idx + "/postings/gen=0")  # noqa: E731
    heavy = post(salted).filter(F.col("term") == "the").select("salt").distinct()
    the_salts = {r.salt for r in heavy.collect()}
    assert 1 in the_salts, the_salts
    assert post(plain).agg(F.max("salt")).first()[0] == 0

    def postings(idx):
        blocks = spark.read.option("basePath", idx + "/postings").parquet(idx + "/postings/gen=0")
        return sorted(SearchEngine(spark, idx).unpack(blocks, with_positions=True).collect())

    assert postings(salted) == postings(plain)
    assert sorted(bs.dictionary_df().collect()) == sorted(bp.dictionary_df().collect())
    assert read_stats(salted) == read_stats(plain)


def test_one_row_group_input_tokenizes_in_every_task(spark, workdir):
    """The build hash-exchanges its text rows before the tokenize: a
    corpus in ONE parquet row group (which Spark cannot split) still
    tokenizes in n_slices tasks, each holding exactly one slice (its
    partition id) and none empty, and the index equals a build of the
    same rows from an 8-row-group file read as ~8 splits."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from bench_extra import _tokenize_tasks
    from tests.test_incremental import assert_same_index

    sc = spark.sparkContext
    tbl = synth_transcripts(spark, 2000, seed=13).toArrow()
    src = os.path.join(workdir, "r6_spread_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    one, eight = os.path.join(src, "one.parquet"), os.path.join(src, "eight.parquet")
    pq.write_table(tbl, one)
    pq.write_table(tbl, eight, row_group_size=-(-tbl.num_rows // 8))
    assert pq.ParquetFile(one).metadata.num_row_groups == 1
    assert pq.ParquetFile(eight).metadata.num_row_groups == 8

    def build(path, name):
        df = spark.read.parquet(path)
        n_in = df.rdd.getNumPartitions()
        idx = os.path.join(workdir, name)
        shutil.rmtree(idx, ignore_errors=True)
        group = f"{name}_{os.getpid()}"
        sc.setJobGroup(group, name)
        b = IndexBuilder(spark, idx, n_slices=2, block_size=16, salt_max_postings=40)
        try:
            b.build(df)
        finally:
            sc.setJobGroup("", "")
        n_tasks, busy, rows = _tokenize_tasks(spark, group)
        assert n_tasks == busy == 2, (n_tasks, busy, n_in)
        assert rows == tbl.num_rows
        held = b._tokenized(df).select(F.spark_partition_id().alias("p"), "slice").distinct()
        assert sorted(tuple(r) for r in held.collect()) == [(0, 0), (1, 1)]
        return idx, n_in

    idx_one, n_one = build(one, "r6_spread_one")
    # split the 8-row-group file by size so it reaches the build as
    # several input partitions, as a larger table would
    conf = {
        "spark.sql.files.maxPartitionBytes": str(os.path.getsize(eight) // 8),
        "spark.sql.files.openCostInBytes": "0",
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        idx_eight, n_eight = build(eight, "r6_spread_eight")
    finally:
        for k in conf:
            spark.conf.unset(k)
    assert n_one == 1 < n_eight, (n_one, n_eight)
    assert_same_index(spark, idx_one, idx_eight)
    rep = IndexBuilder(spark, idx_eight).verify()
    assert rep["ok"] and rep["blocks"] > 0, rep


def test_tokenize_output_does_not_depend_on_row_arrival_order(spark, workdir):
    """A retried tokenize task may fetch its exchange blocks in another
    order than its first attempt, while pack reducers that already read
    the first attempt keep its rows. The tokenize's partial rows (block
    cut and salt, the pack shuffle's key) must therefore not depend on
    the order its rows arrive in. Small Arrow batches make the order
    matter: the local salt counts a group across a task's batches, and
    each batch cuts its own blocks. The same rows written in reverse
    arrive reversed in every exchange partition."""
    import collections

    import pyarrow.parquet as pq

    tbl = synth_transcripts(spark, 2000, seed=17).toArrow()
    src = os.path.join(workdir, "r6_order_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    fwd, rev = os.path.join(src, "fwd.parquet"), os.path.join(src, "rev.parquet")
    pq.write_table(tbl, fwd)
    pq.write_table(tbl.take(pa.array(np.arange(tbl.num_rows)[::-1])), rev)
    b = IndexBuilder(
        spark, os.path.join(workdir, "r6_order_idx"), n_slices=2, block_size=8,
        salt_max_postings=200,
    )

    def partials(path):
        rows = b._tokenized(spark.read.parquet(path)).collect()
        return collections.Counter(
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in rows
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "50")
    try:
        a, z = partials(fwd), partials(rev)
    finally:
        spark.conf.unset(key)
    salts = {r[3] for r in a}
    assert salts - {0} and 0 in salts, salts
    assert a == z


def test_recut_output_does_not_depend_on_row_order():
    """compact()/prune_index() re-cut the posting rows a join hands
    them, in no fixed order. The re-cut combines a task's rows into one
    table before its sort and its salting, so its partial rows depend
    on the task's row set only, not on their order or batching."""
    import collections

    from aspublic_spark.index.build import _decode_postings_arrow_factory, _recut_arrow_factory

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(60)]
    texts = [" ".join(vocab[min(int(z), 59)] for z in rng.zipf(1.6, 12)) for _ in range(600)]
    batch = pa.RecordBatch.from_pydict({
        "slice": pa.array([0] * len(texts), pa.int32()),
        "ord": pa.array(range(len(texts)), pa.int32()),
        "doc_id": pa.array(np.sort(rng.permutation(10**6)[: len(texts)]), pa.int64()),
        "f0": pa.array(texts, pa.string()),
    })
    parts = [
        rb.append_column("gen", pa.array(np.zeros(rb.num_rows, np.int32)))
        for rb in _raw_postings_arrow_factory(True, 1, "fts5", 10**9, block_size=4)([batch])
    ]
    raw = pa.Table.from_batches(list(_decode_postings_arrow_factory()(parts))).drop_columns(["gen"])
    recut = _recut_arrow_factory(block_size=4, salt_threshold=40)

    def rows(batches):
        return collections.Counter(
            tuple(r.values()) for rb in recut(batches) for r in rb.to_pylist()
        )

    a = rows(raw.to_batches())
    z = rows(raw.take(pa.array(rng.permutation(raw.num_rows))).to_batches(max_chunksize=37))
    salts = {r[3] for r in a}
    assert salts - {0} and 0 in salts, salts
    assert a == z


def test_pruned_equals_exhaustive_under_forced_pruning(spark, fused_idx):
    pruned = SearchEngine(spark, fused_idx, prune_min_postings=0)
    exhaustive = SearchEngine(spark, fused_idx)
    for q in ["query spark", "query spark !shuffle", "the and"]:
        res = pruned.search(q, k=100)
        a = res.df.collect()
        assert a == exhaustive.search(q, k=100, block_max=False).df.collect(), q
        assert a and res.pruning["range_pruned"], q


def test_block_ids_dense_and_full_blocks_pass_through(spark, workdir):
    """r6 pack pass-through invariants: (1) map-side cut yields FULL
    blocks (n == block_size) that survive to the stored layout, (2)
    within every (slice, term, fld, salt) group block_ids are dense
    0..k-1 (unique — the theta probe uses them as a window tiebreak),
    (3) no posting is duplicated or lost across the overlapping runs —
    each (doc, term, fld) pair appears exactly once in the whole
    index."""
    import pyspark.sql.functions as F

    idx = os.path.join(workdir, "r6_passthrough_idx")
    shutil.rmtree(idx, ignore_errors=True)
    IndexBuilder(
        spark, idx, n_slices=2, block_size=16, salt_max_postings=200
    ).build(synth_transcripts(spark, 3000, seed=42))
    blocks = spark.read.option("basePath", idx + "/postings").parquet(idx + "/postings/gen=0")
    assert blocks.filter(F.col("n") == 16).count() > 0  # (1)
    bad = (
        blocks.groupBy("slice", "term", "fld", "salt")
        .agg(
            F.count("*").alias("k"),
            F.countDistinct("block_id").alias("kd"),
            F.max("block_id").alias("mx"),
        )
        .filter((F.col("kd") != F.col("k")) | (F.col("mx") != F.col("k") - 1))
        .count()
    )
    assert bad == 0  # (2)
    eng = SearchEngine(spark, idx)
    unp = eng.unpack(blocks)
    total = unp.count()
    distinct = unp.select("doc_key", "term", "fld").distinct().count()
    assert total == distinct > 0  # (3)
