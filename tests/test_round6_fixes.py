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
    (slice, term, fld, doc_id, tf, dl, positions) postings."""
    rows = []
    for rb in factory([batch]):
        d = codec.decode_blocks(rb, "values" if store_positions else None)
        cols = {c: rb.column(c).to_pylist() for c in ("slice", "term", "fld")}
        ps = np.concatenate([[0], np.cumsum(d["tf"])])
        for k, b in enumerate(d["blk"].tolist()):
            pos = tuple(d["pos"][ps[k] : ps[k + 1]].tolist()) if store_positions else ()
            rows.append((
                cols["slice"][b], cols["term"][b], cols["fld"][b], int(d["doc_id"][k]),
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
    batch = pa.record_batch(
        [
            pa.array(np.arange(n) % 4, type=pa.int32()),
            pa.array(np.arange(n, dtype=np.int64), type=pa.int64()),
            pa.array(texts, type=pa.string()),
        ],
        names=["slice", "doc_id", "f0"],
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
    unsalted), so a one-partition input still splits its heavy terms;
    the index content equals an unsalted build's."""
    import pyspark.sql.functions as F

    from aspublic_spark.index.build import read_stats

    df = synth_transcripts(spark, 2000, seed=11).coalesce(1)

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
    assert the_salts - {0}, the_salts
    assert post(plain).agg(F.max("salt")).first()[0] == 0

    def postings(idx):
        blocks = spark.read.option("basePath", idx + "/postings").parquet(idx + "/postings/gen=0")
        return sorted(SearchEngine(spark, idx).unpack(blocks, with_positions=True).collect())

    assert postings(salted) == postings(plain)
    assert sorted(bs.dictionary_df().collect()) == sorted(bp.dictionary_df().collect())
    assert read_stats(salted) == read_stats(plain)


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
    blocks = spark.read.parquet(idx + "/postings/gen=0")
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
    distinct = unp.select("doc_id", "term", "fld").distinct().count()
    assert total == distinct > 0  # (3)
