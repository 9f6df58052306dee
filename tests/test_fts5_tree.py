"""Raw-FTS5 boolean expression trees (parse_fts5 + engine tree path).

The reference's sqlite backend hands its MATCH string straight to FTS5
(db_sqlite.py:131), whose query language is a full boolean grammar:
precedence juxtaposition (implicit AND) > NOT > AND > OR, parentheses,
column filters binding parenthesized expressions, NEAR/prefix/anchor
operands anywhere in the expression. Queries whose structure fits the
flat ParsedQuery model lower into it (identical plans to the
pre-boolean surface, including block pruning); anything else carries a
``Node`` tree. Both reach the same evaluator: one mapInArrow pass over
the leaf terms' packed blocks that evaluates the tree over per-doc
presence and positional masks.

Semantics are pinned by LIVE FTS5 differentials below: for every
query, the engine's matched doc-id set must equal the rowid set of
``SELECT rowid FROM f WHERE f MATCH ?`` on the same corpus.
"""

import random
import sqlite3

import pytest

from aspublic_spark.index.build import IndexBuilder
from aspublic_spark.query import SearchEngine, parse_fts5
from aspublic_spark.query.parser import parse_query, parse_websearch


def _fts5_available() -> bool:
    try:
        sqlite3.connect(":memory:").execute(
            "CREATE VIRTUAL TABLE _p USING fts5(t)"
        )
        return True
    except sqlite3.OperationalError:
        return False


# ---------------------------------------------------------------- parser
def test_flat_expressible_queries_stay_flat():
    """Boolean structure the flat model expresses must NOT grow a tree:
    those queries keep their pre-boolean plans (incl. pruning)."""
    for q in (
        "alpha beta !gamma",
        '"a b" OR c',
        "alpha OR beta OR gamma",
        "(alpha OR beta) NOT gamma",
        "(alpha OR beta) NOT (gamma OR delta)",
        "NEAR(a b, 1) NOT c",
        "alpha NOT (beta gamma)",  # NOT over implicit-AND group
        "a AND (b OR c)",
        "text:alpha -subject:beta",
        "ab* !cd*",
        'x NOT "b c"',
    ):
        assert parse_fts5(q).tree is None, q


def test_tree_only_queries_grow_a_tree():
    for q in (
        "alpha OR (beta NOT delta)",
        "(alpha NOT beta) OR (gamma NOT delta)",
        "NEAR(a b, 2) OR c",
        '"a b" OR NEAR(c d, 3)',
        "a NOT (b OR NEAR(c d, 1))",
        "text:(alpha OR beta)",
        "subject:alpha OR beta",
        "al* OR beta",
        "^alpha OR beta",
        'text:"a b" OR c',
        "text:NEAR(a b, 1)",
        "text:ab*",
        "!a NOT !b",
    ):
        pq = parse_fts5(q)
        assert pq.tree is not None, q
        assert pq.is_empty() is False
        # every flat field stays empty when the tree is set
        assert not pq.and_terms and not pq.or_groups and not pq.nears, q


def test_tree_describe_roundtrips_structure():
    t = parse_fts5("alpha OR (beta NOT delta)").tree
    assert t.describe() == "(or alpha (not beta delta))"
    t2 = parse_fts5("text:(a OR NEAR(b c, 2))").tree
    assert t2.describe() == "(text: (or a (near:2 b c)))"
    t3 = parse_fts5('-{text subject}:al* OR x').tree
    assert t3.describe() == "(or (-{text subject}: al*) x)"


def test_fts5_precedence_in_trees():
    # NOT binds tighter than AND, AND tighter than OR; juxtaposition
    # tightest of all (probed FTS5 grammar)
    t = parse_fts5("a OR b NOT c").tree
    assert t.describe() == "(or a (not b c))"
    t = parse_fts5("a OR b c NOT d").tree  # (b AND c) NOT d under OR
    assert t.describe() == "(or a (not (and b c) d))"
    assert parse_fts5("a NOT b AND c").tree is None  # (a NOT b) AND c: flat


# ------------------------------------------------- engine: differential
@pytest.mark.skipif(not _fts5_available(), reason="sqlite without FTS5")
def test_tree_differential_vs_live_fts5_single_field(spark, workdir):
    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "alps"] + ["x"] * 5
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ]
    db = sqlite3.connect(":memory:")
    db.execute("CREATE VIRTUAL TABLE f USING fts5(text, tokenize='unicode61')")
    for d in docs:
        db.execute("INSERT INTO f VALUES (?)", (d,))

    idx = workdir + "/tree_diff_idx"
    sdf = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    IndexBuilder(
        spark, idx, key_cols=["doc_id"], text_col="text", meta_cols=[],
        n_slices=3, block_size=8,
    ).build(sdf)
    eng = SearchEngine(spark, idx)

    queries = [
        "alpha OR (beta NOT delta)",
        "(alpha NOT beta) OR (gamma NOT delta)",
        "((alpha OR beta) NOT gamma) OR (delta NOT alpha)",
        "NEAR(alpha beta, 2) OR gamma",
        '"alpha beta" OR NEAR(gamma delta, 3)',
        "alpha NOT (beta OR NEAR(gamma delta, 1))",
        "alpha OR beta NOT gamma",        # precedence: OR(alpha, beta NOT gamma)
        "al* OR delta",                   # prefix operand in OR (alpha+alps)
        "gamma OR ^alpha",                # anchor operand in OR
        "(alpha OR beta) AND (gamma OR delta)",
        "alpha AND (beta OR (gamma NOT delta))",
        '("alpha beta" NOT gamma) OR ("alpha beta" NOT delta)',  # shared flag
        "NEAR(alpha beta, 1) OR NEAR(gamma delta, 1)",
        # positional leaves on the NOT side (non-scoring flags)
        "gamma NOT NEAR(alpha beta, 2)",
        'gamma NOT "alpha bet"*',
        "delta NOT al*  OR beta NOT gamma",
        "NEAR(al* beta, 1) NOT gamma",
    ]
    for q in queries:
        want = {
            r[0] for r in db.execute("SELECT rowid FROM f WHERE f MATCH ?", (q,))
        }
        got = {
            r["doc_id"]
            for r in eng.search(q, k=100, parser=parse_fts5).df.collect()
        }
        if len(want) <= 100:
            assert got == want, (q, sorted(got - want)[:5], sorted(want - got)[:5])
        else:  # engine k-clamps at 100: top-k must be a subset
            assert len(got) == 100 and got <= want, q


@pytest.mark.skipif(not _fts5_available(), reason="sqlite without FTS5")
def test_tree_differential_vs_live_fts5_two_field(spark, workdir):
    """Column filters over boolean structure (col:(expr), col:NEAR,
    col:prefix, exclusions) against live FTS5 on a 2-column table."""
    rng = random.Random(23)
    vocab = ["alpha", "beta", "gamma", "delta"] + ["x"] * 4
    rows = [
        (
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))),
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4))),
        )
        for _ in range(220)
    ]
    db = sqlite3.connect(":memory:")
    db.execute(
        "CREATE VIRTUAL TABLE f USING fts5(text, subject, tokenize='unicode61')"
    )
    for t, s in rows:
        db.execute("INSERT INTO f VALUES (?, ?)", (t, s))

    idx = workdir + "/tree_diff2_idx"
    sdf = spark.createDataFrame(
        [(i + 1, t, s) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, subject string",
    )
    IndexBuilder(
        spark, idx, key_cols=["doc_id"], text_cols=["text", "subject"],
        meta_cols=[], n_slices=3, block_size=8,
    ).build(sdf)
    eng = SearchEngine(spark, idx)

    queries = [
        "text:(alpha OR beta)",
        "subject:(alpha OR beta) NOT text:gamma",
        "subject:alpha OR beta",
        "text:NEAR(alpha beta, 2)",
        "subject:NEAR(alpha beta, 1) OR delta",
        "text:al* OR subject:delta",
        "-text:(alpha OR beta)",  # exclusion: match in any column NOT listed
        'text:"alpha beta" OR subject:gamma',
        "{text subject}:(alpha NOT beta)",
        "text:(subject:alpha) OR delta",  # nested colspecs intersect -> delta only
        "text:^alpha OR subject:^beta",
        # one term under TWO different restrictions (per-leaf filters)
        "text:alpha OR subject:alpha",
        "subject:alpha alpha",
        "text:alpha OR alpha",
        'text:"alpha beta" OR subject:"alpha beta"',
        "{text subject}:alpha NOT text:alpha",
        "text:al* OR subject:al*",
    ]
    for q in queries:
        want = {
            r[0] for r in db.execute("SELECT rowid FROM f WHERE f MATCH ?", (q,))
        }
        got = {
            r["doc_id"]
            for r in eng.search(q, k=100, parser=parse_fts5).df.collect()
        }
        if len(want) <= 100:
            assert got == want, (q, sorted(got - want)[:5], sorted(want - got)[:5])
        else:
            assert len(got) == 100 and got <= want, q


# ------------------------------------------------- engine: semantics
@pytest.fixture(scope="module")
def tree_eng(spark, workdir):
    docs = [
        (1, "alpha beta gamma", "news"),
        (2, "alpha delta", "sport"),
        (3, "beta delta epsilon", "news"),
        (4, "gamma gamma alpha", "alpha"),
        (5, "epsilon zeta", "beta gamma"),
        (6, "beta gamma alpha", "misc"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string, subject string")
    idx = workdir + "/tree_sem_idx"
    IndexBuilder(
        spark, idx, key_cols=["doc_id"], text_cols=["text", "subject"],
        meta_cols=[], n_slices=2, block_size=8,
    ).build(sdf)
    return SearchEngine(spark, idx)


def _ids(eng, q, **kw):
    return sorted(
        r["doc_id"]
        for r in eng.search(q, k=100, parser=parse_fts5, **kw).df.collect()
    )


def test_tree_semantics_golden(tree_eng):
    assert _ids(tree_eng, "alpha OR (beta NOT delta)") == [1, 2, 4, 5, 6]
    assert _ids(tree_eng, "text:(alpha OR epsilon)") == [1, 2, 3, 4, 5, 6]
    assert _ids(tree_eng, "NEAR(beta gamma, 0) OR delta") == [1, 2, 3, 5, 6]
    assert _ids(tree_eng, "subject:ne* OR zeta") == [1, 3, 5]
    assert _ids(tree_eng, "subject:NEAR(beta gamma, 0)") == [5]
    assert _ids(tree_eng, "text:NEAR(beta gamma, 0)") == [1, 6]
    # hybrid !-negations inside tree structure: !delta NOT !epsilon
    # means (NOT delta) AND epsilon
    assert _ids(tree_eng, "!delta NOT !epsilon") == [5]


def test_tree_dead_leaves_fold(tree_eng):
    # absent term under NOT: excludes nothing, branch survives
    assert _ids(tree_eng, "(alpha NOT zzznope) OR epsilon") == [1, 2, 3, 4, 5, 6]
    # absent term in an OR branch: branch drops, rest evaluates
    assert _ids(tree_eng, "(zzznope NOT alpha) OR epsilon") == [3, 5]
    # absent AND operand kills its conjunction only
    assert _ids(tree_eng, "(zzznope alpha) OR epsilon") == [3, 5]
    # whole tree dead -> empty result, not an error
    assert _ids(tree_eng, "(zzznope NOT alpha) OR zzzother") == []


def test_tree_pure_negation_raises(tree_eng):
    # a query satisfiable by documents containing NONE of its terms is
    # unsatisfiable over an inverted index (FTS5 refuses `NOT a` too)
    with pytest.raises(ValueError, match="negation"):
        tree_eng.search("!alpha OR !beta", parser=parse_fts5)
    # hybrid-negated ABSENT term reduces to pure negation after folding
    with pytest.raises(ValueError, match="negation"):
        tree_eng.search("!zzznope OR (alpha NOT beta)", parser=parse_fts5)


def test_tree_scores_bit_identical_to_flat_equivalent(tree_eng):
    """A tree whose surviving structure is flat-equivalent must score
    bit-identically to the flat plan: same scaled_map, same canonical
    fold (0.0-weight NOT-side entries add nothing in IEEE754)."""
    assert parse_fts5("alpha OR beta").tree is None  # flat-lowered
    flat = {
        (r["doc_id"], r["score"])
        for r in tree_eng.search(
            "alpha OR beta", k=100, parser=parse_fts5
        ).df.collect()
    }
    # `alpha OR (beta NOT zzznope)` -> tree (lowering fails before the
    # dictionary is consulted); the dead NOT folds away at evaluation
    tree = {
        (r["doc_id"], r["score"])
        for r in tree_eng.search(
            "alpha OR (beta NOT zzznope)", k=100, parser=parse_fts5
        ).df.collect()
    }
    assert flat == tree and len(flat) > 0


def test_tree_per_leaf_column_filters(tree_eng):
    # one term under two different restrictions is two independent
    # FTS5 phrases — restrictions are per-leaf, never merged
    assert _ids(tree_eng, "text:epsilon OR subject:epsilon") == [3, 5]
    # filtered + free spellings of the same term (conflict falls back
    # from the flat model to the tree — parse_fts5)
    assert parse_fts5("subject:alpha alpha").tree is not None
    assert _ids(tree_eng, "subject:alpha alpha") == [4]
    # nested colspecs intersect to nothing on disjoint columns while
    # the free branch survives
    assert _ids(tree_eng, "text:(subject:alpha OR beta) OR zeta") == [1, 3, 5, 6]
    with pytest.raises(ValueError, match="no such column"):
        tree_eng.search("nope:(alpha OR beta)", parser=parse_fts5)


def test_tree_result_shape_and_k_clamp(tree_eng):
    res = tree_eng.search("alpha OR (beta NOT delta)", k=3, parser=parse_fts5)
    rows = res.df.collect()
    assert res.pruning.get("tree") is True
    assert [f.name for f in res.df.schema.fields] == ["doc_id", "score"]
    assert len(rows) == 3
    # deterministic order: score desc, then key asc
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # legacy parser is untouched by the tree surface
    assert parse_query("alpha OR beta").and_terms == ["alpha", "or", "beta"]


def test_tree_scan_pushes_term_filter(tree_eng):
    """The tree path's scoring scan keeps the flat path's pushed
    predicates: the leaf-term In-filter must reach the parquet scan
    (PLANS.md §12), not evaluate post-scan."""
    res = tree_eng.search(
        "alpha OR (beta NOT text:gamma)", k=5, parser=parse_fts5
    )
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "In(term" in plan
    # the per-leaf field restriction is a pushed Or-filter, and the
    # scoring scan never reads the positions column
    assert "EqualTo(fld,0)" in plan.replace(" ", "")
    pushed_scan = plan[plan.index("PushedFilters"):]
    rs = pushed_scan[pushed_scan.index("ReadSchema"):].split("\n")[0]
    assert "positions" not in rs


PLAN_SHAPES = [
    ("single term", "alpha", parse_fts5),
    ("single term + NOT", "alpha NOT beta", parse_fts5),
    ("AND", "alpha gamma", parse_fts5),
    ("phrase", '"beta gamma"', parse_fts5),
    ("NEAR", "NEAR(alpha gamma, 2)", parse_fts5),
    ("anchor", "^alpha", parse_fts5),
    ("prefix", "al*", parse_fts5),
    ("prefix phrase", '"beta gam"*', parse_fts5),
    ("column filter", "text:alpha", parse_fts5),
    ("tree", "alpha OR (beta NOT delta)", parse_fts5),
    ("websearch OR", "alpha OR zeta", parse_websearch),
]


@pytest.mark.parametrize(
    "q,parser", [(q, p) for _s, q, p in PLAN_SHAPES], ids=[s for s, _q, _p in PLAN_SHAPES]
)
def test_every_shape_runs_one_evaluator_pass(tree_eng, q, parser):
    """Every query shape executes as ONE mapInArrow evaluator pass: no
    mapInPandas matcher, and no semi/anti join on doc_id (the
    range-prune's interval join on block metadata would be allowed)."""
    res = tree_eng.search(q, k=10, parser=parser)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert res.df.count() > 0
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
    joins = [ln for ln in plan.splitlines() if "LeftSemi" in ln or "LeftAnti" in ln]
    assert not [ln for ln in joins if "doc_id" in ln], plan


@pytest.mark.skipif(not _fts5_available(), reason="sqlite without FTS5")
def test_randomized_grammar_differential_vs_live_fts5(spark, workdir):
    """Fuzz the WHOLE raw-FTS5 surface: 60 randomly generated boolean
    queries (terms, phrases, prefixes, NEAR, anchors, column filters,
    +, AND/OR/NOT, parens; depth <= 3) over a 2-column corpus — every
    query live FTS5 accepts must produce the exact same doc set here.
    Deterministic seed; queries FTS5 itself rejects are skipped (ours
    is a tolerant superset)."""
    rng = random.Random(2024)
    vocab = ["alpha", "alps", "beta", "gamma", "delta", "x", "y"]
    rows = [
        (
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))),
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 3))),
        )
        for _ in range(250)
    ]
    db = sqlite3.connect(":memory:")
    db.execute(
        "CREATE VIRTUAL TABLE f USING fts5(text, subject, tokenize='unicode61')"
    )
    for t, s in rows:
        db.execute("INSERT INTO f VALUES (?, ?)", (t, s))

    idx = workdir + "/fuzz_idx"
    sdf = spark.createDataFrame(
        [(i + 1, t, s) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, subject string",
    )
    IndexBuilder(
        spark, idx, key_cols=["doc_id"], text_cols=["text", "subject"],
        meta_cols=[], n_slices=3, block_size=8,
    ).build(sdf)
    eng = SearchEngine(spark, idx)

    def unit() -> str:
        r = rng.random()
        w = lambda: rng.choice(vocab)  # noqa: E731
        if r < 0.30:
            return w()
        if r < 0.45:
            return '"' + " ".join(w() for _ in range(rng.randint(2, 3))) + '"'
        if r < 0.55:
            return w()[: rng.randint(2, 3)] + "*"
        if r < 0.65:
            ops = " ".join(w() for _ in range(rng.randint(2, 3)))
            return f"NEAR({ops}, {rng.randint(0, 4)})"
        if r < 0.72:
            return "^" + w()
        if r < 0.82:
            return rng.choice(["text", "subject"]) + ":" + w()
        if r < 0.90:
            return w() + " + " + w()
        return rng.choice(["text", "subject"]) + ':"' + w() + " " + w() + '"'

    def expr(depth: int) -> str:
        if depth <= 0 or rng.random() < 0.35:
            return unit()
        r = rng.random()
        a, b = expr(depth - 1), expr(depth - 1)
        if r < 0.30:
            return f"{a} OR {b}"
        if r < 0.55:
            return f"{a} AND {b}"
        if r < 0.75:
            return f"{a} NOT {b}"
        if r < 0.90:
            return f"({a} OR {b}) NOT {expr(0)}"
        return f"{a} {b}"  # juxtaposition

    ran = skipped = 0
    for _ in range(60):
        q = expr(3)
        try:
            want = {
                r[0]
                for r in db.execute("SELECT rowid FROM f WHERE f MATCH ?", (q,))
            }
        except sqlite3.OperationalError:
            skipped += 1
            continue
        got = {
            r["doc_id"]
            for r in eng.search(q, k=100, parser=parse_fts5).df.collect()
        }
        ran += 1
        if len(want) <= 100:
            assert got == want, (q, sorted(got - want)[:5], sorted(want - got)[:5])
        else:
            assert len(got) == 100 and got <= want, q
    # the generator must actually exercise the surface
    assert ran >= 40, (ran, skipped)
