"""Differential test for the packed phrase matcher.

The query evaluator's vectorized phrase match (codec.decode_blocks
position decode — record split via tfs, grouped cumsum — then
engine._phrase_set_from_cat's int64 key packing and np.intersect1d
chain) is checked
against a brute-force Python reference over randomized corpora: build a
real index, run phrase queries through SearchEngine, and compare with
naive token-window scanning of the source text.
"""

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aspublic_spark.functions.tokenizer import tokenize
from aspublic_spark.index.build import IndexBuilder
from aspublic_spark.query.engine import SearchEngine

VOCAB = ["alpha", "beta", "gamma", "delta", "alpha"]  # skew toward alpha


def _naive_phrase_docs(rows, phrase):
    out = set()
    for conv, turn, text in rows:
        toks = tokenize(text)
        n = len(phrase)
        for i in range(len(toks) - n + 1):
            if toks[i : i + n] == phrase:
                out.add((conv, turn))
                break
    return out


@pytest.fixture(scope="module")
def phrase_corpus(spark, workdir):
    import random

    rng = random.Random(1234)
    rows = [
        (f"c{i:04d}", 0, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 30))))
        for i in range(80)  # <= k clamp (100) even if every doc matches
    ]
    idx = os.path.join(workdir, "phrase_prop_idx")
    df = spark.createDataFrame(
        [(c, t, "user", x, None, None) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    IndexBuilder(
        spark, idx, key_cols=["conv_id", "turn_idx"], text_col="text",
        meta_cols=["role", "tool", "ts"], n_slices=3, block_size=4,
    ).build(df)
    return rows, SearchEngine(spark, idx)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    phrase=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta"]), min_size=2, max_size=4
    )
)
def test_packed_phrase_matches_naive_scan(phrase_corpus, phrase):
    rows, eng = phrase_corpus
    q = '"' + " ".join(phrase) + '"'
    got = {
        (r["conv_id"], r["turn_idx"]) for r in eng.search(q, k=100).df.collect()
    }
    want = _naive_phrase_docs(rows, phrase)
    # engine returns top-k (k=100); naive set may exceed k only if >100
    # docs match — keep the corpus small enough that it never does
    assert len(want) <= 100
    assert got == want, (phrase, got ^ want)


def test_packed_phrase_repeated_term(phrase_corpus):
    rows, eng = phrase_corpus
    got = {
        (r["conv_id"], r["turn_idx"])
        for r in eng.search('"alpha alpha"', k=100).df.collect()
    }
    want = _naive_phrase_docs(rows, ["alpha", "alpha"])
    assert len(want) > 0 and got == want
