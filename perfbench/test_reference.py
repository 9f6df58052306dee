"""The reference evaluator against the hand-derived golden cases of
FIXTURES.md sections 2 and 3 (six turns of conversation ``c1``), and the
corpus generator's tokens against the program's tokenizer.

Run: ``python3 -m pytest perfbench/test_reference.py`` or
``python3 perfbench/test_reference.py``.
"""

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from reference import Reference, compare  # noqa: E402

TEXTS = [
    "this is a sample status",
    "this is a sample reply",
    "this is a sample media status",
    "this is a sample bot status",
    "this is an example status",
    "this is an example status with a keyword",
]
ROLES = ["user", "assistant", "user", "assistant", "user", "user"]
TOOLS = [None, None, "attach", "bot", None, None]


def fixture() -> Reference:
    vocab = sorted({w for t in TEXTS for w in t.split()})
    tid = {w: i for i, w in enumerate(vocab)}
    toks = [[tid[w] for w in t.split()] for t in TEXTS]
    off = np.zeros(len(TEXTS) + 1, dtype=np.int64)
    np.cumsum([len(t) for t in toks], out=off[1:])
    return Reference({
        "vocab": vocab,
        "conv_id": np.array(["c1"] * 6, dtype=object),
        "turn_idx": np.arange(6),
        "role": np.array(ROLES, dtype=object),
        "tool": np.array(TOOLS, dtype=object),
        "ts": 1_700_000_000 + np.arange(6),
        "tok_off": off,
        "tok_ids": np.concatenate(toks),
    })


def turns(ref, q, k=10):
    return [t for _c, t, _s in ref.search(q, k)]


def test_core_search_fixture():
    ref = fixture()
    assert sorted(turns(ref, {"all": ["example"]})) == [4, 5]
    assert turns(ref, {"all": ["keyword", "example"]}) == [5]
    assert turns(ref, {"all": ["example"], "not": ["keyword"]}) == [4]
    # "sample media status" is not adjacent
    assert turns(ref, {"phrases": [["sample", "status"]]}) == [0]


def test_structured_filter_fixture():
    ref = fixture()
    assert sorted(turns(ref, {"all": ["sample"], "role": "assistant"})) == [1, 3]
    assert sorted(turns(ref, {"all": ["status"], "tool_present": True})) == [2, 3]
    assert sorted(turns(ref, {"all": ["status"], "after": 1_700_000_002})) == [3, 4, 5]
    assert turns(ref, {"all": ["example"], "before": 1_700_000_004}) == []
    assert sorted(turns(ref, {"all": ["status"], "conv_prefix": "c1"})) == [0, 2, 3, 4, 5]
    # limit 1, then keyset `before` the last result's ts: next page, no overlap
    first = ref.search({"all": ["status"], "order": "recency"}, k=1)
    assert [t for _c, t, _s in first] == [5]
    nxt = ref.search({"all": ["status"], "order": "recency", "before": 1_700_000_005}, k=1)
    assert [t for _c, t, _s in nxt] == [4]


def test_bm25_scores_by_hand():
    # "example": N=6, df=2; dl(4)=5, dl(5)=8; avgdl = (5+5+6+6+5+8)/6 = 35/6
    ref = fixture()
    idf = math.log((6 - 2 + 0.5) / (2 + 0.5) + 1)
    want = [
        ("c1", 4, idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 5 / (35 / 6)))),
        ("c1", 5, idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 8 / (35 / 6)))),
    ]
    assert compare(ref.search({"all": ["example"]}), want) is None
    # the shorter doc ranks first; equal scores fall back to (conv_id, turn_idx)
    assert turns(ref, {"all": ["this"]}) == [0, 1, 4, 2, 3, 5]


def test_or_prefix_and_tree():
    ref = fixture()
    assert sorted(turns(ref, {"any": ["reply", "keyword"]})) == [1, 5]
    # sample* expands to one term: same scores as the term itself
    assert ref.search({"prefix": "sampl"}) == ref.search({"all": ["sample"]})
    # reply OR (example NOT keyword); "keyword" never scores
    got = ref.search({"tree": ("or", "reply", ("not", "example", "keyword"))})
    assert sorted(t for _c, t, _s in got) == [1, 4]
    assert compare(got, ref.search({"any": ["reply", "example"], "not": ["keyword"]})) is None


def test_generated_tokens_fold_as_emitted():
    # the case / punctuation / diacritic variants fold back to the emitted
    # tokens under the program's FTS5 tokenizer
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from aspublic_spark.functions.tokenizer import tokenize
    from corpus import generate

    c = generate(2_000, seed=5)
    vocab = np.array(c["vocab"], dtype=object)
    for i, text in enumerate(c["text"]):
        want = list(vocab[c["tok_ids"][c["tok_off"][i]:c["tok_off"][i + 1]]])
        assert tokenize(text) == want, text


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
