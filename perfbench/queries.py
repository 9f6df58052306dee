"""Seeded query families, each as HTTP parameters plus the same query
for the reference evaluator.

Terms are drawn Zipf-wise from the corpus vocabulary (the generator's
own frequencies), so head terms repeat across queries and tail terms
mostly do not.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

from corpus import STOPWORDS, token_probs

FAMILIES = (
    "single_tail", "single_head", "and2", "and_not", "phrase2", "phrase3",
    "prefix", "filtered", "recency", "or_tree", "long_natural",
)
N_STOP = len(STOPWORDS)
HEAD, MID = 64, 2048  # content-word rank bands: head [0, 64), mid [64, 2048)


def iso(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).isoformat()


class QueryMaker:
    def __init__(self, ref, corpus: dict, rng: np.random.Generator):
        self.ref, self.c, self.rng = ref, corpus, rng
        V = len(ref.vocab)
        p = token_probs(V)
        present = ref.df_arr > 0
        self.bands = {}
        for name, lo, hi in (("head", 0, HEAD), ("mid", HEAD, MID), ("tail", MID, V)):
            ids = np.arange(N_STOP + lo, min(N_STOP + hi, V))
            ids = ids[present[ids] & ((ref.df_arr[ids] >= 2) if name == "tail" else True)]
            w = p[ids]
            self.bands[name] = (ids, w / w.sum())
        band_all = np.concatenate([self.bands["head"][0], self.bands["mid"][0]])
        w = p[band_all]
        self.bands["headmid"] = (band_all, w / w.sum())

    def term(self, band: str) -> str:
        ids, w = self.bands[band]
        return self.ref.vocab[int(self.rng.choice(ids, p=w))]

    def terms(self, band: str, n: int) -> list[str]:
        out = []
        while len(out) < n:
            t = self.term(band)
            if t not in out:
                out.append(t)
        return out

    def _phrase(self, length: int) -> list[str]:
        off, ids, vocab = self.c["tok_off"], self.c["tok_ids"], self.ref.vocab
        while True:
            d = int(self.rng.integers(len(off) - 1))
            n = off[d + 1] - off[d]
            if n < length:
                continue
            s = off[d] + int(self.rng.integers(n - length + 1))
            seg = [int(x) for x in ids[s:s + length]]
            if len(set(seg)) == length and max(seg) >= N_STOP:
                return [vocab[x] for x in seg]

    def make(self, family: str, k: int = 10) -> dict:
        """One query of ``family``; resampled (from the same stream) until
        the reference finds at least one hit."""
        for _ in range(50):
            q = self._draw(family)
            q["k"] = k
            if family == "long_natural" or self.ref.search(q["ref"], 1):
                return q
        return q

    def _draw(self, family: str) -> dict:
        r = self.rng
        if family == "single_tail":
            t = self.term("tail")
            return {"family": family, "params": {"q": t}, "ref": {"all": [t]}, "terms": [t]}
        if family == "single_head":
            t = self.term("head")
            return {"family": family, "params": {"q": t}, "ref": {"all": [t]}, "terms": [t]}
        if family == "and2":
            a, b = self.terms("headmid", 2)
            return {"family": family, "params": {"q": f"{a} {b}"}, "ref": {"all": [a, b]}, "terms": [a, b]}
        if family == "and_not":
            a, b = self.terms("headmid", 2)
            c = self.term("head")
            while c in (a, b):
                c = self.term("head")
            return {"family": family, "params": {"q": f"{a} {b} !{c}"},
                    "ref": {"all": [a, b], "not": [c]}, "terms": [a, b, c]}
        if family in ("phrase2", "phrase3"):
            ph = self._phrase(2 if family == "phrase2" else 3)
            return {"family": family, "params": {"q": '"' + " ".join(ph) + '"'},
                    "ref": {"phrases": [ph]}, "terms": ph}
        if family == "prefix":
            t = self.term("headmid")
            stem = t[:3]
            return {"family": family, "params": {"q": stem + "*", "fts5": "1"},
                    "ref": {"prefix": stem}, "terms": [stem + "*"]}
        if family == "filtered":
            t = self.term("headmid")
            kind = ("role", "tool_present", "after", "before", "conv_prefix")[int(r.integers(5))]
            params, ref = {"q": t}, {"all": [t]}
            if kind == "role":
                role = ("user", "assistant", "tool", "system")[int(r.integers(4))]
                params["role"], ref["role"] = role, role
            elif kind == "tool_present":
                v = bool(r.integers(2))
                params["tool_present"], ref["tool_present"] = ("1" if v else "0"), v
            elif kind in ("after", "before"):
                ts = self.c["ts"]
                cut = int(np.quantile(ts, r.uniform(0.2, 0.8)))
                params[kind], ref[kind] = iso(cut), cut
            else:
                cid = self.c["conv_id"][int(r.integers(len(self.c["conv_id"])))]
                params["conv_prefix"] = ref["conv_prefix"] = cid[:6]
            return {"family": family, "params": params, "ref": ref, "terms": [t]}
        if family == "recency":
            t = self.term("headmid")
            return {"family": family, "params": {"q": t, "order": "recency"},
                    "ref": {"all": [t], "order": "recency"}, "terms": [t]}
        if family == "or_tree":
            a, b = self.terms("mid", 2)
            c = self.term("head")
            return {"family": family, "params": {"q": f"{a} OR ({b} NOT {c})", "fts5": "1"},
                    "ref": {"tree": ("or", a, ("not", b, c))}, "terms": [a, b, c]}
        if family == "long_natural":
            return long_natural(self.ref)
        raise ValueError(family)


def long_natural(ref) -> dict:
    """The fixed long natural-language OR query of a corpus: the six most
    frequent stopwords and the two most frequent content words. It does
    not depend on the run seed."""
    order = np.argsort(-ref.df_arr[N_STOP:], kind="stable") + N_STOP
    words = [ref.vocab[i] for i in range(6)] + [ref.vocab[int(i)] for i in order[:2]]
    return {"family": "long_natural", "params": {"q": " OR ".join(words), "websearch": "1"},
            "ref": {"any": words}, "terms": words,
            "total_df": int(sum(ref.df(w) for w in words))}
