"""Independent BM25 / boolean reference evaluator.

Works on the generator's token ids (never on the program's tokenizer or
index): an inverted index in numpy, then the query semantics the
program documents:

- Okapi BM25, k1=1.2, b=0.75, ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)``,
  dl = tokens in the field, avgdl = field tokens / N (per field; the
  transcripts corpus indexes one field, ``text``);
- every distinct positive term scores ``idf * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))``
  when present in the doc; phrase terms score as single terms;
- a prefix ``stem*`` is ONE virtual term: tf summed over the matching
  terms, df = docs holding any of them;
- AND / NOT / OR-of-terms / adjacency phrases / a boolean tree whose
  NOT right operands do not score;
- filters on role, tool presence, strict after / before, conv_id prefix;
- order: score desc (bm25) or ts desc (recency), ties by (conv_id, turn_idx).

A query is a dict: ``all``, ``any``, ``not`` (term lists), ``phrases``
(list of term lists), ``prefix`` (stem), ``tree`` (nested tuples
``("or"|"and"|"not", ...)`` over terms), filters ``role``,
``tool_present``, ``after``, ``before`` (epoch seconds), ``conv_prefix``,
and ``order``.
"""

from __future__ import annotations

import math

import numpy as np

K1, B = 1.2, 0.75


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


class Reference:
    def __init__(self, corpus: dict):
        self.vocab = corpus["vocab"]
        self.term_id = {w: i for i, w in enumerate(self.vocab)}
        self.conv_id = np.asarray(corpus["conv_id"]).astype(str)
        self.turn_idx = np.asarray(corpus["turn_idx"], dtype=np.int64)
        self.role = np.asarray(corpus["role"]).astype(str)
        self.has_tool = np.array([t is not None for t in corpus["tool"]], dtype=bool)
        self.ts = np.asarray(corpus["ts"], dtype=np.int64)
        off = corpus["tok_off"]
        self.ids = np.asarray(corpus["tok_ids"], dtype=np.int64)
        self.N = n = len(self.turn_idx)
        self.dl = np.diff(off).astype(np.float64)
        self.avgdl = float(self.dl.sum() / n) if n else 1.0
        self.doc_of_tok = np.repeat(np.arange(n), np.diff(off))
        V = len(self.vocab)
        pairs, tf = np.unique(self.ids * n + self.doc_of_tok, return_counts=True)
        self.post_doc = pairs % n
        self.post_tf = tf.astype(np.float64)
        self.post_off = np.searchsorted(pairs // n, np.arange(V + 1))
        self.df_arr = np.diff(self.post_off)
        self._keysort = None

    # -- statistics ------------------------------------------------------
    def df(self, term: str) -> int:
        t = self.term_id.get(term)
        return int(self.df_arr[t]) if t is not None else 0

    def _postings(self, term: str):
        t = self.term_id.get(term)
        if t is None:
            return np.empty(0, np.int64), np.empty(0)
        a, b = self.post_off[t], self.post_off[t + 1]
        return self.post_doc[a:b], self.post_tf[a:b]

    def _mask(self, docs: np.ndarray) -> np.ndarray:
        m = np.zeros(self.N, dtype=bool)
        m[docs] = True
        return m

    def _weight(self, docs, tf, df) -> np.ndarray:
        dl = self.dl[docs]
        return idf(self.N, df) * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / self.avgdl))

    def phrase_docs(self, terms: list[str]) -> np.ndarray:
        ids = [self.term_id.get(t, -1) for t in terms]
        if min(ids) < 0:
            return np.empty(0, np.int64)
        L = len(ids)
        n = self.ids.size - L + 1
        m = np.ones(max(n, 0), dtype=bool)
        for j, t in enumerate(ids):
            m &= self.ids[j:j + n] == t
        m &= self.doc_of_tok[:n] == self.doc_of_tok[L - 1:L - 1 + n]
        return np.unique(self.doc_of_tok[:n][m])

    def prefix_postings(self, stem: str):
        terms = [w for w in self.vocab if w.startswith(stem) and self.df(w)]
        if not terms:
            return np.empty(0, np.int64), np.empty(0)
        docs = np.concatenate([self._postings(t)[0] for t in terms])
        tfs = np.concatenate([self._postings(t)[1] for t in terms])
        u, inv = np.unique(docs, return_inverse=True)
        return u, np.bincount(inv, weights=tfs)

    # -- evaluation ------------------------------------------------------
    def _tree_mask(self, node) -> np.ndarray:
        if isinstance(node, str):
            return self._mask(self._postings(node)[0])
        op, *kids = node
        if op == "not":
            return self._tree_mask(kids[0]) & ~self._tree_mask(kids[1])
        masks = [self._tree_mask(k) for k in kids]
        out = masks[0]
        for m in masks[1:]:
            out = (out & m) if op == "and" else (out | m)
        return out

    @staticmethod
    def _tree_scoring(node, out: list):
        if isinstance(node, str):
            out.append(node)
            return out
        op, *kids = node
        for k in kids[:1] if op == "not" else kids:
            Reference._tree_scoring(k, out)
        return out

    def search(self, q: dict, k: int = 10) -> list[tuple[str, int, float]]:
        """Top-k (conv_id, turn_idx, score), in the program's order."""
        match = np.ones(self.N, dtype=bool)
        scoring = list(q.get("all", [])) + list(q.get("any", []))
        for t in q.get("all", []):
            match &= self._mask(self._postings(t)[0])
        if q.get("any"):
            anym = np.zeros(self.N, dtype=bool)
            for t in q["any"]:
                anym |= self._mask(self._postings(t)[0])
            match &= anym
        for ph in q.get("phrases", []):
            match &= self._mask(self.phrase_docs(ph))
            scoring += ph
        for t in q.get("not", []):
            match &= ~self._mask(self._postings(t)[0])
        if q.get("tree") is not None:
            match &= self._tree_mask(q["tree"])
            scoring += self._tree_scoring(q["tree"], [])
        score = np.zeros(self.N)
        for t in dict.fromkeys(scoring):
            docs, tf = self._postings(t)
            if docs.size:
                score[docs] += self._weight(docs, tf, docs.size)
        if q.get("prefix"):
            docs, tf = self.prefix_postings(q["prefix"])
            match &= self._mask(docs)
            if docs.size:
                score[docs] += self._weight(docs, tf, docs.size)
        if q.get("role") is not None:
            match &= self.role == q["role"]
        if q.get("tool_present") is not None:
            match &= self.has_tool == bool(q["tool_present"])
        if q.get("after") is not None:
            match &= self.ts > q["after"]
        if q.get("before") is not None:
            match &= self.ts < q["before"]
        if q.get("conv_prefix"):
            match &= np.char.startswith(self.conv_id, q["conv_prefix"])
        cand = np.flatnonzero(match)
        primary = -self.ts[cand] if q.get("order") == "recency" else -score[cand]
        top = cand[np.lexsort((self.turn_idx[cand], self.conv_id[cand], primary))[:k]]
        return [(str(self.conv_id[i]), int(self.turn_idx[i]), float(score[i])) for i in top]


def compare(got: list, want: list, rel: float = 1e-9) -> str | None:
    """None when ``got`` (list of (conv_id, turn_idx, score)) equals the
    reference top-k in keys and order with scores within ``rel``;
    otherwise a one-line description of the first difference."""
    if [(c, t) for c, t, _ in got] != [(c, t) for c, t, _ in want]:
        for i, (g, w) in enumerate(zip(got, want)):
            if g[:2] != w[:2]:
                return f"rank {i}: got {g[:2]} want {w[:2]} ({len(got)} vs {len(want)} rows)"
        return f"got {len(got)} rows, want {len(want)}"
    for (c, t, g), (_c, _t, w) in zip(got, want):
        if abs(g - w) > rel * max(abs(w), 1e-300):
            return f"score of {(c, t)}: got {g!r} want {w!r}"
    return None
