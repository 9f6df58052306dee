"""Seeded transcript corpus generator.

Every turn is emitted together with the token ids it was rendered from,
so the reference evaluator never needs the program's tokenizer. The
rendering only uses variants whose folded form is known by construction
(FTS5 ``unicode61 remove_diacritics 2``):

- case: ``Word`` / ``WORD`` fold to ``word``;
- punctuation and separators: ``word,`` ``(word`` ``a-b`` ``a_b`` ``a/b``
  split exactly at the punctuation, so each rendered word is one token;
- Latin diacritics: ``é`` / ``ü`` fold to ``e`` / ``u``.

Layout of a corpus (numpy, one row per turn): ``conv_id``, ``turn_idx``,
``role``, ``tool`` (None or a name), ``ts`` (epoch seconds), ``text``,
and the token ids in CSR form (``tok_off`` and ``tok_ids``, ids into
``vocab``). Rows come out in a random (non-monotonic) key order.
"""

from __future__ import annotations

import numpy as np

STOPWORDS = (
    "the", "to", "a", "of", "and", "in", "is", "it", "for", "that",
    "on", "with", "this", "you", "be", "i",
)
# The traffic parameters below (role mix, turn lengths, stopword share,
# Zipf skew, conversation sizes) are assumptions chosen to give short
# user turns, long tool output and a long-tailed vocabulary; none is
# calibrated against real transcripts (README: "Unverified assumptions").
ROLES = ("user", "assistant", "tool", "system")
ROLE_P = (0.34, 0.34, 0.27, 0.05)
TOOLS = ("bash", "search", "browser", "python", "editor")
# (min, max) tokens per turn by role: short user turns, long tool output
ROLE_LEN = {"user": (6, 24), "assistant": (16, 64), "tool": (40, 160), "system": (10, 30)}
# a token is a stopword with probability STOP_P (Zipf s=1 over STOPWORDS),
# otherwise a content word (Zipf s=ZIPF_S, offset ZIPF_Q over the rest)
STOP_P = 0.42
ZIPF_S = 1.07
ZIPF_Q = 2.7
T0 = 1_700_000_000  # first conversation start, epoch seconds
SPAN_S = 60 * 86_400  # conversations start within 60 days

_ONSET = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
          "s", "t", "v", "w", "z", "br", "cr", "st", "pl", "gr", "tr", "sh")
_NUCLEUS = ("a", "e", "i", "o", "u", "ai", "ou", "ea")
_CODA = ("", "", "", "n", "r", "s", "l", "m", "x", "k")


def make_vocab(n_words: int, seed: int) -> list[str]:
    """Stopwords first, then ``n_words`` distinct pseudo-words (2-3
    syllables, lowercase ASCII letters only, so folding is the identity)."""
    rng = np.random.default_rng([seed, 1])
    out, seen = list(STOPWORDS), set(STOPWORDS)
    while len(out) < len(STOPWORDS) + n_words:
        n_syl = int(rng.integers(2, 4))
        w = "".join(
            _ONSET[rng.integers(len(_ONSET))]
            + _NUCLEUS[rng.integers(len(_NUCLEUS))]
            + _CODA[rng.integers(len(_CODA))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def token_probs(n_vocab: int) -> np.ndarray:
    """Probability of each vocab id (stopwords first)."""
    n_stop = len(STOPWORDS)
    ps = 1.0 / np.arange(1, n_stop + 1)
    pc = 1.0 / (np.arange(n_vocab - n_stop) + ZIPF_Q) ** ZIPF_S
    return np.concatenate([STOP_P * ps / ps.sum(), (1 - STOP_P) * pc / pc.sum()])


# rendered-token variants: (probability, kind)
_VARIANTS = (
    ("base", 0.86), ("cap", 0.07), ("upper", 0.02), ("e_acute", 0.03), ("u_uml", 0.02),
)
# separators placed BEFORE a token (first token of a turn gets none)
_SEPS = (" ", ", ", ". ", " (", ") ", "-", "_", "/", ": ", "! ", "? ", "\n")
_SEP_P = (0.78, 0.06, 0.04, 0.015, 0.015, 0.02, 0.015, 0.01, 0.02, 0.005, 0.005, 0.01)


def _render_table(vocab: list[str]) -> tuple[np.ndarray, np.ndarray, int]:
    """UTF-8 bytes of every (word, variant) rendering, as one flat buffer
    with offsets; variant v of word w is piece ``w * n_var + v``."""
    pieces = []
    for w in vocab:
        for kind, _p in _VARIANTS:
            if kind == "base":
                s = w
            elif kind == "cap":
                s = w[:1].upper() + w[1:]
            elif kind == "upper":
                s = w.upper()
            elif kind == "e_acute":
                s = w.replace("e", "é", 1)
            else:
                s = w.replace("u", "ü", 1)
            pieces.append(s.encode())
    for sep in _SEPS:
        pieces.append(sep.encode())
    lens = np.array([len(p) for p in pieces], dtype=np.int64)
    off = np.zeros(len(pieces) + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    buf = np.frombuffer(b"".join(pieces), dtype=np.uint8)
    return buf, off, len(_VARIANTS)


def generate(n_turns: int, seed: int, n_words: int = 40_000, vocab: list[str] | None = None,
             t_start: int = T0, span_s: int = SPAN_S, key_salt: int = 0) -> dict:
    """Generate ``n_turns`` turns. Same arguments, same corpus.

    ``key_salt`` separates the key spaces of corpora generated from one
    seed (base corpus vs. ingest batches)."""
    rng = np.random.default_rng([seed, 2, key_salt])
    vocab = vocab or make_vocab(n_words, seed)
    V = len(vocab)
    # conversations of 1..12 turns, random 48-bit hex conv ids
    sizes = rng.integers(1, 13, size=n_turns // 3 + 8)
    ends = np.cumsum(sizes)
    n_conv = int(np.searchsorted(ends, n_turns) + 1)
    sizes = sizes[:n_conv].copy()
    sizes[-1] -= int(ends[n_conv - 1] - n_turns)
    conv_nums = rng.choice(1 << 40, size=n_conv, replace=False) | (key_salt << 44)
    conv_of = np.repeat(np.arange(n_conv), sizes)
    turn_idx = np.arange(n_turns) - np.repeat(np.cumsum(sizes) - sizes, sizes)
    conv_start = t_start + rng.integers(0, span_s, size=n_conv)
    ts = conv_start[conv_of] + turn_idx * 37
    role_i = rng.choice(len(ROLES), size=n_turns, p=ROLE_P)
    tool_i = np.where(
        role_i == ROLES.index("tool"),
        rng.integers(0, len(TOOLS), size=n_turns),
        np.where(
            (role_i == ROLES.index("assistant")) & (rng.random(n_turns) < 0.2),
            rng.integers(0, len(TOOLS), size=n_turns),
            -1,
        ),
    )
    lo = np.array([ROLE_LEN[r][0] for r in ROLES])[role_i]
    hi = np.array([ROLE_LEN[r][1] for r in ROLES])[role_i]
    n_tok = lo + (rng.random(n_turns) * (hi - lo + 1)).astype(np.int64)
    tok_off = np.zeros(n_turns + 1, dtype=np.int64)
    np.cumsum(n_tok, out=tok_off[1:])
    total = int(tok_off[-1])
    cdf = np.cumsum(token_probs(V))
    tok_ids = np.minimum(np.searchsorted(cdf, rng.random(total)), V - 1).astype(np.int32)

    buf, off, n_var = _render_table(vocab)
    var_p = np.array([p for _k, p in _VARIANTS])
    variant = rng.choice(n_var, size=total, p=var_p / var_p.sum())
    # variants that do not change the word (no 'e' / no 'u') stay base
    sep_p = np.array(_SEP_P)
    sep = rng.choice(len(_SEPS), size=total, p=sep_p / sep_p.sum())
    sep_piece = V * n_var + sep
    sep_piece[tok_off[:-1][n_tok > 0]] = -1  # no separator before a turn's first token
    tok_piece = tok_ids.astype(np.int64) * n_var + variant
    # interleave [sep, token] per token; drop the -1 separators
    pieces = np.empty(2 * total, dtype=np.int64)
    pieces[0::2] = sep_piece
    pieces[1::2] = tok_piece
    keep = pieces >= 0
    doc_of_piece = np.repeat(np.arange(n_turns), 2 * n_tok)[keep]
    pieces = pieces[keep]
    plen = off[pieces + 1] - off[pieces]
    pstart = off[pieces]
    out_off = np.zeros(pieces.size + 1, dtype=np.int64)
    np.cumsum(plen, out=out_off[1:])
    idx = np.repeat(pstart - out_off[:-1], plen) + np.arange(int(out_off[-1]))
    flat = buf[idx].tobytes()
    doc_byte_off = np.zeros(n_turns + 1, dtype=np.int64)
    first_piece = np.searchsorted(doc_of_piece, np.arange(n_turns + 1))
    doc_byte_off[:] = out_off[first_piece]
    text = np.array(
        [flat[doc_byte_off[i]:doc_byte_off[i + 1]].decode() for i in range(n_turns)],
        dtype=object,
    )
    conv_names = np.array([f"c{x:012x}" for x in conv_nums], dtype=object)
    ordered = {
        "vocab": vocab,
        "conv_id": conv_names[conv_of],
        "turn_idx": turn_idx.astype(np.int32),
        "role": np.array(ROLES, dtype=object)[role_i],
        "tool": np.array(list(TOOLS) + [None], dtype=object)[tool_i],
        "ts": ts.astype(np.int64),
        "text": text,
        "tok_off": tok_off,
        "tok_ids": tok_ids,
    }
    # random (non-monotonic) row order
    return subset(ordered, rng.permutation(n_turns))


def subset(c: dict, rows: np.ndarray) -> dict:
    """Rows ``rows`` of corpus ``c`` (same vocab), token CSR re-packed."""
    lens = (c["tok_off"][1:] - c["tok_off"][:-1])[rows]
    off = np.zeros(rows.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    starts = c["tok_off"][:-1][rows]
    idx = np.repeat(starts - off[:-1], lens) + np.arange(int(off[-1]))
    out = {k: c[k][rows] for k in ("conv_id", "turn_idx", "role", "tool", "ts", "text") if k in c}
    out.update(vocab=c["vocab"], tok_off=off, tok_ids=c["tok_ids"][idx])
    return out


def concat(parts: list[dict]) -> dict:
    out = {k: np.concatenate([p[k] for p in parts]) for k in ("conv_id", "turn_idx", "role", "tool", "ts", "text", "tok_ids")}
    lens = np.concatenate([p["tok_off"][1:] - p["tok_off"][:-1] for p in parts])
    off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    out.update(vocab=parts[0]["vocab"], tok_off=off)
    return out


def to_arrow(c: dict):
    """The transcripts-schema Arrow table of a corpus."""
    import pyarrow as pa

    return pa.table({
        "conv_id": pa.array(c["conv_id"], pa.string()),
        "turn_idx": pa.array(c["turn_idx"], pa.int32()),
        "role": pa.array(c["role"], pa.string()),
        "text": pa.array(c["text"], pa.string()),
        "tool": pa.array(c["tool"], pa.string()),
        "ts": pa.array(c["ts"] * 1_000_000, pa.timestamp("us", tz="UTC")),
    })


def text_bytes(c: dict) -> int:
    return int(sum(len(t.encode()) for t in c["text"]))
