"""BM25 query engine over the packed inverted index.

Executes the reference's whole search surface (viewer.py
``/api/unstable/search`` -> db_sqlite.search, db_sqlite.py:62-144).
Every query — the sqlite-style and websearch surfaces (AND terms,
phrases, NOT terms and groups, OR groups; Q2-Q5) and the raw-FTS5
boolean grammar (NEAR, ``^`` anchors, prefixes, per-leaf column
filters) — becomes one boolean tree over term, phrase and NEAR leaves,
and ONE evaluator answers it: the query terms' packed blocks are
repartitioned by doc-hash slice (so every posting of a doc meets in
one task) and a single mapInArrow pass decodes them, sums BM25 per doc
and evaluates the tree over per-doc presence and positional masks.
Postings name a doc by its ordinal within its (generation, slice); the
evaluator keys docs by (gen, slice, ord) packed into one int64
(:func:`doc_key_col`) and the docs join uses the same key.
Around it:

- tri-state role/tool, time range, conv_id prefix -> pushed-down
  structured predicates on the docs table (Q6-Q8)
- index->row join           -> final join of scored doc ids back to
  docs / source table (Q9)
- top-k                     -> TakeOrderedAndProject via
  orderBy(...).limit(k), by BM25 (score desc, key asc — deterministic
  tie-break, stricter than the reference's scan-order ties) or by
  recency like the reference default (Q10, db_sqlite.py:131)
- scoring                   -> Okapi BM25 k1=1.2 b=0.75 (Q11), the
  latent capability of the FTS5 index the reference builds

plus block-max pruning for flat queries over enough postings: packed
blocks carry (min_doc, max_doc, max_tf, min_dl); the engine reads
block METADATA first (Parquet column pruning — the varint payloads
are not touched), computes each block's score upper bound AT QUERY
TIME from (max_tf, min_dl) under the current per-field avgdl (safe
under cross-generation avgdl drift — a pack-time bound would go
stale), establishes a score threshold from a cheap partial pass, and
drops blocks that provably cannot contribute a top-k document, plus
doc-range intersection pruning for AND queries. Both prunes return the
exhaustive plan's results only while every stored block's doc ids
ascend and its (min_doc, max_doc) are their extremes —
``IndexBuilder.verify()`` checks that on an existing index, and the
tests compare pruned with exhaustive top-k on indexes keyed by
descending and random user keys.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, replace
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aspublic_spark import BM25_B, BM25_K1
from aspublic_spark.index import codec
from aspublic_spark.index.build import (
    GEN_BITS,
    ORD_BITS,
    SLICE_BITS,
    dictionary_location,
    live_gens,
    read_index_meta,
    read_stats,
)
from aspublic_spark.index.fsio import fs_for
from aspublic_spark.query.parser import Node, ParsedQuery, _col_conflicts, parse_query

_UNPACK_SCHEMA = "term string, fld int, doc_key long, tf int, dl int"
_UNPACK_POS_SCHEMA = _UNPACK_SCHEMA + ", positions array<int>"


def doc_key_col(gens: tuple):
    """A docs row's 64-bit doc key, ``rank << 43 | slice << 31 | ord``,
    where rank is the row's generation's index in ``gens`` (the
    engine's pinned live generations, ascending) — the bit budget of
    build.py: GEN_BITS / SLICE_BITS / ORD_BITS."""
    rank = F.create_map(*[x for i, g in enumerate(gens) for x in (F.lit(g), F.lit(i))])
    return (
        F.shiftleft(rank[F.col("gen")].cast("long"), SLICE_BITS + ORD_BITS)
        .bitwiseOR(F.shiftleft(F.col("slice").cast("long"), ORD_BITS))
        .bitwiseOR(F.col("ord").cast("long"))
    )


def _block_doc_keys(batch, d: dict, gens: np.ndarray) -> np.ndarray:
    """Per-posting doc keys (:func:`doc_key_col`) of decoded block rows
    (``d`` from codec.decode_blocks): each block row's generation rank
    in ``gens`` and slice with each posting's ordinal, every field
    checked against its bit budget."""
    gen = batch.column("gen").to_numpy(zero_copy_only=False).astype(np.int64)
    rank = np.searchsorted(gens, gen)
    if (rank >= gens.size).any() or (gens[np.minimum(rank, gens.size - 1)] != gen).any():
        raise RuntimeError("a block's generation is not in the engine's snapshot")
    sl = batch.column("slice").to_numpy(zero_copy_only=False).astype(np.int64)
    ords = d["ord"]
    for v, bits in ((sl, SLICE_BITS), (ords, ORD_BITS)):
        if v.min() < 0 or v.max() >= 1 << bits:
            raise RuntimeError("doc key overflow: (slice, ord) out of its bit budget")
    return ((rank << (SLICE_BITS + ORD_BITS)) | (sl << ORD_BITS))[d["blk"]] | ords

# scoring-map keys are "term\x00fld" strings (NUL never survives the
# FTS5 tokenizer, so the concatenation is unambiguous)
def _tf_key(term: str, fld: int) -> str:
    return f"{term}\x00{fld}"


def _tf_key_col():
    return F.concat_ws("\x00", F.col("term"), F.col("fld").cast("string"))


def _unpack_arrow_factory(with_positions: bool, gens: tuple):
    """mapInArrow fn: packed block rows (with ``gen`` and ``slice``) ->
    per-posting rows (_UNPACK_SCHEMA), each doc named by its doc key
    over the live generations ``gens``. Fully vectorized via
    :func:`codec.decode_blocks`."""
    import pyarrow as pa

    gens = np.asarray(gens, dtype=np.int64)

    def unpack(batches):
        for batch in batches:
            d = codec.decode_blocks(batch, "values" if with_positions else None)
            if d is None:
                continue
            blk = d["blk"]
            term_col = batch.column("term")
            if isinstance(term_col, pa.ChunkedArray):
                term_col = term_col.combine_chunks()
            fld_np = batch.column("fld").to_numpy(zero_copy_only=False).astype(np.int32)
            cols = [
                term_col.take(pa.array(blk)),
                pa.array(fld_np[blk], type=pa.int32()),
                pa.array(_block_doc_keys(batch, d, gens), type=pa.int64()),
                pa.array(d["tf"].astype(np.int32), type=pa.int32()),
                pa.array(d["dl"].astype(np.int32), type=pa.int32()),
            ]
            names = ["term", "fld", "doc_key", "tf", "dl"]
            if with_positions:
                offs = np.zeros(d["tf"].size + 1, dtype=np.int32)
                np.cumsum(d["tf"], out=offs[1:])
                cols.append(
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()),
                        pa.array(d["pos"].astype(np.int32), type=pa.int32()),
                    )
                )
                names.append("positions")
            yield pa.record_batch(cols, names=names)

    return unpack

def _near_set_from_cat(cat: dict, uniq: list, span: int) -> np.ndarray:
    """NEAR evaluation over a per-partition occurrence catalog
    (term -> (docs, flds, positions)); returns the doc ids where ONE
    occurrence of each DISTINCT operand phrase in ``uniq`` can be
    chosen within a single field such that max(start) - min(end) <=
    ``span`` (= n + 1) over the chosen occurrence intervals [start,
    end]. An operand is a tuple of slots, a slot a tuple of terms any
    of which fills it. The partition holds complete doc-hash slices,
    so the result is exact.

    That is FTS5's observable ``NEAR(p1 .. pk, n)`` semantics — pinned
    by randomized live-FTS5 differentials (tests): for single-token
    operands it reduces to max(pos) - min(pos) <= n + 1 (k-independent,
    NOT the documented span formula); duplicate operands collapse
    (NEAR(a a, 0) matches a lone 'a'); matching never spans columns.

    Vectorized: occurrences pack into the phrase matcher's int64 keys
    (doc rank << 32 | fld << 24 | pos); a phrase operand's start
    keys are the same offset-corrected np.intersect1d chain. Every
    operand occurrence's END key is a candidate for min(end); at anchor
    e, operand i (length L) matches iff it has a start in
    [e - L + 1, e + span] within the same (doc, fld) group — one
    searchsorted per operand. The lower bound clamps to the group base;
    positions cap at 2^24-1 and the group-equality check rejects
    cross-field hits."""
    empty = np.empty(0, dtype=np.int64)
    live_ops = []
    for op in uniq:
        slots = []
        for sl in op:
            members = [t for t in sl if t in cat]
            if not members:
                return empty
            slots.append(members)
        live_ops.append(slots)
    allterms = sorted({t for op in live_ops for sl in op for t in sl})
    alldocs = np.unique(np.concatenate([cat[t][0] for t in allterms]))

    def keys(t: str, off: int) -> np.ndarray:
        d, f, p = cat[t]
        ok = p >= off
        o = np.searchsorted(alldocs, d[ok])
        return np.unique((o << 32) | (f[ok] << 24) | (p[ok] - off))

    def slot_keys(members: list, off: int) -> np.ndarray:
        if len(members) == 1:
            return keys(members[0], off)
        return np.unique(np.concatenate([keys(t, off) for t in members]))

    starts = {}
    for i, op in enumerate(live_ops):
        ks = slot_keys(op[0], 0)
        for off in range(1, len(op)):
            if ks.size == 0:
                break
            ks = np.intersect1d(ks, slot_keys(op[off], off), assume_unique=True)
        if ks.size == 0:
            return empty
        starts[i] = ks
    anchors = np.unique(
        np.concatenate(
            [starts[i] + (len(op) - 1) for i, op in enumerate(live_ops)]
        )
    )
    ok = np.ones(anchors.size, dtype=bool)
    grp = anchors >> 24  # (doc rank, fld)
    base = grp << 24
    for i, op in enumerate(live_ops):
        ks = starts[i]
        lo = np.maximum(anchors - (len(op) - 1), base)
        idx = np.searchsorted(ks, lo)
        hit = idx < ks.size
        v = ks[np.minimum(idx, ks.size - 1)]
        ok &= hit & (v <= anchors + span) & ((v >> 24) == grp)
    return (
        alldocs[np.unique(anchors[ok] >> 32)]
        if ok.any()
        else empty
    )

def _phrase_set_from_cat(cat: dict, slots: list, anchored: bool) -> np.ndarray:
    """Phrase/anchor evaluation over a per-partition occurrence catalog
    (term -> (docs, flds, positions)); returns the matching doc ids.
    Each slot is a tuple of terms, ANY of which fills it (a plain token
    is a 1-member slot; a prefix marker is the stem's expansion).

    Vectorized: each term's (doc, fld, pos-offset) triples pack into
    int64 keys (doc rank << 32 | fld << 24 | pos) and the phrase
    match is a chain of np.intersect1d — no per-posting Python. The
    partition holds complete doc-hash slices, so the result is exact."""
    empty = np.empty(0, dtype=np.int64)
    live_slots: list[list[str]] = []
    for slot in slots:
        members = [t for t in slot if t in cat]
        if not members:
            return empty
        live_slots.append(members)
    allterms = sorted({t for m in live_slots for t in m})
    alldocs = np.unique(np.concatenate([cat[t][0] for t in allterms]))

    def keys(t: str, off: int) -> np.ndarray:
        d, f, p = cat[t]
        ok = p >= off
        o = np.searchsorted(alldocs, d[ok])
        return np.unique((o << 32) | (f[ok] << 24) | (p[ok] - off))

    def slot_keys(members: list[str], off: int) -> np.ndarray:
        if len(members) == 1:
            return keys(members[0], off)
        return np.unique(np.concatenate([keys(t, off) for t in members]))

    ks = sorted(
        (slot_keys(m, off) for off, m in enumerate(live_slots)),
        key=lambda a: a.size,
    )
    cur = ks[0]
    for nxt in ks[1:]:
        if cur.size == 0:
            break
        cur = np.intersect1d(cur, nxt, assume_unique=True)
    if anchored and cur.size:
        # FTS5 ^-anchor: the window must START the column — keep
        # only matches whose first-token position is 0 (the packed
        # key's low 24 bits are the offset-corrected position)
        cur = cur[(cur & 0xFFFFFF) == 0]
    return (
        alldocs[np.unique(cur >> 32)]
        if cur.size
        else empty
    )


def _fused_score_factory(spec: dict):
    """mapInArrow fn, the engine's one query evaluator: over the PACKED
    blocks of a query it unpacks, scores and evaluates the query's
    boolean tree in ONE Python pass, emitting the matching
    ``(doc_key, score)`` set.

    Postings carry doc ordinals; each doc is keyed by (gen, slice, ord)
    packed into one int64 (:func:`doc_key_col`, the generation as its
    rank in ``spec["gens"]``): ``gen`` and ``slice`` ride the block
    rows (path partitions), the ordinal the decoded ``doc_gaps``. A doc present in two generations (a late duplicate
    before compaction) is two keys and scores per copy. The
    evaluation is partition-local, so it is exact only when every
    posting of a doc sits in one partition: the caller repartitions by
    ``slice`` (slice = hash(doc_id) co-locates every term's postings
    for a doc), or keeps the scan partitions when the query reads a
    single (term, fld) and no NOT side (each doc has one posting).

    Rows carry a ``_neg`` flag: the positive side holds the terms of
    SCORING leaves (block-max pruning may thin it), the NOT side the
    terms of leaves under a NOT (never theta-pruned). A term on both
    sides is read twice, and each leaf reads only its own side.

    Documents considered are those with a scoring posting. A doc
    holding none of the scoring leaves' terms can match only through a
    leaf under two negations (``!a NOT !b`` is ``b AND NOT a``): when
    the tree has one (``neg_universe``), NOT-side postings enter the
    fold too, with weight 0.0 (x + 0.0 == x, so no score changes).

    Scores are bit-identical across any partitioning (north-rule rank
    identity): each posting's BM25 weight is one elementwise double
    expression, tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)),
    and per-doc contributions are summed SEQUENTIALLY in canonical
    (label, fld, w) ascending order (the j-th item of every doc's sorted run is added
    in iteration j — never a pairwise numpy reduction, whose different
    association would drift last ulps). A prefix stem scores as ONE
    virtual label ``stem*`` per (doc, fld) with tf summed over its
    expansion terms (FTS5's bm25 counts a prefix as a single phrase; a
    term shared by two stems counts toward each).

    ``spec`` is pure picklable data: gens, need_pos, neg_universe, scaled
    {(label, fld): weight * idf}, avgdl {fld: a}, stems
    {label: (terms, flds)} and the tree. Tree nodes are ``("and",
    kids)``, ``("or", kids)``, ``("not", (left, right))``, ``("unot",
    (kid,))`` and three leaves: ``("has", neg, terms, flds)`` — any of
    the terms in any of the fields; ``("phrase", neg, slots, flds,
    anchored)``; ``("near", neg, ops, span, flds)`` — one occurrence of
    each op within one field, max(start) - min(end) <= span. A slot is
    a tuple of terms any of which fills it, an op a tuple of slots,
    and ``flds`` None for every field."""
    import pyarrow as pa

    k1p1 = BM25_K1 + 1.0
    gens = np.asarray(spec["gens"], dtype=np.int64)

    def run(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list).combine_chunks()
        if tbl.num_rows == 0:
            return
        rb = tbl.to_batches()[0]
        d = codec.decode_blocks(rb, "values" if spec["need_pos"] else None)
        if d is None:
            return
        blk = d["blk"]
        de = rb.column("term").dictionary_encode()
        tstrings = de.dictionary.to_pylist()
        code_p = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)[blk]
        fld_p = rb.column("fld").to_numpy(zero_copy_only=False).astype(np.int64)[blk]
        neg_p = rb.column("_neg").to_numpy(zero_copy_only=False).astype(bool)[blk]
        doc_p, tf_p, dl_p = _block_doc_keys(rb, d, gens), d["tf"], d["dl"]
        code_of = {t: i for i, t in enumerate(tstrings)}
        labels = tstrings + list(spec["stems"])
        label_of = {t: i for i, t in enumerate(labels)}
        n_fld = max(spec["avgdl"]) + 1 if spec["avgdl"] else 1

        def rows_of(terms, neg: bool, flds) -> np.ndarray:
            """Posting mask: any of ``terms`` on one side, in ``flds``."""
            codes = [code_of[t] for t in terms if t in code_of]
            m = (code_p == codes[0]) if len(codes) == 1 else np.isin(code_p, codes)
            m &= neg_p == neg
            if flds is not None:
                m &= np.isin(fld_p, flds)
            return m

        # -- scoring rows: scaled postings + virtual stem rows ---------
        scale_lookup = np.full((len(labels), n_fld), np.nan)
        for (t, f), v in spec["scaled"].items():
            c = label_of.get(t)
            if c is not None and f < n_fld:
                scale_lookup[c, f] = v
        avg_arr = np.ones(n_fld, dtype=np.float64)
        for f, a in spec["avgdl"].items():
            avg_arr[f] = a
        scale_p = scale_lookup[code_p, fld_p]
        sel = np.flatnonzero(
            (~neg_p & ~np.isnan(scale_p)) | (neg_p & spec["neg_universe"])
        )
        parts = [
            (
                doc_p[sel], code_p[sel], fld_p[sel], tf_p[sel], dl_p[sel],
                np.where(neg_p[sel], 0.0, scale_p[sel]),
            )
        ]
        for label, (terms, flds) in spec["stems"].items():
            lab = label_of[label]
            r = np.flatnonzero(
                rows_of(terms, False, flds) & ~np.isnan(scale_lookup[lab, fld_p])
            )
            if r.size == 0:
                continue
            r = r[np.lexsort((fld_p[r], doc_p[r]))]
            rd, rf = doc_p[r], fld_p[r]
            first = np.flatnonzero(
                np.r_[True, (rd[1:] != rd[:-1]) | (rf[1:] != rf[:-1])]
            )
            parts.append(
                (
                    rd[first],
                    np.full(first.size, lab, dtype=np.int64),
                    rf[first],
                    np.add.reduceat(tf_p[r], first),
                    dl_p[r][first],  # dl is per (doc, fld)
                    scale_lookup[lab, rf[first]],
                )
            )
        doc_s, lab_s, fld_s, tf_s, dl_s, scale_s = (
            np.concatenate(c) for c in zip(*parts)
        )
        if doc_s.size == 0:
            return
        tfd = tf_s.astype(np.float64)
        dld = dl_s.astype(np.float64)
        w = scale_s * (
            tfd * k1p1
            / (tfd + BM25_K1 * (1.0 - BM25_B + BM25_B * dld / avg_arr[fld_s]))
        )

        # -- canonical-order sequential fold per doc -------------------
        # UTF-8 byte order (JVM string compare) equals code-point order
        # (Python compare), so the canonical order matches the JVM's
        lab_rank = np.empty(len(labels), dtype=np.int64)
        lab_rank[np.argsort(np.asarray(labels, dtype=object))] = np.arange(len(labels))
        order = np.lexsort((w, fld_s, lab_rank[lab_s], doc_s))
        ds, ws = doc_s[order], w[order]
        gstart = np.empty(ds.size, dtype=bool)
        gstart[0] = True
        gstart[1:] = ds[1:] != ds[:-1]
        gs = np.flatnonzero(gstart)
        gid = np.cumsum(gstart) - 1
        idx_in_g = np.arange(ds.size, dtype=np.int64) - gs[gid]
        docs_u = ds[gs]
        score = np.zeros(docs_u.size, dtype=np.float64)
        for j in range(int(idx_in_g.max()) + 1):
            m = idx_in_g == j
            score[gid[m]] = score[gid[m]] + ws[m]

        # -- each posting's row in docs_u (-1: not a candidate) ---------
        # Scaled postings already sit in the fold's doc groups, so their
        # row is a scatter through ``gid`` — no per-term binary
        # search (searchsorted over ~docs_u-sized term lists was HALF
        # the evaluator on heavy AND queries). Every other posting is
        # located with ONE shared searchsorted.
        row_u = np.full(doc_p.size, -1, dtype=np.int64)
        g_of = np.empty(order.size, dtype=np.int64)
        g_of[order] = gid
        row_u[sel] = g_of[: sel.size]
        rest = np.flatnonzero(row_u < 0)
        if rest.size:
            ii = np.minimum(np.searchsorted(docs_u, doc_p[rest]), docs_u.size - 1)
            hit = docs_u[ii] == doc_p[rest]
            row_u[rest[hit]] = ii[hit]

        def mask_rows(m: np.ndarray) -> np.ndarray:
            out = np.zeros(docs_u.size, dtype=bool)
            r = row_u[m]
            out[r[r >= 0]] = True
            return out

        def mask_docs(docs_arr: np.ndarray) -> np.ndarray:
            out = np.zeros(docs_u.size, dtype=bool)
            if docs_arr.size:
                ii = np.minimum(np.searchsorted(docs_u, docs_arr), docs_u.size - 1)
                out[ii[docs_u[ii] == docs_arr]] = True
            return out

        # -- positional catalogs ---------------------------------------
        if spec["need_pos"]:
            pos_flat = d["pos"]
            pstart = np.zeros(tf_p.size, dtype=np.int64)
            np.cumsum(tf_p[:-1], out=pstart[1:])

        def leaf_cat(neg: bool, terms, flds) -> dict:
            """term -> (docs, flds, positions) per occurrence."""
            cat = {}
            for t in terms:
                ridx = np.flatnonzero(rows_of((t,), neg, flds))
                if ridx.size == 0:
                    continue
                tf_r = tf_p[ridx]
                tot = int(tf_r.sum())
                excl = np.zeros(ridx.size, dtype=np.int64)
                np.cumsum(tf_r[:-1], out=excl[1:])
                gather = (
                    np.repeat(pstart[ridx], tf_r)
                    + np.arange(tot, dtype=np.int64)
                    - np.repeat(excl, tf_r)
                )
                pos_occ = pos_flat[gather]
                if pos_occ.size and int(pos_occ.max()) >= (1 << 24):
                    raise RuntimeError(
                        "position exceeds 2^24 (16M tokens in one "
                        "field of one doc) — positional key packing "
                        "would overflow"
                    )
                cat[t] = (
                    np.repeat(doc_p[ridx], tf_r),
                    np.repeat(fld_p[ridx], tf_r),
                    pos_occ,
                )
            return cat

        # -- the tree: leaf masks memoized, so a leaf repeated across
        # the tree is evaluated once -----------------------------------
        memo: dict = {}

        def ev(node) -> np.ndarray:
            kind = node[0]
            if kind in ("and", "or"):
                m = np.full(docs_u.size, kind == "and")
                for c in node[1]:
                    m = (m & ev(c)) if kind == "and" else (m | ev(c))
                return m
            if kind == "not":
                return ev(node[1][0]) & ~ev(node[1][1])
            if kind == "unot":
                return ~ev(node[1][0])
            if node not in memo:
                if kind == "has":
                    memo[node] = mask_rows(rows_of(node[2], node[1], node[3]))
                elif kind == "phrase":
                    _k, neg, slots, flds, anchored = node
                    cat = leaf_cat(neg, sorted({t for sl in slots for t in sl}), flds)
                    memo[node] = mask_docs(_phrase_set_from_cat(cat, slots, anchored))
                else:  # near
                    _k, neg, ops, span, flds = node
                    terms = sorted({t for op in ops for sl in op for t in sl})
                    cat = leaf_cat(neg, terms, flds)
                    memo[node] = mask_docs(_near_set_from_cat(cat, list(ops), span))
            return memo[node]

        ok = ev(spec["tree"])
        out_d = docs_u[ok]
        if out_d.size:
            yield pa.record_batch(
                [
                    pa.array(out_d, type=pa.int64()),
                    pa.array(score[ok], type=pa.float64()),
                ],
                names=["doc_key", "score"],
            )

    return run


# -- query tree helpers ------------------------------------------------
def _tree_walk_leaves(node: Node, specs: tuple, scoring: bool, out: list):
    """Collect (leaf, colspec chain, scoring?) triples. A leaf under a
    NOT right operand (or our hybrid ``!``) never scores — matching the
    flat engine's treatment of NOT terms."""
    k = node.kind
    if k == "col":
        _tree_walk_leaves(node.kids[0], specs + (node.spec,), scoring, out)
    elif k in ("and", "or"):
        for c in node.kids:
            _tree_walk_leaves(c, specs, scoring, out)
    elif k == "not":
        _tree_walk_leaves(node.kids[0], specs, scoring, out)
        _tree_walk_leaves(node.kids[1], specs, False, out)
    elif k == "unot":
        _tree_walk_leaves(node.kids[0], specs, False, out)
    elif k not in ("true", "false"):
        out.append((node, specs, scoring))


def _tree_simplify(node: Node, dead_leaf) -> Node:
    """Constant-fold the tree after replacing dead leaves (terms absent
    from the corpus / empty prefix expansions) with ``false``. NOT with
    a false right side drops to its left (excluding nothing); a true
    left (from a hybrid-negated absent term) reduces to pure negation."""
    k = node.kind
    if k == "and":
        kids = [_tree_simplify(c, dead_leaf) for c in node.kids]
        if any(c.kind == "false" for c in kids):
            return Node("false")
        kids = [c for c in kids if c.kind != "true"]
        if not kids:
            return Node("true")
        return kids[0] if len(kids) == 1 else Node("and", kids=tuple(kids))
    if k == "or":
        kids = [_tree_simplify(c, dead_leaf) for c in node.kids]
        if any(c.kind == "true" for c in kids):
            return Node("true")
        kids = [c for c in kids if c.kind != "false"]
        if not kids:
            return Node("false")
        return kids[0] if len(kids) == 1 else Node("or", kids=tuple(kids))
    if k == "not":
        left = _tree_simplify(node.kids[0], dead_leaf)
        right = _tree_simplify(node.kids[1], dead_leaf)
        if left.kind == "false" or right.kind == "true":
            return Node("false")
        if right.kind == "false":
            return left
        if left.kind == "true":
            return Node("unot", kids=(right,))
        return Node("not", kids=(left, right))
    if k == "unot":
        kid = _tree_simplify(node.kids[0], dead_leaf)
        if kid.kind == "false":
            return Node("true")
        if kid.kind == "true":
            return Node("false")
        return Node("unot", kids=(kid,))
    if k in ("true", "false"):
        return node
    return Node("false") if dead_leaf(node) else node


def _tree_matches_empty_doc(node: Node) -> bool:
    """Boolean-evaluate the tree for a document containing NONE of the
    query's terms. True means the query is (partly) pure negation —
    unsatisfiable over an inverted index (FTS5 refuses ``NOT a``
    outright; this catches the hybrid spellings that smuggle it in)."""
    k = node.kind
    if k == "and":
        return all(_tree_matches_empty_doc(c) for c in node.kids)
    if k == "or":
        return any(_tree_matches_empty_doc(c) for c in node.kids)
    if k == "not":
        return _tree_matches_empty_doc(node.kids[0]) and not _tree_matches_empty_doc(
            node.kids[1]
        )
    if k == "unot":
        return not _tree_matches_empty_doc(node.kids[0])
    return k == "true"


def _leaf_terms(leaf: Node) -> tuple:
    """Flat PLAIN-token tuple of a leaf: NEAR operands are nested
    phrase tuples, and phrase/anchor/NEAR slots may be ``("*", stem)``
    prefix markers — markers are excluded here (see _leaf_stems)."""
    if leaf.kind == "near":
        return tuple(
            sl for op in leaf.toks for sl in op if isinstance(sl, str)
        )
    return tuple(sl for sl in leaf.toks if isinstance(sl, str))


def _leaf_stems(leaf: Node) -> tuple:
    """Prefix stems of a leaf: the ``stem`` field of prefix /
    prefix-phrase leaves plus any ``("*", stem)`` marker slots inside
    phrase/anchor/NEAR leaves."""
    if leaf.kind in ("prefix", "prefix_phrase"):
        return (leaf.stem,)
    if leaf.kind == "near":
        return tuple(
            sl[1] for op in leaf.toks for sl in op if isinstance(sl, tuple)
        )
    return tuple(sl[1] for sl in leaf.toks if isinstance(sl, tuple))


def _tree_positional_key(leaf: Node):
    """Identity of a positional leaf (phrase/NEAR/anchor/prefix-phrase);
    None for leaves that need no positions."""
    if leaf.kind == "phrase" and len(leaf.toks) > 1:
        return ("phrase", leaf.toks)
    if leaf.kind == "near":
        return ("near", leaf.toks, leaf.n)
    if leaf.kind == "anchor":
        return ("anchor", leaf.toks)
    if leaf.kind == "prefix_phrase":
        return ("pp", leaf.toks, leaf.stem)
    return None



def _flat_tree(pq: ParsedQuery) -> Node:
    """The flat ParsedQuery fields as the equivalent boolean tree: every
    positive constraint ANDed, the NOT side ORed under one binary NOT
    (single NOT terms and NOT prefixes exclude on any match, a
    conjunctive NOT group only when all its terms occur, a NOT phrase
    on adjacency)."""
    def term(t: str) -> Node:
        return Node("term", toks=(t,))

    def phrase(ph) -> Node:
        return Node("phrase", toks=tuple(ph))

    pos = (
        [term(t) for t in pq.and_terms]
        + [phrase(ph) for ph in pq.phrases]
        + [
            Node("near", toks=tuple((t,) for t in dict.fromkeys(tg)), n=n)
            for tg, n in pq.nears
        ]
        + [Node("anchor", toks=tuple(ph)) for ph in pq.anchors]
        + [
            Node("col", kids=(phrase(toks),), spec=(tuple(names), exclude))
            for names, exclude, toks in pq.col_filters
            if toks
        ]
        + [Node("prefix", stem=s) for s in pq.prefixes]
        + [
            Node("prefix_phrase", toks=tuple(lead), stem=s)
            for lead, s in pq.prefix_phrases
        ]
        + [
            Node("or", kids=tuple([term(t) for t in tg] + [phrase(ph) for ph in pg]))
            for tg, pg in pq.or_operands()
        ]
    )
    neg = (
        [term(t) for t in pq.not_terms]
        + [Node("and", kids=tuple(term(t) for t in g)) for g in pq.not_groups]
        + [phrase(ph) for ph in pq.not_phrases]
        + [Node("prefix", stem=s) for s in pq.not_prefixes]
    )
    root = Node("and", kids=tuple(pos))
    return Node("not", kids=(root, Node("or", kids=tuple(neg)))) if neg else root


@dataclass
class SearchResult:
    df: DataFrame
    parsed: ParsedQuery
    pruning: dict


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        prune_min_postings: int = 2_000_000,
        cache_tables: bool = False,
        auto_refresh: bool = False,
        adaptive_execution: bool = False,
        prefix_max_expansion: int = 4096,
    ):
        """``cache_tables=True`` pins docs + dictionary in executor memory
        — the right call for a long-lived query server (the reference's
        viewer process keeps its sqlite page cache warm the same way).

        ``auto_refresh=True`` probes the index manifest before every
        search (one directory listing + one pointer read — no Spark job)
        and calls :meth:`refresh` when the live-generation set or the
        dictionary pointer changed. A server following an ingest stream
        then can't serve a stale snapshot (or read part files a prune /
        compaction deleted) without the caller remembering to refresh.
        Off by default: the snapshot semantics (pin until refresh) are
        the documented contract, and two fs round-trips per query is a
        real cost on object stores.

        ``prune_min_postings``: block-max pruning runs only when the
        query's total posting volume exceeds this. Pruning spends two
        extra driver round-trips (interval collect + phase-1 probe) to
        skip posting decode; below ~2M postings the exhaustive scan is
        cheaper than the round-trips (measured 2.7x at 200k docs), while
        at Zipf-head scale (10^8+ postings) pruning is the only viable
        plan. Set 0 to force it (tests assert the pruned plan is
        result-identical to exhaustive).

        ``adaptive_execution``: queries run with AQE OFF by default, in
        a child SparkSession scoped to this engine (the caller's
        session — and the index BUILD, where AQE's skew re-planning
        earns its keep — is untouched). An interactive search has
        driver-known sizes everywhere (the dictionary bounds every
        join side, small sides carry explicit broadcast hints), so
        AQE's only observable effect is materializing each exchange as
        its own job — measured at sf0.1/local[32]: 15-30% of latency
        on EVERY query family (q_and 0.79->0.54 s, q_phrase
        1.27->0.94 s, q_single 0.39->0.28 s). Pass True to plan
        queries on the caller's session with whatever AQE setting it
        has."""
        self.spark = spark
        if not adaptive_execution:
            try:
                child = spark.newSession()
                # newSession starts from the STATIC conf: re-apply the
                # caller's runtime SQL overrides (shuffle width, session
                # timezone, ...) so only the AQE flag differs. Copy via
                # the JVM RuntimeConfig, NOT spark.sql("SET"): SET's
                # output REDACTS secret-like values (keys matching
                # spark.redaction.regex come back as a placeholder), so
                # the SET scan silently corrupted e.g. catalog or
                # object-store credentials in the child session.
                try:
                    it = spark._jsparkSession.conf().getAll().iterator()
                    while it.hasNext():
                        kv = it.next()
                        try:
                            child.conf.set(kv._1(), kv._2())
                        except Exception:
                            pass  # static/non-settable entries
                except Exception:
                    # no JVM RuntimeConfig (test doubles): fall back to
                    # the SET scan, skipping redacted placeholders
                    for row in spark.sql("SET").collect():
                        if "(redacted)" in str(row["value"]):
                            continue
                        try:
                            child.conf.set(row["key"], row["value"])
                        except Exception:
                            pass
                child.conf.set("spark.sql.adaptive.enabled", "false")
                self.spark = child
            except Exception:
                pass  # non-JVM test doubles: keep the caller's session
        self.index_dir = index_dir
        self.prune_min_postings = prune_min_postings
        # cap on block intervals materialized to the driver for range
        # pruning; denser terms are coarsened distributed first
        self.max_intervals_collect = 4096
        # broadcast the scored candidate side of the index->row join
        # when the query's total dictionary df is at most this many
        # postings (small enough to hash-broadcast; Zipf-head queries
        # fall back to the shuffle join)
        self.broadcast_cand_max_postings = 1_000_000
        self._cache = cache_tables
        self._docs_df = None
        self._dict_df = None
        self._blocks_df = None
        self._gens = None
        # driver-side (term, fld)->dictionary-row cache: repeat query
        # terms skip the dictionary lookup JOB entirely (the full
        # dictionary can be 10^8 terms — never materialized; only terms
        # actually queried are cached, negative lookups included)
        self._term_cache: dict[str, dict[int, dict]] = {}
        self._term_cache_max = 1_000_000
        # driver-side stem -> {term: {fld: dictionary row}} cache for
        # prefix queries (FTS5 `ab*`); bounded by the expansion cap —
        # FTS5 itself has no cap (it walks the term btree), but the
        # expansion becomes driver state (an In-filter + the branch's
        # term list), so an unbounded head stem like `t*` must fail
        # loudly rather than OOM the driver. Lengthen the stem instead.
        self.prefix_max_expansion = prefix_max_expansion
        self._prefix_cache: dict[str, dict[str, dict[int, dict]]] = {}
        # bound the prefix cache like _term_cache: counted in cached
        # expansion ROWS (a stem may hold up to prefix_max_expansion
        # terms x n_fields rows), cleared wholesale when exceeded so a
        # long-lived server with high-cardinality prefix traffic cannot
        # grow driver memory without limit
        self._prefix_cache_max_rows = 1_000_000
        # same filesystem seam as the builder: plain paths -> LocalFS,
        # URIs (hdfs://, s3a://, ...) -> the Hadoop client
        self.fs = fs_for(index_dir, spark)
        meta = read_index_meta(index_dir, self.fs)
        if meta is None:
            raise FileNotFoundError(f"no index at {index_dir} (index_meta.json missing)")
        self.key_cols: list[str] = meta["key_cols"]
        self.meta_cols: list[str] = meta["meta_cols"]
        self.store_positions: bool = meta["store_positions"]
        self.block_size: int = meta["block_size"]
        self.n_slices: int = int(meta["n_slices"])
        self.text_cols: list[str] = meta["text_cols"]
        self.n_fields = len(self.text_cols)
        # query-side analyzer always mirrors the index-side one
        from aspublic_spark.functions.stemmer import get_analyzer

        self.analyzer: str = meta["analyzer"]
        self._tok = get_analyzer(self.analyzer)
        st_rows = read_stats(index_dir, self.fs)
        self.n_docs = int(st_rows[0]["n_docs"])
        # per-field average length (FTS5 per-column norms); fields with
        # no postings anywhere fall back to 1.0
        self.avgdl_by_fld = {
            int(r["fld"]): float(r["avgdl"] or 1.0) for r in st_rows
        }
        self.avgdl = self.avgdl_by_fld.get(0, 1.0)
        self.auto_refresh = auto_refresh
        self._snap_fp = self._manifest_fingerprint()

    # -- raw table access ---------------------------------------------
    def _manifest_fingerprint(self) -> tuple:
        """Cheap identity of the visible index state: the live-gen set
        plus the dictionary pointer. Changes on build/compact/prune —
        everything that should invalidate the snapshot — and costs one
        listdir + one small read, no Spark job."""
        ptr = self.fs.read_json(
            os.path.join(self.index_dir, "dictionary_CURRENT.json")
        )
        return (tuple(live_gens(self.index_dir, self.fs)), ptr["path"])

    def _maybe_auto_refresh(self):
        if not self.auto_refresh:
            return
        fp = self._manifest_fingerprint()
        if fp != self._snap_fp:
            self.refresh()

    def _pinned_gens(self) -> tuple:
        """The live generations this engine reads, ascending, listed
        once and pinned until refresh(): every table read and every doc
        key (a generation's rank in this list, :func:`doc_key_col`)
        comes from the same snapshot."""
        if self._gens is None:
            gens = tuple(live_gens(self.index_dir, self.fs))
            if len(gens) > 1 << GEN_BITS:
                raise ValueError(
                    f"index holds {len(gens)} live generations (> 2^{GEN_BITS}): compact() it"
                )
            self._gens = gens
        return self._gens

    def _live(self, sub: str) -> DataFrame:
        """Read only LIVE generations (raw manifest committed) — a
        half-written compaction/prune/build output directory is never
        visible to queries. Snapshot semantics: the generation list is
        pinned until refresh() (:meth:`_pinned_gens`)."""
        root = os.path.join(self.index_dir, sub)
        paths = [
            os.path.join(root, f"gen={g}")
            for g in self._pinned_gens()
            if self.fs.isdir(os.path.join(root, f"gen={g}"))
        ]
        if not paths:
            raise FileNotFoundError(
                f"index at {self.index_dir} has no live generations with {sub}"
            )
        return self.spark.read.option(
            "basePath", os.path.join(self.index_dir, sub)
        ).parquet(*paths)

    def docs(self) -> DataFrame:
        """The live docs rows, each with its ``doc_key``
        (:func:`doc_key_col`), the evaluator's key of the doc."""
        if self._docs_df is None:
            df = self._live("docs").withColumn("doc_key", doc_key_col(self._pinned_gens()))
            if self._cache:
                # server mode: cache in a handful of fat partitions —
                # probing a few hundred thousand cached rows needs a few
                # tasks, and 32 near-empty tasks cost more scheduling
                # than the scan itself (measured ~0.1 s/query at sf0.1)
                par = self.spark.sparkContext.defaultParallelism
                df = df.coalesce(max(8, par // 4)).cache()
            self._docs_df = df
        return self._docs_df

    def dictionary(self) -> DataFrame:
        if self._dict_df is None:
            df = self.spark.read.parquet(
                dictionary_location(self.index_dir, self.fs)
            )
            self._dict_df = df.cache() if self._cache else df
        return self._dict_df

    def blocks(self, terms: list[str]) -> DataFrame:
        if self._blocks_df is None:
            # one DataFrame reused across queries: Spark's file index is
            # built once, not re-listed per search. The engine is a
            # point-in-time snapshot (like the viewer's sqlite handle) —
            # call refresh() after new generations land.
            self._blocks_df = self._live("postings")
        return self._blocks_df.filter(F.col("term").isin(list(terms)))  # pushed to scan

    def refresh(self):
        """Re-list index tables after incremental builds/compaction."""
        for df in (self._docs_df, self._dict_df):
            if df is not None and self._cache:
                df.unpersist()
        self._docs_df = self._dict_df = self._blocks_df = self._gens = None
        self._term_cache.clear()
        self._prefix_cache.clear()
        self._snap_fp = self._manifest_fingerprint()
        st_rows = read_stats(self.index_dir, self.fs)
        self.n_docs = int(st_rows[0]["n_docs"])
        self.avgdl_by_fld = {int(r["fld"]): float(r["avgdl"] or 1.0) for r in st_rows}
        self.avgdl = self.avgdl_by_fld.get(0, 1.0)

    def term_stats(self, terms: list[str]) -> dict[str, dict[int, dict]]:
        """{term: {fld: dictionary row}} — a term exists if it appears
        in ANY indexed field. Cached per term on the driver (the
        reference's sqlite page cache keeps the FTS5 term btree warm the
        same way): one dictionary-scan JOB per NEW term set, zero for
        repeats."""
        if not terms:
            return {}
        missing = sorted({t for t in terms if t not in self._term_cache})
        if missing:
            rows = self.dictionary().filter(F.col("term").isin(missing)).collect()
            found: dict[str, dict[int, dict]] = {}
            for r in rows:
                found.setdefault(r["term"], {})[int(r["fld"])] = r.asDict()
            if len(self._term_cache) + len(missing) > self._term_cache_max:
                # bound driver memory, but never drop entries for terms
                # requested in THIS call: snapshot them before the clear so
                # the returned dict stays complete (a silent miss here made
                # an AND/phrase term look absent from the corpus).
                keep = {
                    t: self._term_cache[t] for t in terms if t in self._term_cache
                }
                self._term_cache.clear()
                self._term_cache.update(keep)
            for t in missing:
                self._term_cache[t] = found.get(t, {})  # {} = negative entry
        return {t: self._term_cache[t] for t in terms if self._term_cache.get(t)}

    def idf(self, df_t: int) -> float:
        return math.log((self.n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)

    def _safe_ub_w(self, max_tf: float, min_dl: float, avgdl: float | None = None) -> float:
        """Upper bound of the BM25 weight for any posting with tf<=max_tf,
        dl>=min_dl under the CURRENT per-field avgdl (monotonic in tf up,
        dl down) — valid across generations even when avgdl drifted
        since pack."""
        a = self.avgdl if avgdl is None else avgdl
        return (
            max_tf * (BM25_K1 + 1.0)
            / (max_tf + BM25_K1 * (1.0 - BM25_B + BM25_B * min_dl / a))
        )

    def unpack(self, blocks: DataFrame, with_positions: bool = False) -> DataFrame:
        """Packed block rows (with their ``gen`` and ``slice``) -> one
        row per posting, keyed by ``doc_key``."""
        schema = _UNPACK_POS_SCHEMA if with_positions else _UNPACK_SCHEMA
        cols = ["gen", "slice", "term", "fld", "n", "doc_gaps", "tfs", "dls"] + (
            ["positions"] if with_positions else []
        )
        return blocks.select(*cols).mapInArrow(
            _unpack_arrow_factory(with_positions, self._pinned_gens()), schema
        )

    # -- structured predicates (Q6-Q8) ---------------------------------
    @staticmethod
    def _coerce_endpoint(v, side: str):
        """Reference date-endpoint coercion (db_sqlite.py:85-98,
        db_postgres.py:75-88): a pure ``date`` for ``before`` becomes
        that day's midnight (datetime.min.time()) and for ``after``
        becomes that day's end (datetime.max.time()); comparisons stay
        strict, so a pure-date range EXCLUDES both endpoint days —
        exactly the reference's observable behavior."""
        import datetime as _dt

        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            t = _dt.datetime.min.time() if side == "before" else _dt.datetime.max.time()
            return _dt.datetime.combine(v, t)
        return v

    def filtered_docs(
        self,
        role: str | None = None,
        tool_present: bool | None = None,
        after=None,
        before=None,
        conv_prefix: str | None = None,
        extra_filter=None,
    ) -> DataFrame:
        d = self.docs()
        if role is not None and "role" in d.columns:
            d = d.filter(F.col("role") == role)
        if "tool" in d.columns:
            if tool_present is True:
                d = d.filter(F.col("tool").isNotNull())
            elif tool_present is False:
                d = d.filter(F.col("tool").isNull())
        if "ts" in d.columns:
            if after is not None:
                d = d.filter(  # strict, viewer semantics
                    F.col("ts") > F.lit(self._coerce_endpoint(after, "after"))
                )
            if before is not None:
                d = d.filter(
                    F.col("ts") < F.lit(self._coerce_endpoint(before, "before"))
                )
        if conv_prefix is not None and "conv_id" in d.columns:
            d = d.filter(F.col("conv_id").startswith(conv_prefix))
        if extra_filter is not None:
            d = d.filter(extra_filter)  # arbitrary predicate on docs meta
        return d

    def expand_prefix(self, stems: list[str]) -> dict[str, dict[str, dict[int, dict]]]:
        """Expand FTS5 prefix stems against the dictionary: stem ->
        {term: {fld: dictionary row}}.

        ONE dictionary job for all uncached stems (an OR of
        ``startswith`` predicates — each pushes to the parquet scan as
        StringStartsWith, so only matching dictionary row groups are
        read). Expansions are cached per stem on the driver, like the
        per-term cache; :meth:`refresh` clears both. A stem matching
        more than ``prefix_max_expansion`` distinct terms raises —
        FTS5 has no cap (its term btree walk is free), but here the
        expansion becomes driver state and an In-filter, so a head
        stem like ``t*`` must fail loudly with the remedy (lengthen
        the stem) rather than OOM the driver."""
        missing = sorted({s for s in stems if s not in self._prefix_cache})
        if missing:
            cond = None
            for s in missing:
                c = F.col("term").startswith(s)
                cond = c if cond is None else (cond | c)
            cap = self.prefix_max_expansion
            # bound the driver materialization itself: collect at most
            # one row past the worst-case legal volume, so a head stem
            # on a 10^8-term dictionary raises instead of OOMing
            lim = cap * len(missing) * self.n_fields + 1
            rows = self.dictionary().filter(cond).limit(lim).collect()
            if len(rows) >= lim:
                raise ValueError(
                    f"prefix expansion exceeds {cap} terms — lengthen the stem"
                )
            new_rows = sum(
                sum(len(m) for m in self._prefix_cache.get(s, {}).values())
                for s in missing
            ) + len(rows)
            cached_rows = sum(
                sum(len(m) for m in exp.values())
                for exp in self._prefix_cache.values()
            )
            if cached_rows + new_rows > self._prefix_cache_max_rows:
                # cap-and-reset like _term_cache, but keep THIS call's
                # stems so the returned dict stays complete
                keep = {
                    s: self._prefix_cache[s] for s in stems if s in self._prefix_cache
                }
                self._prefix_cache.clear()
                self._prefix_cache.update(keep)
            for s in missing:
                exp: dict[str, dict[int, dict]] = {}
                for r in rows:
                    if r["term"].startswith(s):
                        exp.setdefault(r["term"], {})[int(r["fld"])] = r.asDict()
                if len(exp) > cap:
                    raise ValueError(
                        f"prefix '{s}*' expands to {len(exp)} terms "
                        f"(> prefix_max_expansion={cap}) — lengthen the stem"
                    )
                self._prefix_cache[s] = exp
        return {s: self._prefix_cache[s] for s in stems}

    def _coarse_intervals(self, rare: DataFrame, nbuck: int) -> DataFrame:
        """Coarsen a term's (gen, slice, min_doc, max_doc) block
        intervals to covering intervals per (gen, slice): the ``nbuck``
        buckets are shared over the snapshot's (gen, slice) groups, at
        least one each, so at most max(nbuck, groups) intervals in all.
        Fully distributed: one groupBy with map-side partial aggregation
        on (gen, slice, high bits of min_doc) — no window function (an
        ntile().over(...) would funnel every metadata row of a dense
        Zipf-head term through a single task), no span pre-scan and no
        filesystem listing (the group count is the pinned snapshot's),
        so no driver round-trip. Intervals are in ordinal space: a (gen,
        slice) holds dense ordinals 0..n-1, about n_docs / n_slices of them,
        so each group's share of the buckets covers that span, and the
        last bucket absorbs any overflow of a larger slice. The coarse
        intervals are a covering SUPERSET of the exact union, so the
        downstream semi-join prune stays lossless."""
        groups = max(1, len(self._pinned_gens()) * self.n_slices)
        per = max(1, nbuck // groups)
        span = -(-max(self.n_docs, 1) // max(self.n_slices, 1))
        shift = (-(-span // per) - 1).bit_length()
        return (
            rare.groupBy(
                "gen", "slice",
                F.least(F.shiftright(F.col("min_doc"), shift), F.lit(per - 1)).alias("_b"),
            )
            .agg(
                F.min("min_doc").alias("min_doc"),
                F.max("max_doc").alias("max_doc"),
            )
            .drop("_b")
        )

    # -- block pruning (north_rule: block-max WAND) ----------------------
    def _prune_blocks(
        self,
        pos_blocks: DataFrame,
        not_blocks: DataFrame | None,
        pq: ParsedQuery,
        scaled_map: dict[tuple[str, int], float],
        k: int,
        docs_filtered: DataFrame,
        has_doc_filters: bool,
        stats: dict[str, dict[int, dict]],
        not_terms: list[str],
    ):
        info = {"theta": 0.0, "range_pruned": False, "theta_pruned": False}
        # per-block score upper bound (safe under avgdl drift); avgdl is
        # the block's FIELD's current value
        avgdl_expr = F.create_map(
            *[x for f, a in self.avgdl_by_fld.items() for x in (F.lit(f), F.lit(a))]
        )
        ub_w = (
            F.col("max_tf").cast("double") * (BM25_K1 + 1.0)
            / (
                F.col("max_tf").cast("double")
                + BM25_K1
                * (
                    1.0
                    - BM25_B
                    + BM25_B * F.col("min_dl").cast("double") / avgdl_expr[F.col("fld")]
                )
            )
        )
        scaled_expr = F.create_map(
            *[
                x
                for (t, f), v in scaled_map.items()
                for x in (F.lit(_tf_key(t, f)), F.lit(v))
            ]
        )
        pos_blocks = pos_blocks.withColumn("_ub", scaled_expr[_tf_key_col()] * ub_w)

        # ---- doc-range intersection pruning for AND/phrase queries ----
        # (a doc satisfies term t if it matches in ANY field, so the
        # rarest term's intervals span its blocks across all fields)
        and_like = (
            list(pq.and_terms)
            + [t for ph in pq.phrases for t in ph]
            + [t for tg, _n in pq.nears for t in tg]  # conjunctive too
            + [t for ph in pq.anchors for t in ph]
        )
        # intersecting a single term's blocks with their own intervals
        # keeps everything — only worth the extra job when a SECOND
        # term's (or the NOT side's) blocks can actually be dropped
        distinct_pos = {(t, f) for (t, f) in scaled_map}
        if and_like and (len({t for t, _ in distinct_pos}) > 1 or not_blocks is not None):
            df_of = lambda t: sum(  # noqa: E731
                s["df"] for s in stats.get(t, {}).values()
            )
            rarest = min(and_like, key=df_of)
            # ordinal intervals, meaningful within one (gen, slice) only
            rare = pos_blocks.filter(F.col("term") == rarest).select(
                "gen", "slice", "min_doc", "max_doc"
            )
            # Driver-safety: for a dense rarest term, collecting every
            # block interval is an unbounded driver materialization.
            # Coarsen distributed first: contiguous ordinal buckets per
            # (gen, slice), one covering interval per bucket — a plain
            # groupBy (map-side partial agg, no window). Coarse
            # intervals are a SUPERSET of the exact union, so the
            # semi-join prune stays lossless (keeps more blocks, never
            # fewer). Coarsening keeps one interval per (gen, slice),
            # so the collect is at most max(256, live gens x n_slices)
            # rows, not a function of the term's df.
            est_blocks = df_of(rarest) / max(self.block_size, 1) + 1
            if est_blocks > self.max_intervals_collect:
                rare = self._coarse_intervals(
                    rare, min(256, self.max_intervals_collect)
                )
            merged = []
            for r in sorted(rare.collect()):
                g, sl, lo, hi = r["gen"], r["slice"], r["min_doc"], r["max_doc"]
                if merged and merged[-1][:2] == (g, sl) and lo <= merged[-1][3]:
                    merged[-1] = (g, sl, merged[-1][2], max(merged[-1][3], hi))
                else:
                    merged.append((g, sl, lo, hi))
            if merged:
                iv_df = self.spark.createDataFrame(merged, "_g long, _s int, lo long, hi long")
                cond = (
                    (F.col("gen") == F.col("_g"))
                    & (F.col("slice") == F.col("_s"))
                    & (F.col("min_doc") <= F.col("hi"))
                    & (F.col("max_doc") >= F.col("lo"))
                )
                pos_blocks = pos_blocks.join(F.broadcast(iv_df), cond, "left_semi")
                if not_blocks is not None:
                    not_blocks = not_blocks.join(F.broadcast(iv_df), cond, "left_semi")
                info["range_pruned"] = True
                info["n_intervals"] = len(merged)

        # ---- threshold (theta) pruning --------------------------------
        # Valid only when no phrases or NEAR groups (positional
        # constraints could invalidate partial candidates'
        # qualification, making the probe's k-th score a superset bound
        # — too HIGH to prune with). NOT terms and structured doc
        # filters are applied inside the phase-1 candidate scoring, so
        # theta stays a valid lower bound of the true k-th result.
        # prefixes gate theta off like phrases: the probe can't apply
        # the stem's AND-qualification (the virtual branch isn't in the
        # phase-1 blocks), so its k-th score would be a superset bound
        if (
            not pq.phrases
            and not pq.nears
            and not pq.anchors
            and not pq.prefixes
            and not pq.prefix_phrases
            and scaled_map
        ):
            gub = {
                (t, f): v
                * self._safe_ub_w(
                    stats[t][f]["max_tf"],
                    stats[t][f]["min_dl"],
                    self.avgdl_by_fld.get(f, 1.0),
                )
                for (t, f), v in scaled_map.items()
                if t in stats and f in stats[t]
            }
            total_ub = sum(gub.values())
            from pyspark.sql import Window

            w = Window.partitionBy("term", "fld").orderBy(
                F.col("_ub").desc(), "salt", "block_id"
            )
            top_blocks = (
                pos_blocks.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max(1, math.ceil(2 * k / self.block_size)))
                .drop("_rn")
            )
            qual1 = self._probe_candidates(
                top_blocks,
                not_blocks,
                scaled_map,
                list(pq.and_terms),
                [tg for tg, _pg in pq.or_operands()],
                not_terms,
            )
            if has_doc_filters:
                qual1 = qual1.join(docs_filtered.select("doc_key"), "doc_key", "left_semi")
            top = qual1.orderBy(F.col("score").desc()).limit(k).collect()
            if len(top) >= k:
                theta = float(top[-1]["score"])
                info["theta"] = theta
                # a block of (term t, field f) survives iff its own bound
                # plus every OTHER (term, field)'s global bound can reach
                # theta (a doc may legitimately score t in both fields)
                other_expr = F.create_map(
                    *[
                        x
                        for (t, f) in scaled_map
                        for x in (
                            F.lit(_tf_key(t, f)),
                            F.lit(total_ub - gub.get((t, f), 0.0)),
                        )
                    ]
                )
                pos_blocks = pos_blocks.filter(
                    F.col("_ub") + other_expr[_tf_key_col()] >= theta
                )
                info["theta_pruned"] = True
        return pos_blocks.drop("_ub"), not_blocks, info

    def _probe_candidates(
        self,
        top_blocks: DataFrame,
        not_blocks: DataFrame | None,
        scaled_map: dict,
        and_terms: list[str],
        or_term_groups: list[list[str]],
        not_any_terms: list[str],
    ) -> DataFrame:
        """Theta-probe candidates through the query evaluator:
        positionless, term-level qualification only, NOT side excluded
        on ANY match. Phrase alternatives are dropped from OR groups
        and conjunctive NOT groups exclude on any term, so the set is a
        SUBSET of the true results and its k-th score a valid theta
        lower bound."""
        def has(terms, neg=False):
            return ("has", neg, tuple(sorted(set(terms))), None)

        tree = (
            "and",
            tuple(has([t]) for t in sorted(set(and_terms)))
            + tuple(("or", tuple(has([t]) for t in sorted(set(g)))) for g in or_term_groups),
        )
        if not_any_terms:
            tree = ("not", (tree, has(not_any_terms, True)))
        spec = {
            "need_pos": False,
            "neg_universe": False,
            "scaled": dict(scaled_map),
            "avgdl": dict(self.avgdl_by_fld),
            "stems": {},
            "tree": tree,
        }
        return self._evaluate(top_blocks, not_blocks, spec)

    def _evaluate(
        self,
        pos_blocks: DataFrame,
        neg_blocks: DataFrame | None,
        spec: dict,
        exchange: bool = True,
    ) -> DataFrame:
        """Run the query evaluator (:func:`_fused_score_factory`) over
        the packed blocks. The positive and NOT sides ride the same
        scan, tagged with ``_neg``; the positions column is read only
        when a positional leaf exists. The exchange co-locates each
        doc's postings in ``n_slices`` partitions (slices auto-size
        with corpus volume at build time)."""
        cols = ["gen", "slice", "term", "fld", "n", "doc_gaps", "tfs", "dls"] + (
            ["positions"] if spec["need_pos"] else []
        )
        src = reduce(
            DataFrame.unionByName,
            [
                b.select(*cols).withColumn("_neg", F.lit(neg))
                for b, neg in ((pos_blocks, False), (neg_blocks, True))
                if b is not None
            ],
        )
        if exchange:
            src = src.repartition(max(1, self.n_slices), "slice")
        return src.mapInArrow(
            _fused_score_factory({**spec, "gens": self._pinned_gens()}),
            "doc_key long, score double",
        )

    def _annotate(self, node: Node, fs: frozenset) -> Node:
        """Dissolve ``col`` wrappers, intersecting nested specs (probed
        FTS5 behavior), and stamp each LEAF's resolved field set onto
        its free ``spec`` slot. Raises FTS5's "no such column" for an
        unknown name."""
        if node.kind == "col":
            names, exclude = node.spec
            col_map = {c.lower(): i for i, c in enumerate(self.text_cols)}
            listed = set()
            for nm in names:
                f = col_map.get(nm.lower())
                if f is None:
                    raise ValueError(f"no such column: {nm}")
                listed.add(f)
            sub = frozenset(range(self.n_fields)) - listed if exclude else frozenset(listed)
            return self._annotate(node.kids[0], fs & sub)
        if node.kids:
            return replace(node, kids=tuple(self._annotate(c, fs) for c in node.kids))
        if node.kind in ("true", "false"):
            return node
        return replace(node, spec=tuple(sorted(fs)))

    def _stem_dfs(self, stems: dict) -> dict:
        """Exact per-field df of each virtual ``stem*`` label (distinct
        doc keys holding any of its expansion terms): ONE job over the
        expansions' blocks, unpruned, bounded by the capped expansion."""
        parts = [
            self.unpack(self.blocks(terms).filter(F.col("fld").isin(flds)))
            .select(F.lit(label).alias("label"), "fld", "doc_key")
            for label, (terms, flds) in stems.items()
        ]
        u = reduce(DataFrame.unionByName, parts)
        return {
            (r["label"], int(r["fld"])): int(r["count"])
            for r in u.distinct().groupBy("label", "fld").count().collect()
        }

    # -- main entry -------------------------------------------------------
    def search(
        self,
        q: str | ParsedQuery | None = None,
        k: int = 50,
        role: str | None = None,
        tool_present: bool | None = None,
        after=None,
        before=None,
        conv_prefix: str | None = None,
        extra_filter=None,
        order: str = "bm25",
        block_max: bool = True,
        parser=parse_query,
        field_weights: list[float] | None = None,
    ) -> SearchResult:
        """Run one search; returns a DataFrame of at most k rows with
        columns [key_cols..., meta_cols..., score] ordered by the
        requested criterion with deterministic tie-breaks.

        ``field_weights``: per-indexed-column BM25 weights, the analog
        of FTS5's ``bm25(fts, w1, w2, ...)`` (reference indexes text +
        subject, db_sqlite.py:27). Defaults to 1.0 per field (FTS5
        default); total score = sum_f w_f * BM25_f.

        Every query — flat or a raw-FTS5 tree — is evaluated as a
        boolean tree by ONE mapInArrow pass (:func:`_fused_score_factory`).
        Column filters are PER-LEAF (FTS5 treats ``text:a OR
        subject:a`` as two independent phrases of the same term); one
        documented scoring deviation: a term restricted differently in
        two scoring leaves scores each (term, field) contribution ONCE
        (FTS5's bm25 would count a field hit once per covering phrase).
        Non-scoring leaves — NOT right operands and hybrid ``!`` — never
        add to the score. Block-max pruning runs for flat queries only:
        theta is unsound under OR/NOT tree structure."""
        self._maybe_auto_refresh()
        k = max(1, min(int(k), 100))  # reference clamp, viewer.py:123
        pq = parser(q, tok=self._tok) if isinstance(q, str) else (q or ParsedQuery())
        has_doc_filters = any(
            v is not None for v in (role, tool_present, after, before, conv_prefix, extra_filter)
        )
        docs_f = self.filtered_docs(role, tool_present, after, before, conv_prefix, extra_filter)
        key_meta = [c for c in self.key_cols if c != "doc_id"] + self.meta_cols

        order_cols = (
            [F.col("score").desc()] + [F.col(c).asc() for c in self.key_cols]
            if order == "bm25"
            else [F.col("ts").desc()] + [F.col(c).asc() for c in self.key_cols]
        )

        if pq.is_empty():
            # pure structured query (reference requires q, but recency
            # browsing is well-defined): top-k most recent regardless of
            # the requested order — BM25 over no terms is meaningless
            browse_cols = (
                [F.col("ts").desc()] + [F.col(c).asc() for c in self.key_cols]
                if "ts" in docs_f.columns
                else [F.col(c).asc() for c in self.key_cols]
            )
            out = (
                docs_f.withColumn("score", F.lit(0.0))
                .select("doc_id", *key_meta, "score")
                .orderBy(*browse_cols)
                .limit(k)
            )
            return SearchResult(out, pq, {})

        info: dict = {} if pq.tree is None else {"tree": True}
        full = frozenset(range(self.n_fields))
        tree = self._annotate(pq.tree if pq.tree is not None else _flat_tree(pq), full)
        leaves: list = []
        _tree_walk_leaves(tree, (), True, leaves)
        # ONE dictionary job for all terms, one for all stems
        stats = self.term_stats(
            sorted({t for lf, _s, _c in leaves for t in _leaf_terms(lf)})
        )
        stems = sorted({st for lf, _s, _c in leaves for st in _leaf_stems(lf)})
        pfx_exp = self.expand_prefix(stems) if stems else {}

        def stem_live(s: str, fs) -> dict:
            """stem's expansion restricted to the given fields:
            term -> {fld: dictionary row}."""
            out = {}
            for t, m in pfx_exp.get(s, {}).items():
                mm = {f: r for f, r in m.items() if f in fs}
                if mm:
                    out[t] = mm
            return out

        def dead_leaf(leaf: Node) -> bool:
            # a term absent from every allowed field, or a stem whose
            # expansion is empty there (FTS5: `zz*` matches nothing)
            fs = set(leaf.spec)
            return any(
                not set(stats.get(t, {})) & fs for t in _leaf_terms(leaf)
            ) or any(not stem_live(st, fs) for st in _leaf_stems(leaf))

        tree = _tree_simplify(tree, dead_leaf)
        if tree.kind == "false":
            empty = docs_f.limit(0).withColumn("score", F.lit(0.0)).select(
                "doc_id", *key_meta, "score"
            )
            return SearchResult(empty, pq, {**info, "empty": True})
        if _tree_matches_empty_doc(tree):
            raise ValueError(
                "query is satisfied by documents containing none of its "
                "terms — pure negation is unsatisfiable over an inverted "
                "index (FTS5 refuses `NOT a` the same way)"
            )

        # SURVIVING leaves only. reads[neg]: term -> fields that side
        # scans (the union over its leaves; each leaf narrows to its own
        # fields inside the evaluator). A folded-away scoring leaf must
        # not grant weight to a term that only survives NOT-side.
        leaves = []
        _tree_walk_leaves(tree, (), True, leaves)
        reads: tuple[dict, dict] = ({}, {})
        score_flds: dict[str, set] = {}
        score_stems: dict[str, tuple[set, set]] = {}
        rows = {t: m for exp in pfx_exp.values() for t, m in exp.items()}
        rows.update(stats)
        need_pos = False
        for leaf, _specs, scoring in leaves:
            fs = set(leaf.spec)
            side = reads[not scoring]
            need_pos |= _tree_positional_key(leaf) is not None
            for t in _leaf_terms(leaf):
                side.setdefault(t, set()).update(fs)
                if scoring:
                    score_flds.setdefault(t, set()).update(fs)
            for st in _leaf_stems(leaf):
                exp = stem_live(st, fs)
                for t in exp:
                    side.setdefault(t, set()).update(fs)
                if scoring:
                    terms, flds = score_stems.setdefault(st + "*", (set(), set()))
                    terms.update(exp)
                    flds.update(fs)
        if need_pos and not self.store_positions:
            raise ValueError(
                "phrase queries need positions, but this index was built "
                "with store_positions=False"
            )

        fw = list(field_weights) if field_weights is not None else []
        fw += [1.0] * (self.n_fields - len(fw))
        # (label, fld) -> field_weight * idf(label in that field); df is
        # per-field, like per-column FTS5 statistics
        scaled_map = {
            (t, f): fw[f] * self.idf(s["df"])
            for t, fs in score_flds.items()
            for f, s in stats[t].items()
            if f in fs
        }
        stems_spec = {
            label: (sorted(terms), sorted(flds))
            for label, (terms, flds) in score_stems.items()
        }
        if stems_spec:
            # a one-term expansion's df is its dictionary df (free); a
            # wider one costs one count job
            if any(len(terms) > 1 for terms, _f in stems_spec.values()):
                dfs = self._stem_dfs(stems_spec)
            else:
                dfs = {
                    (label, f): r["df"]
                    for label, (terms, flds) in stems_spec.items()
                    for t in terms
                    for f, r in rows[t].items()
                    if f in flds
                }
            for (label, f), n in dfs.items():
                scaled_map[(label, f)] = fw[f] * self.idf(n)

        def side_blocks(side: dict) -> DataFrame | None:
            if not side:
                return None
            b = self.blocks(sorted(side))
            # drop fields no leaf allows at the scan (fld rides the
            # block metadata, so this is a pushed filter)
            cond = None
            for t, fs in sorted(side.items()):
                if fs != full:
                    c = (F.col("term") == F.lit(t)) & ~F.col("fld").isin(sorted(fs))
                    cond = c if cond is None else (cond | c)
            return b if cond is None else b.filter(~cond)

        pos_blocks, neg_blocks = side_blocks(reads[0]), side_blocks(reads[1])
        total_df = sum(
            r["df"] for t, fs in reads[0].items() for f, r in rows[t].items() if f in fs
        )
        # pruning pays for its extra jobs only when there is real volume
        # to skip; below the threshold the exhaustive plan is faster
        if (
            pq.tree is None
            and not _col_conflicts(pq)
            and block_max
            and order == "bm25"
            and total_df >= self.prune_min_postings
        ):
            # the pruner sees col-restricted singles as AND terms (their
            # blocks are already field-restricted at the scan, so
            # term-level qualification is exact) and col phrases as
            # phrases (adjacency -> theta must stay off)
            toks = [t for _n, _e, t in pq.col_filters if t]
            pq_pr = replace(
                pq,
                and_terms=list(pq.and_terms) + [t[0] for t in toks if len(t) == 1],
                phrases=list(pq.phrases) + [t for t in toks if len(t) > 1],
            )
            pos_blocks, neg_blocks, info = self._prune_blocks(
                pos_blocks, neg_blocks, pq_pr, scaled_map, k, docs_f,
                has_doc_filters, stats, sorted(reads[1]),
            )

        double_negated = []

        def to_spec(node: Node, depth: int = 0):
            """The annotated tree as the evaluator's picklable tuples;
            prefix markers become their stem's (leaf-field-restricted)
            expansion, leaves under ``depth`` >= 1 negations read the
            NOT side."""
            kind = node.kind
            if kind in ("and", "or"):
                return (kind, tuple(to_spec(c, depth) for c in node.kids))
            if kind == "not":
                return ("not", (to_spec(node.kids[0], depth), to_spec(node.kids[1], depth + 1)))
            if kind == "unot":
                return ("unot", (to_spec(node.kids[0], depth + 1),))
            neg = depth > 0
            if neg and depth % 2 == 0:
                double_negated.append(node)
            fs = set(node.spec)
            flds = None if fs == full else tuple(sorted(fs))

            def slot(sl) -> tuple:
                return (sl,) if isinstance(sl, str) else tuple(sorted(stem_live(sl[1], fs)))

            if kind == "near":
                ops = dict.fromkeys(tuple(slot(sl) for sl in op) for op in node.toks)
                return ("near", neg, tuple(ops), node.n + 1, flds)
            if kind == "prefix":
                return ("has", neg, slot(("*", node.stem)), flds)
            slots = tuple(slot(sl) for sl in node.toks)
            if kind == "prefix_phrase":
                slots += (slot(("*", node.stem)),)
            if kind == "anchor" or len(slots) > 1:
                return ("phrase", neg, slots, flds, kind == "anchor")
            return ("has", neg, slots[0], flds)  # term or 1-token phrase

        tree_spec = to_spec(tree)
        spec = {
            "need_pos": need_pos,
            "neg_universe": bool(double_negated),
            "scaled": scaled_map,
            "avgdl": dict(self.avgdl_by_fld),
            "stems": stems_spec,
            "tree": tree_spec,
        }
        # one (term, fld) and no NOT side: each doc has one posting, so
        # the evaluator needs no slice exchange
        single = (
            len(scaled_map) == 1
            and not stems_spec
            and neg_blocks is None
            and not need_pos
        )
        cand = self._evaluate(pos_blocks, neg_blocks, spec, exchange=not single)

        # the index->row join (Q9): when the dictionary says the whole
        # candidate side is small (total df across the query's terms —
        # known driver-side, no extra job), broadcast it so the join
        # probes the docs table instead of sort-merging it. Zipf-head
        # queries exceed the bound and keep the shuffle join.
        if total_df <= self.broadcast_cand_max_postings:
            cand = F.broadcast(cand)
        out = (
            cand.join(docs_f.select("doc_key", "doc_id", *key_meta), "doc_key")
            .select("doc_id", *key_meta, "score")
            .orderBy(*order_cols)
            .limit(k)
        )
        return SearchResult(out, pq, info)

    def attach_text(self, result: DataFrame, source: DataFrame) -> DataFrame:
        """Q9/Q13 analog: join scored keys back to the row store for full
        columns (the index itself stores no document content, like
        external-content FTS5)."""
        return result.join(source, on=[c for c in self.key_cols], how="left")
