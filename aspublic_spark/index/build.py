"""Inverted-index build: ONE pass text exchange -> tokenize -> shuffle ->
packed blocks.

Spark-native analog of the reference's index-maintenance path, where
every ingested row is tokenized and merged into an FTS5 inverted index
by SQL triggers (common/db_sqlite.py:27-41) / a `tsvector` generated
column + GIN index (common/db_postgres.py:29-31). Here the index is a
set of explicit columnar tables, built by DataFrame jobs:

    docs/gen=G/          doc_id, <key cols>, <meta cols>, slice, ord
    postings/gen=G/slice=S/      packed blocks (codec.py) of doc ORDINALS
    dictionary_gens/gen=G/       per-gen (term, fld) -> df/cf/max_tf/min_dl
    dictionary_v/v=N/    merged (term, fld) aggregates (reached through
                         the dictionary_CURRENT.json pointer; a single
                         live generation is pointed at directly)
    stats.json           one row per fld: n_docs, avgdl, total_tokens
    manifest/            one JSON per (stage, gen): status + lineage
                         + metrics (terms/postings/bytes/seconds)

Scale design (the part that must survive 1000 executors / 100 TB):

- postings name a doc by its ORDINAL: its 0-based rank by doc_id
  among the docs of its (generation, slice), the docs table's ``ord``
  column. Ordinals are dense, so a block's doc gaps are small varints
  (a 64-bit doc_id, an xxhash64 for composite keys, gave random 64-bit
  gaps that barely compress — the index was larger than its text).
  The docs table keeps doc_id and the keys; the engine joins its
  candidates back through (gen, slice, ord);
- the whole build is ONE pass over the corpus: the text rows are
  hash-exchanged on doc_id into exactly one partition per slice —
  slice = pmod(hash(doc_id), n_slices) is Spark's own hash
  partitioning, so partition p holds slice p — and each partition is
  sorted by doc_id, so a doc's ordinal is its row index in the
  partition (one rule, ``_ranked``, numbers the docs for the tokenize
  and the docs write), the tokenize runs n_slices tasks whatever the input's
  row-group layout, and a retried task sees its rows in the same
  order; a mapInArrow
  tokenize (linear in tokens; postings leave the Python worker
  already cut into varint-encoded partial blocks) then feeds the pack
  shuffle DIRECTLY — no intermediate raw-postings table is ever
  written or re-read, and the packed blocks are the ONLY stored copy
  of the postings (~half the index storage of a raw+packed layout).
  The build's two data shuffles are this text exchange and the pack
  shuffle;
- the pack shuffle keys on (slice, term, fld, salt): a map task
  salts a (slice, term, fld) group with its own task id once its
  local posting count for the group crosses ~salt_max_postings /
  n_map_tasks, so no single reducer ever materializes a full
  Zipf-head posting list (north_rule's explicit skew handling) and no
  job has to know term df before the shuffle. Salt is a pure
  PERFORMANCE key — any term can be salted or not without affecting
  query results;
- blocks carry (min_doc, max_doc, max_tf, min_dl, sum_tf) so the
  query side can do block-max WAND pruning (score bounds computed at
  QUERY time from max_tf/min_dl under the then-current avgdl — safe
  under cross-generation avgdl drift) and doc-range intersection
  without touching the packed bytes, and so the per-gen dictionary
  aggregates over block METADATA (O(blocks) rows), never re-reading
  postings;
- a generation commits all-or-nothing: its raw manifest is written
  LAST, after docs, packed postings and dictionary are all on disk.
  Executor/task faults are retried by Spark inside the job; a driver
  crash leaves only invisible directories (GC'd by ``repair()``) and
  the generation is rebuilt idempotently from its source batch. Bulk
  loads chunk the corpus into several generations + ``compact()``
  for coarse-grained resume;
- incremental ingest = a new generation directory (the batch analog of
  the FTS5 trigger firing per insert); dictionary/stats quantities are
  all DECOMPOSABLE, so `refresh_global` merges the small per-gen
  dictionaries — per-batch cost independent of corpus history;
- `compact()` merges generations and `prune_index(cutoff)` drops/
  rewrites them by time, both behind crash-safe pending markers. There
  is ONE posting encoder: both decode the packed blocks to posting
  rows (codec.decode_blocks; position payloads are re-SLICED per
  posting, never decoded), renumber the surviving rows with a join
  from their source (gen, slice, ord) to their new (slice, ord) —
  ranked the way the build ranks them — and re-cut them through the
  build's map-side cutter and pack reducer.

Commit protocol (object-store-safe — see fsio.py for the exact two
guarantees it relies on; the reference gets this from sqlite
transactions, db_sqlite.py:28-41):

- a generation is LIVE iff its ``raw`` manifest file exists; data
  directories without that manifest are invisible garbage (GC'd by
  ``repair()``). Readers (engine, refresh_global, compact) enumerate
  generations from the manifest, never by listing data directories;
- every manifest/marker is a single atomically-written file; there is
  NO directory rename anywhere in the lifecycle. Compaction and
  retention-rewrite write their output directly to a fresh generation
  id and flip liveness by committing manifests (Iceberg-style
  new-snapshot, never mutate-in-place);
- the global dictionary is reached through a pointer file
  (``dictionary_CURRENT.json``) naming either a per-gen dictionary
  (single-generation fast path, zero copies) or a merged
  ``dictionary_v/v=N`` version; stats are one atomic ``stats.json``.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aspublic_spark.index import codec
from aspublic_spark.index.fsio import FileSystem, LocalFS, fs_for

# one stored block: ``doc_gaps`` holds the postings' doc ORDINALS
# (delta + varint, codec.py) and ``min_doc``/``max_doc`` their extremes
BLOCK_SCHEMA = (
    "slice int, term string, fld int, salt int, block_id int, n int, "
    "min_doc long, max_doc long, "
    "doc_gaps binary, tfs binary, dls binary, positions binary, "
    "sum_tf long, max_tf int, min_dl int"
)

# in-flight posting rows: one row per (doc, field, term), the doc named
# by its (slice, ord), positions varint-encoded ([n, first, deltas...]
# — codec.encode_grouped_records). compact() and prune_index() decode
# stored blocks into these rows to renumber and re-cut them; never
# persisted. `fld` is the indexed-column ordinal (FTS5 indexes N
# columns per row, `fts5(text, subject, ...)`, reference
# common/db_sqlite.py:27).
RAW_SCHEMA = (
    "slice int, ord long, fld int, dl int, term string, tf int, positions binary"
)
RAW_FORMAT = 5

# bit budget of the engine's 64-bit doc key (gen, slice, ord): a doc's
# ordinal fits ORD_BITS, a slice id SLICE_BITS (IndexBuilder.MAX_SLICES)
# and its generation's rank among the live generations GEN_BITS (ids
# only grow; the live count is what is bounded), 63 bits in all
ORD_BITS, SLICE_BITS, GEN_BITS = 31, 12, 20

# in-flight PARTIAL-BLOCK rows, the shuffle format of every pack job
# (build, compaction, prune): BLOCK_SCHEMA minus block_id, doc
# ordinals in ``doc_gaps``/``min_doc``/``max_doc``. The map side
# cuts its postings at block_size boundaries and computes each block's
# metadata (_cut_blocks), so a FULL row (n == block_size) is already a
# finished block: the pack reducer passes its payload bytes through
# VERBATIM (guide §8: heavy bytes move once, untouched) and only TAIL
# rows (n < block_size — the undersized remainder of each (task, slice,
# term, fld) group) take the decode->merge->re-cut path. The shuffle
# moves ~#blocks + #groups rows instead of one row per POSTING —
# measurement showed the per-posting row conversions dominating the
# pack stage before this format (the pack numpy work itself is ~0.5 s
# per 10^6 postings). Never persisted.
PARTIAL_SCHEMA = (
    "slice int, term string, fld int, salt int, n int, "
    "min_doc long, max_doc long, "
    "doc_gaps binary, tfs binary, dls binary, positions binary, "
    "sum_tf long, max_tf int, min_dl int"
)

# the per-generation data directories (``<sub>/gen=G``)
GEN_SUBDIRS = ("docs", "postings", "dictionary_gens")


# -- snapshot readers (shared by IndexBuilder and SearchEngine) ----------
def live_gens(index_dir: str, fs: FileSystem | None = None) -> list[int]:
    """Generations whose raw manifest is committed — the ONLY definition
    of liveness. Data directories are never trusted as evidence."""
    fs = fs or LocalFS()
    gens = []
    for name in fs.listdir(os.path.join(index_dir, "manifest")):
        if name.startswith("raw_g") and name.endswith(".json"):
            body = name[len("raw_g") : -len(".json")]
            if body.isdigit():
                gens.append(int(body))
    return sorted(gens)


def live_gen_paths(
    index_dir: str, sub: str, fs: FileSystem | None = None
) -> list[str]:
    """Existing data directories of live generations under ``sub``
    (a live gen may not have packed postings yet — filtered out)."""
    fs = fs or LocalFS()
    root = os.path.join(index_dir, sub)
    return [
        os.path.join(root, f"gen={g}")
        for g in live_gens(index_dir, fs)
        if fs.isdir(os.path.join(root, f"gen={g}"))
    ]


def dictionary_location(index_dir: str, fs: FileSystem | None = None) -> str:
    """Resolve the dictionary pointer file to the current parquet dir."""
    fs = fs or LocalFS()
    ptr = fs.read_json(os.path.join(index_dir, "dictionary_CURRENT.json"))
    return os.path.join(index_dir, ptr["path"])


def read_stats(index_dir: str, fs: FileSystem | None = None) -> list[dict]:
    """Per-field corpus stats rows: [{fld, n_docs, avgdl, total_tokens}]."""
    fs = fs or LocalFS()
    return fs.read_json(os.path.join(index_dir, "stats.json"))["by_fld"]


def read_index_meta(index_dir: str, fs: FileSystem | None = None) -> dict | None:
    """The stored layout (``index_meta.json``), or None when the
    directory holds no index yet. An index in another raw postings
    format is refused here, so every reader and writer of an index
    checks it."""
    fs = fs or LocalFS()
    path = os.path.join(index_dir, "index_meta.json")
    if not fs.exists(path):
        return None
    m = fs.read_json(path)
    if m.get("raw_format", 1) != RAW_FORMAT:
        raise ValueError(
            f"index at {index_dir} uses raw postings format "
            f"{m.get('raw_format', 1)}, this code reads and writes "
            f"{RAW_FORMAT}; rebuild into a fresh directory"
        )
    return m


class _LocalSalt:
    """The local salting rule of the map-side cut; one per mapInArrow
    function, ``reset()`` at each task's start (one call per task,
    single-threaded; worker processes are reused).

    A (slice, term, fld) group salts by map-task id + 1 (so task 0
    salts too and salt 0 always means unsalted) once the task's
    cumulative posting count for it reaches ``threshold`` — no global
    heavy-term probe job. With threshold L ~= salt_max_postings /
    n_map_tasks, an unsalted group receives < L postings from each task,
    so its reducer group stays ~salt_max bounded; a genuinely heavy term
    crosses L in every task and spreads one salt per task. In a build
    n_map_tasks is exact: the tokenize runs one task per slice, so a
    task's counts are bounded by its own vocabulary (compaction and
    prune take ``spark.sql.shuffle.partitions`` as theirs, and a re-cut
    task may hold several slices). Any assignment is result-identical:
    salt is purely a shuffle-splitting key."""

    def __init__(self, threshold: int):
        self.threshold = threshold
        self.cum: dict = {}

    def reset(self):
        self.cum.clear()

    def __call__(self, sl_g, fld_g, terms_g: list, n_g) -> np.ndarray:
        from pyspark import TaskContext

        tc = TaskContext.get()
        salt = (tc.partitionId() if tc is not None else 0) + 1
        out = np.zeros(len(terms_g), dtype=np.int32)
        cum = self.cum
        for i, key in enumerate(zip(fld_g.tolist(), sl_g.tolist(), terms_g)):
            v = cum.get(key, 0) + int(n_g[i])
            cum[key] = v
            if v >= self.threshold:
                out[i] = salt
        return out


def _cut_blocks(
    block_size: int, sl_s, tc_s, fld, doc_s, tf_s, dl_s, pos_buf, pos_off, take_terms, salt
):
    """THE block cutter of every pack path: postings sorted by (slice,
    term, fld[, salt], doc ordinal) -> one PARTIAL_SCHEMA batch (``doc_s``
    are the ordinals). Each group is
    cut at block_size boundaries; codec.pack_all_blocks varint-encodes
    doc gaps/tfs/dls for all blocks in one vectorized pass each, and a
    block's position payload is a zero-copy byte slice of ``pos_buf``
    (posting k's record spans ``pos_buf[pos_off[k]:pos_off[k+1]]``;
    ``pos_buf`` is None when positions are not stored).

    ``tc_s`` are term codes, resolved by ``take_terms(idx) -> pa.Array``;
    ``fld`` is one int (a tokenizer call covers one field) or
    per-posting. ``salt`` is either the per-posting salt column, then
    part of the group key (the reducer's tail merge), or a
    :class:`_LocalSalt` that salts each group (the map side)."""
    import pyarrow as pa

    n = doc_s.size
    gstart = np.empty(n, dtype=bool)
    gstart[0] = True
    gstart[1:] = (sl_s[1:] != sl_s[:-1]) | (tc_s[1:] != tc_s[:-1])
    if np.ndim(fld):
        gstart[1:] |= fld[1:] != fld[:-1]
    else:
        fld = np.broadcast_to(np.int32(fld), (n,))
    keyed = isinstance(salt, np.ndarray)
    if keyed:
        gstart[1:] |= salt[1:] != salt[:-1]
    group_of_row = np.cumsum(gstart) - 1
    gs = np.flatnonzero(gstart)
    in_group = np.arange(n, dtype=np.int64) - gs[group_of_row]
    starts = np.flatnonzero(gstart | (in_group % block_size == 0))
    if keyed:
        salts = salt[starts]
    else:
        ge = np.append(gs[1:], n)
        gsalts = salt(sl_s[gs], fld[gs], take_terms(tc_s[gs]).to_pylist(), ge - gs)
        salts = gsalts[group_of_row[starts]]
    blk = codec.pack_all_blocks(doc_s, tf_s, dl_s, starts, as_arrow=True)
    blk_off = np.zeros(starts.size + 1, dtype=np.int64)
    if pos_buf is None:
        pos_buf = np.empty(0, dtype=np.uint8)
    else:
        blk_off[:-1] = pos_off[starts]
        blk_off[-1] = pos_off[-1]
    # per-block tf sum: lets the dictionary's cf/total-token
    # aggregates run over block METADATA instead of postings
    sum_tf = np.add.reduceat(tf_s, starts)
    return pa.record_batch(
        [
            pa.array(sl_s[starts], type=pa.int32()),
            take_terms(tc_s[starts]),
            pa.array(fld[starts], type=pa.int32()),
            pa.array(salts, type=pa.int32()),
            pa.array(blk["n"], type=pa.int32()),
            pa.array(blk["min_doc"], type=pa.int64()),
            pa.array(blk["max_doc"], type=pa.int64()),
            blk["doc_gaps"],
            blk["tfs"],
            blk["dls"],
            codec.binary_from_stream(pos_buf, blk_off),
            pa.array(sum_tf.astype(np.int64), type=pa.int64()),
            pa.array(blk["max_tf"].astype(np.int32), type=pa.int32()),
            pa.array(blk["min_dl"].astype(np.int32), type=pa.int32()),
        ],
        names=[
            "slice", "term", "fld", "salt", "n", "min_doc", "max_doc",
            "doc_gaps", "tfs", "dls", "positions",
            "sum_tf", "max_tf", "min_dl",
        ],
    )


def _gather_payload(data: np.ndarray, off: np.ndarray, order: np.ndarray):
    """Gather the byte records ``data[off[k]:off[k+1]]`` in ``order``
    into one contiguous stream; returns ``(stream, cum)`` where element
    i spans ``stream[cum[i]:cum[i+1]]``."""
    starts_b = off[:-1][order]
    lens_b = (off[1:] - off[:-1])[order]
    totb = int(lens_b.sum())
    cum = np.empty(lens_b.size + 1, dtype=np.int64)
    cum[0] = 0
    np.cumsum(lens_b, out=cum[1:])
    if totb == 0:
        return np.empty(0, dtype=np.uint8), cum
    gather = (
        np.repeat(starts_b, lens_b)
        + np.arange(totb, dtype=np.int64)
        - np.repeat(cum[:-1], lens_b)
    )
    return data[gather], cum


def _sort_and_cut(block_size: int, sl, tc, fld, doc, tf, dl, pos_data, pos_off, terms, salt):
    """Postings in any order -> one PARTIAL_SCHEMA batch: one lexsort
    by (slice, term, fld[, salt], doc ordinal), the position records
    (``pos_data[pos_off[k]:pos_off[k+1]]``) gathered into that order —
    never decoded — then :func:`_cut_blocks`. ``tc`` indexes the Arrow
    string array ``terms``. ``salt`` is the per-posting salt column (the
    reducer's tail merge) or a :class:`_LocalSalt` (the re-cut's map
    side)."""
    import pyarrow as pa

    keyed = isinstance(salt, np.ndarray)
    order = np.lexsort((doc, salt, fld, tc, sl) if keyed else (doc, fld, tc, sl))
    buf, cum = _gather_payload(pos_data, pos_off, order)
    return _cut_blocks(
        block_size, sl[order], tc[order], fld[order], doc[order], tf[order], dl[order],
        buf, cum, lambda idx: terms.take(pa.array(idx)), salt[order] if keyed else salt,
    )


def _raw_postings_arrow_factory(
    store_positions: bool,
    n_fields: int,
    analyzer: str,
    salt_threshold: int,
    block_size: int,
):
    """mapInArrow fn: (slice, ord, doc_id, f0[, f1...]) batches ->
    PARTIAL_SCHEMA rows, the build's map side: tokenize, then
    :func:`_cut_blocks`.

    A task holds one slice sorted by doc_id, each row with its ordinal
    (:meth:`IndexBuilder._ranked`, the numbering the docs write uses
    too). A doc_id repeated in one build (two docs cannot share one
    ordinal) fails the task loudly.

    Replaces the former JVM higher-order-function position extraction,
    which rescanned the token array once per distinct term
    (O(distinct_terms x doc_len) — quadratic on long documents). This
    is linear in total token count and vectorized at BATCH level: one
    term factorization over every token of the batch, one lexsort by
    (slice, term, doc), group boundaries by diff. Positions are
    varint-encoded into ONE shared buffer already in that order, so
    each block's payload is a zero-copy slice of it. Each indexed field
    is tokenized independently (per-field dl and positions, exactly
    like FTS5 columns).

    Tokenization fast path: on rows whose characters are all
    ``[a-z0-9]`` + ASCII whitespace, the FTS5 unicode61 analyzer IS
    ``str.split()`` (each char either maps to itself or is an ASCII
    whitespace separator), so those rows tokenize fully in Arrow C++
    (``ascii_split_whitespace`` + ``dictionary_encode`` — no Python
    string objects at all, measured ~8x over the per-row path). Any
    other row (uppercase, ``_``, punctuation, non-ASCII, or the
    'english' analyzer entirely) takes the exact Python tokenizer;
    both paths emit identical postings for the rows they handle.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from aspublic_spark.functions.stemmer import get_analyzer

    tokenize = get_analyzer(analyzer)
    arrow_fast = analyzer == "fts5"
    _dirty_re = "[^a-z0-9 \t\n\r\x0b\x0c]"
    salter = _LocalSalt(salt_threshold)

    def _emit_groups(slice_sub, doc_sub, lens, codes, take_terms, fld):
        """Posting-group assembly: ``lens`` = tokens per doc, ``codes``
        = term codes in doc-major position order, ``take_terms(idx) ->
        pa.Array`` resolves codes to strings."""
        n = lens.size
        total = int(lens.sum())
        if total == 0:
            return None
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        doc_off = np.empty(n, dtype=np.int64)
        doc_off[0] = 0
        np.cumsum(lens[:-1], out=doc_off[1:])
        pos_in_doc = np.arange(total, dtype=np.int64) - doc_off[doc_idx]
        # sort ONCE in the shuffle-final order (slice, term, ord, pos).
        # np.lexsort is STABLE and the token stream arrives doc-major
        # with positions ascending, so equal keys keep position order.
        # A block's ordinals must ascend (doc-gap codec, min_doc/max_doc
        # pruning); ``doc_sub`` holds the rows' ordinals
        order = np.lexsort((doc_sub[doc_idx], codes, slice_sub[doc_idx]))
        di_s, co_s, po_s = doc_idx[order], codes[order], pos_in_doc[order]
        gstart = np.empty(total, dtype=bool)
        gstart[0] = True
        gstart[1:] = (di_s[1:] != di_s[:-1]) | (co_s[1:] != co_s[:-1])
        starts = np.flatnonzero(gstart)
        g_lens = np.diff(np.append(starts, total))
        g_di = di_s[starts]
        buf = off = None
        if store_positions:
            buf, off = codec.encode_grouped_records_offsets(po_s, g_lens)
        return _cut_blocks(
            block_size, slice_sub[g_di], co_s[starts], fld, doc_sub[g_di],
            g_lens.astype(np.int64), lens[g_di], buf, off, take_terms, salter,
        )

    def one_field_py(slice_np, doc_np, texts, fld):
        import pandas as pd

        n = len(texts)
        toks_per_doc = [tokenize(t) for t in texts]
        lens = np.fromiter((len(t) for t in toks_per_doc), dtype=np.int64, count=n)
        total = int(lens.sum())
        if total == 0:
            return None
        flat = np.empty(total, dtype=object)
        at = 0
        for toks in toks_per_doc:
            if toks:
                flat[at : at + len(toks)] = toks
                at += len(toks)
        codes, uniques = pd.factorize(flat, sort=False)
        uniques = np.asarray(uniques, dtype=object)
        return _emit_groups(
            slice_np,
            doc_np,
            lens,
            codes.astype(np.int64),
            lambda idx: pa.array(uniques[idx], type=pa.string()),
            fld,
        )

    def one_field_arrow(slice_np, doc_np, col, fld):
        """Yields 0-2 record batches: the Arrow-tokenized clean rows and
        the Python-tokenized rest. Both cut their own partial blocks;
        the pack reducer merges their tails like any other task's."""
        n = len(col)
        col = pc.fill_null(col, "")
        trimmed = pc.ascii_trim_whitespace(col)
        dirty = pc.match_substring_regex(trimmed, _dirty_re).to_numpy(
            zero_copy_only=False
        )
        empty = pc.equal(trimmed, "").to_numpy(zero_copy_only=False)
        clean_idx = np.flatnonzero(~dirty & ~empty)
        if clean_idx.size:
            sub = (
                trimmed
                if clean_idx.size == n
                else trimmed.take(pa.array(clean_idx))
            )
            tl = pc.ascii_split_whitespace(sub)
            lens = (
                pc.list_value_length(tl)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            de = pc.list_flatten(tl).dictionary_encode()
            codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            dic = de.dictionary
            out = _emit_groups(
                slice_np[clean_idx],
                doc_np[clean_idx],
                lens,
                codes,
                lambda idx: dic.take(pa.array(idx)),
                fld,
            )
            if out is not None:
                yield out
        dirty_idx = np.flatnonzero(dirty)
        if dirty_idx.size:
            texts = col.take(pa.array(dirty_idx)).to_pylist()
            out = one_field_py(slice_np[dirty_idx], doc_np[dirty_idx], texts, fld)
            if out is not None:
                yield out

    def emit(batches):
        salter.reset()
        last_id = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            slice_np = batch.column("slice").to_numpy(zero_copy_only=False).astype(np.int32)
            doc_np = batch.column("ord").to_numpy(zero_copy_only=False).astype(np.int64)
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            chain = ids if last_id is None else np.r_[last_id, ids]
            dup = np.flatnonzero(chain[1:] == chain[:-1])
            if dup.size:
                raise RuntimeError(
                    f"doc_id {int(chain[dup[0]])} occurs twice in one build: two "
                    "docs cannot share one ordinal"
                )
            last_id = ids[-1]
            for fld in range(n_fields):
                if arrow_fast:
                    yield from one_field_arrow(
                        slice_np, doc_np, batch.column(f"f{fld}"), fld
                    )
                else:
                    out = one_field_py(
                        slice_np, doc_np, batch.column(f"f{fld}").to_pylist(), fld
                    )
                    if out is not None:
                        yield out

    return emit


def _decode_postings_arrow_factory():
    """mapInArrow fn: packed block rows (+ ``gen``) -> posting rows
    (RAW_SCHEMA + ``gen``, each doc named by its source (gen, slice,
    ord)) for compact()/prune_index(). One
    codec.decode_blocks pass per batch; each posting's position record
    leaves as a zero-copy slice of the stored payload, never decoded."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            d = codec.decode_blocks(batch, "bytes")
            if d is None:
                continue
            blk = d["blk"]

            def per_posting(name):
                return pa.array(
                    batch.column(name).to_numpy(zero_copy_only=False)[blk], type=pa.int32()
                )

            yield pa.record_batch(
                [
                    per_posting("slice"),
                    pa.array(d["ord"], type=pa.int64()),
                    per_posting("fld"),
                    pa.array(d["dl"].astype(np.int32), type=pa.int32()),
                    codec.one_chunk(batch.column("term")).take(pa.array(blk)),
                    pa.array(d["tf"].astype(np.int32), type=pa.int32()),
                    codec.binary_from_stream(d["pos_bytes"], d["pos_off"]),
                    per_posting("gen"),
                ],
                names=["slice", "ord", "fld", "dl", "term", "tf", "positions", "gen"],
            )

    return run


def _recut_arrow_factory(block_size: int, salt_threshold: int):
    """mapInArrow fn: posting rows (RAW_SCHEMA, any order) ->
    PARTIAL_SCHEMA rows — the tokenizer's map-side cut, for the
    surviving postings of compact()/prune_index(). A task's rows are
    cut as one table (per-batch cuts would leave one tail per group
    per batch), salted by the same local rule."""
    import pyarrow as pa

    salter = _LocalSalt(salt_threshold)

    def run(batches):
        salter.reset()
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list).combine_chunks()
        if tbl.num_rows == 0:
            return

        def col(name, dtype):
            return codec.one_chunk(tbl.column(name)).to_numpy(zero_copy_only=False).astype(dtype)

        terms = codec.one_chunk(tbl.column("term").dictionary_encode())
        data, off = codec.binary_view(tbl.column("positions"))
        yield _sort_and_cut(
            block_size, col("slice", np.int32),
            terms.indices.to_numpy(zero_copy_only=False).astype(np.int64),
            col("fld", np.int32), col("ord", np.int64), col("tf", np.int64),
            col("dl", np.int64), data, off, terms.dictionary, salter,
        )

    return run


def _pack_partials_arrow_factory(block_size: int):
    """mapInArrow fn: the ONE pack reducer. Finishes one shuffle
    partition of PARTIAL-BLOCK rows (build, compaction and prune alike)
    into stored blocks.

    FULL rows (n == block_size) are finished blocks cut map-side: their
    payload bytes pass through VERBATIM — no varint decode, no posting
    sort, no re-encode (guide §8: the heavy bytes cross the shuffle
    once and are never touched again). Only TAIL rows (n < block_size)
    take the merge path: codec.decode_blocks, a posting lexsort, and a
    re-cut by :func:`_cut_blocks`; positions are never decoded even
    there — their records are re-sliced verbatim. block_id is assigned
    over the combined output per (slice, term, fld, salt) group in
    (min_doc, max_doc) order — deterministic, since a (slice, ord,
    term, fld) posting exists exactly once in a generation, so blocks
    of one group can't share min_doc."""
    import pyarrow as pa

    def _merge_tails(tbl):
        d = codec.decode_blocks(tbl, "bytes")
        if d is None:
            return None
        blk = d["blk"]

        def col(name):
            return codec.one_chunk(tbl.column(name)).to_numpy(zero_copy_only=False).astype(np.int32)[blk]

        terms = codec.one_chunk(tbl.column("term").dictionary_encode())
        merged = _sort_and_cut(
            block_size, col("slice"),
            terms.indices.to_numpy(zero_copy_only=False).astype(np.int64)[blk],
            col("fld"), d["ord"], d["tf"], d["dl"], d["pos_bytes"], d["pos_off"],
            terms.dictionary, col("salt"),
        )
        return pa.Table.from_batches([merged])

    def pack(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list).combine_chunks()
        nb = tbl.num_rows
        if nb == 0:
            return
        n_all = tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
        full_mask = n_all == block_size
        parts = []
        if not full_mask.all():
            tails = (
                tbl
                if not full_mask.any()
                else tbl.filter(pa.array(~full_mask)).combine_chunks()
            )
            merged = _merge_tails(tails)
            if merged is not None:
                parts.append(merged)
        if full_mask.any():
            parts.append(
                tbl
                if full_mask.all()
                else tbl.filter(pa.array(full_mask)).combine_chunks()
            )
        if not parts:
            return
        out = (
            parts[0]
            if len(parts) == 1
            else pa.concat_tables(parts).combine_chunks()
        )
        # block_id per (slice, term, fld, salt) group, (min_doc, max_doc)
        # order — O(blocks) metadata sort, payloads untouched
        sl = out.column("slice").to_numpy(zero_copy_only=False).astype(np.int32)
        fl = out.column("fld").to_numpy(zero_copy_only=False).astype(np.int32)
        sa = out.column("salt").to_numpy(zero_copy_only=False).astype(np.int32)
        mind = out.column("min_doc").to_numpy(zero_copy_only=False).astype(np.int64)
        maxd = out.column("max_doc").to_numpy(zero_copy_only=False).astype(np.int64)
        td = codec.one_chunk(out.column("term").dictionary_encode())
        tc = td.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.lexsort((maxd, mind, sa, fl, tc, sl))
        sl_o, fl_o, sa_o, tc_o = sl[order], fl[order], sa[order], tc[order]
        nblk = order.size
        new_grp = np.empty(nblk, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (
            (sl_o[1:] != sl_o[:-1])
            | (tc_o[1:] != tc_o[:-1])
            | (fl_o[1:] != fl_o[:-1])
            | (sa_o[1:] != sa_o[:-1])
        )
        grp_first = np.flatnonzero(new_grp)
        block_ids = (
            np.arange(nblk, dtype=np.int64)
            - grp_first[np.cumsum(new_grp) - 1]
        )
        out = out.take(pa.array(order)).add_column(
            4, "block_id", pa.array(block_ids.astype(np.int32), type=pa.int32())
        )
        for b in out.to_batches():
            yield b

    return pack


def _verify_blocks_arrow_factory():
    """mapInArrow fn for :meth:`IndexBuilder.verify`: packed blocks ->
    one row per posting (gen, slice, term, fld, ord) plus two per-block
    flags carried on the block's first posting: ``bad_order`` (decoded
    ordinals not strictly ascending) and ``bad_range`` (``min_doc`` /
    ``max_doc`` not the decoded extremes)."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            d = codec.decode_blocks(batch)
            if d is None:
                continue
            blk, ids = d["blk"], d["ord"]
            starts = np.flatnonzero(np.r_[True, blk[1:] != blk[:-1]])
            step_ok = np.ones(ids.size, dtype=bool)
            step_ok[1:] = ids[1:] > ids[:-1]
            step_ok[starts] = True
            b = blk[starts]
            mn = batch.column("min_doc").to_numpy(zero_copy_only=False)[b]
            mx = batch.column("max_doc").to_numpy(zero_copy_only=False)[b]
            bad_order = np.zeros(ids.size, dtype=np.int32)
            bad_order[starts] = ~np.logical_and.reduceat(step_ok, starts)
            bad_range = np.zeros(ids.size, dtype=np.int32)
            bad_range[starts] = (np.minimum.reduceat(ids, starts) != mn) | (
                np.maximum.reduceat(ids, starts) != mx
            )
            def per_posting(name):
                return pa.array(
                    batch.column(name).to_numpy(zero_copy_only=False)[blk], type=pa.int32()
                )

            yield pa.record_batch(
                [
                    per_posting("gen"),
                    per_posting("slice"),
                    codec.one_chunk(batch.column("term")).take(pa.array(blk)),
                    per_posting("fld"),
                    pa.array(ids, type=pa.int64()),
                    pa.array(bad_order, type=pa.int32()),
                    pa.array(bad_range, type=pa.int32()),
                ],
                names=["gen", "slice", "term", "fld", "ord", "bad_order", "bad_range"],
            )

    return run


class IndexBuilder:
    """Builds and incrementally extends a segmented inverted index."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        key_cols: list[str] = ("conv_id", "turn_idx"),
        text_col: str = "text",
        meta_cols: list[str] = ("role", "tool", "ts"),
        block_size: int = 128,
        n_slices: int | None = None,
        store_positions: bool = True,
        salt_max_postings: int = 100_000,
        text_cols: list[str] | None = None,
        analyzer: str = "fts5",
        fs: FileSystem | None = None,
    ):
        """``text_cols`` indexes multiple columns as FTS5 fields (the
        reference indexes BOTH text and subject, db_sqlite.py:27-41);
        field ordinal = list position. ``text_col`` remains the
        single-field shorthand. ``analyzer``: 'fts5' (unicode61
        semantics, the rank-identity backend) or 'english' (the
        Postgres to_tsvector('english') variant: stopwords dropped,
        Porter-stemmed — db_postgres.py:29-31).

        ``n_slices=None`` (default) auto-sizes from the FIRST build's
        corpus volume (~1M docs per slice, floor 8, cap 4096 =
        ``MAX_SLICES``; bounded
        LIMIT probe so small inputs never pay a count pass). Slices are
        the doc-hash partitions of the index and the ONLY co-location
        key the query evaluator can shuffle packed blocks by (see engine.py
        _fused_score_factory), so they cap query parallelism, set the
        build's tokenize task count (one task per slice) AND set
        the per-task decoded-positions memory unit (~24B per
        phrase-term occurrence in a slice; 1M docs x ~20 tokens with a
        20% Zipf head ~= 100MB decoded per task). Sizing is by VOLUME,
        not session width: a measured sweep at sf0.1 (PLANS.md) shows
        q_phrase flat from 4->8 slices and degrading at 16/32 — when
        per-slice volume is small, extra slices only add task/file
        overhead, so parallelism-based sizing would pessimize exactly
        the corpora it fits in. Explicit n_slices always wins (an
        operator sizing for a known cluster); a stored index's layout
        always wins over both."""
        self.spark = spark
        self.index_dir = index_dir
        self.key_cols = list(key_cols)
        self.text_cols = list(text_cols) if text_cols else [text_col]
        self.text_col = self.text_cols[0]
        self.meta_cols = list(meta_cols)
        self.block_size = block_size
        self.n_slices = n_slices  # None -> resolved at first build()
        self.store_positions = store_positions
        self.salt_max_postings = salt_max_postings
        self.analyzer = analyzer
        self.fs = fs or fs_for(index_dir, spark)
        # The commit protocol reads Spark's per-directory _SUCCESS
        # markers as write-completeness evidence (compaction/prune
        # roll-forward validation, repair()'s damage check). Cluster
        # tuning guides sometimes disable them for S3; the protocol is
        # NOT safe without them, so pin the setting for this session.
        try:
            spark.sparkContext._jsc.hadoopConfiguration().set(
                "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true"
            )
        except Exception:
            pass  # non-JVM test doubles
        # reopening an existing index: the stored layout wins — building
        # a new generation with different slicing/fields/block size
        # would silently corrupt the segment set
        m = read_index_meta(index_dir, self.fs)
        if m is not None:
            self.key_cols = m["key_cols"]
            self.meta_cols = m["meta_cols"]
            self.text_cols = m["text_cols"]
            self.text_col = self.text_cols[0]
            self.block_size = m["block_size"]
            self.n_slices = m["n_slices"]
            self.store_positions = m["store_positions"]
            self.salt_max_postings = m["salt_max_postings"]
            self.analyzer = m["analyzer"]
        if self.n_slices is not None and not 1 <= self.n_slices <= self.MAX_SLICES:
            raise ValueError(f"n_slices must be in 1..{self.MAX_SLICES}")
        self.fs.makedirs(os.path.join(index_dir, "manifest"))

    # -- paths -------------------------------------------------------
    def _p(self, *parts) -> str:
        return os.path.join(self.index_dir, *parts)

    def _manifest_path(self, stage: str, gen: int, slice_id: int | None = None) -> str:
        name = f"{stage}_g{gen}" + (f"_s{slice_id}" if slice_id is not None else "")
        return self._p("manifest", name + ".json")

    def _manifest_done(self, stage: str, gen: int, slice_id: int | None = None) -> bool:
        return self.fs.exists(self._manifest_path(stage, gen, slice_id))

    def _commit(self, stage: str, gen: int, slice_id: int | None, metrics: dict):
        rec = {
            "stage": stage,
            "gen": gen,
            "slice": slice_id,
            "status": "done",
            "app_id": self.spark.sparkContext.applicationId,
            **metrics,
        }
        # single-file atomic write: the ONLY commit primitive (fsio.py)
        self.fs.write_json_atomic(self._manifest_path(stage, gen, slice_id), rec)

    def manifest(self) -> list[dict]:
        out = []
        mdir = self._p("manifest")
        for name in self.fs.listdir(mdir):
            # *_pending.json are crash-recovery markers, not stage records
            if name.endswith(".json") and not name.endswith("_pending.json") and not name.endswith(".tmp"):
                out.append(self.fs.read_json(os.path.join(mdir, name)))
        return out

    def _live_gens(self) -> list[int]:
        return live_gens(self.index_dir, self.fs)

    def _clear_gen_manifests(self, gen: int, stages=("raw", "gendict", "pack")):
        """Remove one generation's stage manifests (used when dropping a
        generation or before re-writing its raw output, so stale derived
        state can never be mistaken for committed)."""
        mdir = self._p("manifest")
        for name in self.fs.listdir(mdir):
            for st in stages:
                if name == f"{st}_g{gen}.json" or name.startswith(f"{st}_g{gen}_s"):
                    self.fs.delete(os.path.join(mdir, name))

    def _next_gen_id(self) -> int:
        """A generation id not colliding with any live gen OR any
        leftover data directory (an orphan from a crashed compaction or
        prune that repair() has not collected yet)."""
        mx = -1
        for g in self._live_gens():
            mx = max(mx, g)
        for sub in GEN_SUBDIRS:
            for name in self.fs.listdir(self._p(sub)):
                if name.startswith("gen=") and name[4:].isdigit():
                    mx = max(mx, int(name[4:]))
        return mx + 1

    def _check_gen(self, gen: int):
        """Generation ids only grow and are unbounded; the engine keys a
        doc by its generation's RANK among the live ones (GEN_BITS), so
        what a new generation must fit is the live count."""
        if gen < 0:
            raise ValueError(f"generation ids are non-negative, got {gen}")
        live = self._live_gens()
        if gen not in live and len(live) >= 1 << GEN_BITS:
            raise ValueError(
                f"the index already holds 2^{GEN_BITS} live generations: compact() it first"
            )

    # -- doc identity ------------------------------------------------
    def doc_id_col(self):
        """Deterministic 64-bit doc id from the key columns.

        Single numeric key (e.g. documents.doc_id) passes through so
        external ids stay meaningful; composite keys hash via xxhash64
        (stateless -> identical under any partitioning)."""
        if len(self.key_cols) == 1:
            return F.col(self.key_cols[0]).cast("long")
        return F.xxhash64(*[F.col(c) for c in self.key_cols])

    # -- stages ------------------------------------------------------
    def build(self, df: DataFrame, gen: int = 0, resume: bool = True) -> dict:
        """Build one generation in ONE pass over ``df``.

        tokenize -> cut partial blocks -> shuffle -> pack, writing docs + packed
        postings + per-gen dictionary, then committing the generation's
        raw manifest LAST (the all-or-nothing liveness flip). If the
        generation is already live and ``resume`` is set, only the
        global refresh runs (idempotent replay after a crash between
        liveness commit and refresh)."""
        t0 = time.time()
        self._check_gen(gen)
        if resume and self._manifest_done("raw", gen):
            # generation fully committed — only the global view may be
            # stale (crash between liveness flip and refresh)
            self._stage_global(resume=resume)
            return {"seconds": time.time() - t0, "manifest": self.manifest()}
        # (re)building this generation invalidates any sub-stage state a
        # crashed earlier attempt left behind — stale derived markers
        # must never survive over data about to be replaced
        self._clear_gen_manifests(gen)
        # Two independent heads: the n_slices LIMIT probe (first build
        # only, bounded) and the docs write; salting is decided inside
        # the pack job's map tasks (r6 local rule — no salt-plan job at
        # all), so the fused tokenize->pack job starts immediately. The
        # docs write is submitted from a driver thread first and the
        # pack job runs under it; Spark schedules concurrent jobs FIFO,
        # so their tasks back-fill cores (guide: overlap independent
        # jobs). Commit order is unchanged: the raw manifest still
        # flips only after every job's output (and the gen dictionary)
        # is fully on disk.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            if self.n_slices is None:
                self.n_slices = self._resolve_auto_slices(df)
            meta_path = self._p("index_meta.json")
            if not self.fs.exists(meta_path):
                self.fs.write_json_atomic(
                    meta_path,
                    {
                        "raw_format": RAW_FORMAT,
                        "analyzer": self.analyzer,
                        "key_cols": self.key_cols,
                        "meta_cols": self.meta_cols,
                        "text_col": self.text_col,
                        "text_cols": self.text_cols,
                        "block_size": self.block_size,
                        "n_slices": self.n_slices,
                        "store_positions": self.store_positions,
                        "salt_max_postings": self.salt_max_postings,
                    },
                )
            docs_fut = pool.submit(self._stage_docs, df, gen)
            try:
                self._stage_pack_fused(df, gen)
            finally:
                n_docs = docs_fut.result()
        self._stage_gen_dict(gen, n_docs=n_docs)
        # liveness flip: the generation becomes visible only now, with
        # every piece of its state already on disk
        self._commit("raw", gen, None, {"n_docs": n_docs})
        self._stage_global(resume=resume)
        return {"seconds": time.time() - t0, "manifest": self.manifest()}

    def add_documents(self, df: DataFrame, gen: int, resume: bool = True) -> dict:
        """Incremental ingest: index a new batch as generation ``gen``.

        Batch analog of the reference's trigger-per-insert index
        maintenance (db_sqlite.py:28-41). Caller ensures doc keys are
        new (pair with operators.filters.anti_join_existing for the
        idempotent ON CONFLICT DO NOTHING upsert, db_sqlite.py:55-59).
        """
        return self.build(df, gen=gen, resume=resume)

    DOCS_PER_SLICE = 1_000_000
    MIN_SLICES = 8
    MAX_SLICES = 1 << SLICE_BITS

    def _resolve_auto_slices(self, df: DataFrame) -> int:
        """Size n_slices from the first build's corpus volume.

        A LocalLimit probe answers "more than MIN_SLICES full slices of
        docs?" with bounded cost regardless of input size; only
        genuinely large first builds pay the column-pruned count() that
        sizes them."""
        cap = self.MIN_SLICES * self.DOCS_PER_SLICE
        probe = df.select(F.lit(1).alias("one")).limit(cap + 1).count()
        if probe <= cap:
            return self.MIN_SLICES
        n_docs = df.count()
        return int(
            min(self.MAX_SLICES, -(-n_docs // self.DOCS_PER_SLICE))
        )

    @staticmethod
    def _slice_expr(n_slices: int):
        """A doc's slice: Spark's own hash partitioning of doc_id
        (Murmur3, seed 42), so ``repartition(n_slices, "doc_id")`` puts
        slice p in partition p."""
        return F.pmod(F.hash(F.col("doc_id")), F.lit(n_slices)).cast("int")

    def _ranked(self, rows: DataFrame, n_slices: int) -> DataFrame:
        """``rows`` (one per doc, with ``doc_id``) plus each doc's
        ``slice`` and ``ord`` — its 0-based rank by doc_id within the
        slice — the ONE numbering of the tokenize, the docs write,
        compaction and prune: the identity exchange (one partition per
        slice) sorted by doc_id, and the row index
        in the partition, the low 33 bits of
        ``monotonically_increasing_id`` (its high bits are the
        partition id, checked against the slice)."""
        m = F.col("_m")
        rank = m.bitwiseAND(F.lit((1 << 33) - 1))
        return (
            rows.repartition(n_slices, "doc_id")
            .sortWithinPartitions("doc_id")
            .withColumn("_m", F.monotonically_increasing_id())
            .withColumn("slice", self._slice_expr(n_slices))
            .withColumn(
                "ord",
                F.when(
                    (F.shiftright(m, 33) == F.col("slice")) & (rank < F.lit(1 << ORD_BITS)),
                    rank.cast("int"),
                ).otherwise(
                    F.raise_error(
                        F.lit(f"a doc's exchange partition is not its slice, or a slice holds 2^{ORD_BITS} docs")
                    )
                ),
            )
            .drop("_m")
        )

    def _stage_docs(self, df: DataFrame, gen: int) -> int:
        """Write the docs table for one generation — doc_id, keys,
        meta, slice and ord (:meth:`_ranked`, the tokenize's numbering)
        — and return its row count (observed on the write itself — no
        extra job). No tokenization here: doc lengths live inline in
        the postings and corpus stats derive from packed block
        metadata."""
        from pyspark.sql import Observation

        doc_id = self.doc_id_col()
        docs = self._ranked(
            df.select(
                doc_id.alias("doc_id"),
                *[F.col(c) for c in self.key_cols if c != "doc_id"],
                *[F.col(c) for c in self.meta_cols],
            ),
            self.n_slices,
        )
        obs = Observation(f"docs_g{gen}_{time.time_ns()}")
        # per-generation subdir + overwrite => a crashed-and-retried
        # build is idempotent (append would duplicate the docs rows and
        # silently inflate N/avgdl)
        docs.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(self._p("docs", f"gen={gen}"))
        return int(obs.get["n"] or 0)

    def _tokenized(self, df: DataFrame) -> DataFrame:
        """Input scan -> text exchange -> PARTIAL_SCHEMA rows (IN FLIGHT
        only).

        The (doc_id, text) rows are ranked first (:meth:`_ranked`, the
        docs write's numbering): hash-exchanged on doc_id into
        ``n_slices`` partitions, the slice IS that hash partition
        (:meth:`_slice_expr`), so partition p holds exactly slice p, and
        the tokenize runs one task per slice whatever the input's split
        layout (a parquet row group cannot be split: a small
        one-row-group input would otherwise tokenize in one task). Do
        not key the exchange on the slice column: hashing the slice
        ids collides several slices into one partition. AQE never
        coalesces an explicit partition count, so ``n_slices`` is
        exactly the task count the salting threshold is sized for.

        Each partition is sorted by doc_id: a doc's ordinal is its row
        index in the task. The sort also fixes the ORDER (remote
        shuffle blocks arrive in any order), which the tokenize's
        output depends on — rows batch in arrival order and
        :class:`_LocalSalt` salts a group once the task's running count
        crosses the threshold — so a retried tokenize task emits the
        very partial rows, salts included, that the pack reducers of
        its first attempt may already have read.

        Then ONE mapInArrow: tokenize, group term->positions linearly
        (batch-level factorize + lexsort, no per-doc Python beyond the
        tokenizer), cut partial blocks — one row per full block plus one
        tail per (task, slice, term, fld) group, salted locally
        (:class:`_LocalSalt`) — collapsing the pack exchange and both
        mapInArrow boundary crossings to O(blocks) rows. No action of
        its own — this plan feeds the pack shuffle directly."""
        texts = [f"f{i}" for i in range(len(self.text_cols))]
        ranked = self._ranked(
            df.select(
                self.doc_id_col().alias("doc_id"),
                *[F.col(c).alias(f"f{i}") for i, c in enumerate(self.text_cols)],
            ),
            self.n_slices,
        )
        return ranked.select("slice", "ord", "doc_id", *texts).mapInArrow(
            _raw_postings_arrow_factory(
                self.store_positions, len(self.text_cols), self.analyzer,
                self._salt_threshold(self.n_slices), self.block_size,
            ),
            PARTIAL_SCHEMA,
        )

    def _salt_threshold(self, n_map: int) -> int:
        """The local salting threshold for ``n_map`` map tasks: ~
        salt_max_postings / n_map keeps the reducer-bound contract (an
        unsalted group's reducer receives at most ~salt_max postings in
        total); never below one block."""
        return max(self.block_size, self.salt_max_postings // n_map)

    def _stage_gen_dict(self, gen: int, n_docs: int | None = None):
        """Per-generation dictionary: aggregate THIS generation's packed
        block METADATA (term, fld, n, sum_tf, max_tf, min_dl — an
        O(blocks) scan that never touches the packed byte payloads)
        into (term, fld) -> df/cf/max_tf/min_dl, plus per-gen corpus
        counters. This is the piece that makes incremental ingest
        O(batch), not O(corpus): every dictionary/stats quantity is
        decomposable (df/cf/total additive, max_tf max, min_dl min), so
        the global refresh merges these small per-gen tables instead of
        re-aggregating every generation's postings per batch."""
        t0 = time.time()
        # explicit schema: also covers an EMPTY generation (zero-row
        # input), whose packed dir has no files to infer from
        blocks = (
            self.spark.read.schema(BLOCK_SCHEMA)
            .parquet(self._p("postings", f"gen={gen}"))
            .select("term", "fld", "n", "sum_tf", "max_tf", "min_dl")
        )
        gdict = blocks.groupBy("term", "fld").agg(
            F.sum("n").alias("df"),
            F.sum("sum_tf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
        )
        # per-field totals ride the SAME write action as observed
        # metrics (no read-back aggregation job); fld ordinals are tiny,
        # so fixed per-fld conditional sums cover them
        from pyspark.sql import Observation

        obs = Observation(f"gendict_g{gen}_{time.time_ns()}")
        n_fld = len(self.text_cols)
        metrics = [F.sum("df").alias("n_postings")]
        for f in range(n_fld):
            metrics.append(
                F.sum(F.when(F.col("fld") == f, F.col("cf")).otherwise(0)).alias(f"tok{f}")
            )
        gdict.observe(obs, *metrics).write.mode("overwrite").parquet(
            self._p("dictionary_gens", f"gen={gen}")
        )
        got = obs.get
        by_fld = {str(f): int(got[f"tok{f}"] or 0) for f in range(n_fld)}
        if n_docs is None:
            n_docs = self.spark.read.parquet(self._p("docs", f"gen={gen}")).count()
        self._commit(
            "gendict", gen, None,
            {
                "n_docs": n_docs,
                "total_tokens_by_fld": by_fld,
                "total_tokens": sum(by_fld.values()),
                "n_postings": int(got["n_postings"] or 0),
                "seconds": time.time() - t0,
            },
        )

    def _write_stats(self, n_docs: int, tok_by_fld: dict[int, int]):
        """One atomic JSON file with one row per field. avgdl is per
        FIELD (FTS5 computes per-column average lengths the same way),
        denominated over ALL docs. A single-file atomic write is the
        strongest commit primitive every target filesystem has, so the
        stats flip is crash-safe on POSIX, HDFS and object stores
        alike (the old layout swapped a parquet dir via os.rename)."""
        flds = sorted(tok_by_fld) or [0]
        self.fs.write_json_atomic(
            self._p("stats.json"),
            {
                "by_fld": [
                    {
                        "fld": f,
                        "n_docs": n_docs,
                        "avgdl": (tok_by_fld.get(f, 0) / n_docs) if n_docs else 0.0,
                        "total_tokens": tok_by_fld.get(f, 0),
                    }
                    for f in flds
                ]
            },
        )

    def _set_dictionary_ptr(self, rel_path: str):
        """Flip the global-dictionary pointer (atomic single file), then
        GC superseded merged versions. Readers resolve the pointer at
        snapshot time (SearchEngine caches per refresh())."""
        self.fs.write_json_atomic(
            self._p("dictionary_CURRENT.json"), {"path": rel_path}
        )
        keep = rel_path.split("/")[-1] if rel_path.startswith("dictionary_v/") else None
        for name in self.fs.listdir(self._p("dictionary_v")):
            if name.startswith("v=") and name != keep:
                self.fs.delete(self._p("dictionary_v", name), recursive=True)

    def _next_dict_version(self) -> int:
        mx = -1
        for name in self.fs.listdir(self._p("dictionary_v")):
            if name.startswith("v=") and name[2:].isdigit():
                mx = max(mx, int(name[2:]))
        return mx + 1

    def dictionary_df(self) -> DataFrame:
        return self.spark.read.parquet(dictionary_location(self.index_dir, self.fs))

    def _gen_manifests(self, stage: str) -> dict[int, dict]:
        out = {}
        for rec in self.manifest():
            if rec["stage"] == stage and rec.get("gen") is not None and rec["slice"] is None:
                out[int(rec["gen"])] = rec
        return out

    def _stage_global(self, resume: bool = True):
        """(Re)compute corpus stats + dictionary over ALL generations."""
        self.refresh_global()

    def refresh_global(self):
        """Merge per-generation dictionaries + counters into the global
        dictionary and stats.

        Reads ONLY the small dictionary_gens tables (O(vocab) rows per
        gen), never the raw postings — per-batch cost is independent of
        corpus size. n_docs counts ALL docs including token-less ones
        (summed from per-gen counters), so avgdl = total_tokens / n_docs
        matches the naive definition exactly. The result becomes
        visible by atomically flipping the dictionary pointer + writing
        stats.json — no directory swap."""
        t0 = time.time()
        gens = self._live_gens()
        per_gen = self._gen_manifests("gendict")
        missing = [g for g in gens if g not in per_gen]
        if missing:
            raise RuntimeError(f"gendict manifest missing for generations {missing}")
        if not gens:
            # fully pruned corpus: empty dictionary version, zeroed stats
            v = self._next_dict_version()
            empty = self.spark.createDataFrame(
                [], "term string, fld int, df long, cf long, max_tf int, min_dl int"
            )
            empty.write.mode("overwrite").parquet(self._p("dictionary_v", f"v={v}"))
            self._set_dictionary_ptr(f"dictionary_v/v={v}")
            self._write_stats(0, {})
            self._commit(
                "global", 0, None,
                {"n_docs": 0, "avgdl": 0.0, "total_tokens": 0, "n_postings": 0,
                 "seconds": time.time() - t0},
            )
            return
        if len(gens) == 1:
            # single generation: the global dictionary IS the gen
            # dictionary — the pointer references it directly (zero
            # copies, no Spark job, no rename)
            self._set_dictionary_ptr(f"dictionary_gens/gen={gens[0]}")
        else:
            v = self._next_dict_version()
            merged = (
                self.spark.read.parquet(
                    *[self._p("dictionary_gens", f"gen={g}") for g in gens]
                )
                .groupBy("term", "fld")
                .agg(
                    F.sum("df").alias("df"),
                    F.sum("cf").alias("cf"),
                    F.max("max_tf").alias("max_tf"),
                    F.min("min_dl").alias("min_dl"),
                )
            )
            merged.write.mode("overwrite").parquet(self._p("dictionary_v", f"v={v}"))
            self._set_dictionary_ptr(f"dictionary_v/v={v}")
        n_docs = sum(per_gen[g]["n_docs"] for g in gens)
        n_postings = sum(per_gen[g]["n_postings"] for g in gens)
        tok_by_fld: dict[int, int] = {}
        for g in gens:
            for f, v in per_gen[g]["total_tokens_by_fld"].items():
                tok_by_fld[int(f)] = tok_by_fld.get(int(f), 0) + v
        total_tokens = sum(tok_by_fld.values())
        self._write_stats(n_docs, tok_by_fld)
        avgdl0 = (tok_by_fld.get(0, 0) / n_docs) if n_docs else 0.0
        self._commit(
            "global", 0, None,
            {"n_docs": n_docs, "avgdl": avgdl0, "total_tokens": total_tokens,
             "n_postings": n_postings, "seconds": time.time() - t0},
        )

    def _write_packed(self, partials: DataFrame, gen: int, t0: float):
        """The ONE pack tail of build, compaction and prune: shuffle
        PARTIAL_SCHEMA rows by (slice, term, fld, salt), finish the
        blocks in the pack reducer, write ``postings/gen=G`` and commit
        the gen-level pack manifest with metrics riding the write."""
        n_shuffle = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        packed = partials.repartition(n_shuffle, "slice", "term", "fld", "salt").mapInArrow(
            _pack_partials_arrow_factory(self.block_size), BLOCK_SCHEMA
        )
        # metrics ride the write itself as an Observation — no second
        # job, no metadata re-read of the parquet we just wrote.
        # (observe cannot carry distinct aggregates or a groupBy, so the
        # term count is approximate and the per-slice breakdown is
        # replaced by the slice count; nothing downstream needed more.)
        from pyspark.sql import Observation

        obs = Observation(f"pack_g{gen}_{time.time_ns()}")
        packed.observe(
            obs,
            F.sum("n").alias("n_postings"),
            F.count(F.lit(1)).alias("n_blocks"),
            (
                F.sum(F.coalesce(F.octet_length("doc_gaps"), F.lit(0)))
                + F.sum(F.coalesce(F.octet_length("tfs"), F.lit(0)))
                + F.sum(F.coalesce(F.octet_length("dls"), F.lit(0)))
                + F.sum(F.coalesce(F.octet_length("positions"), F.lit(0)))
            ).alias("bytes_packed"),
            F.approx_count_distinct("term").alias("n_terms_approx"),
            (F.max("slice") + 1).alias("n_slices_seen"),
        ).write.mode("overwrite").partitionBy("slice").parquet(
            self._p("postings", f"gen={gen}")
        )
        m = obs.get
        self._commit(
            "pack",
            gen,
            None,
            {
                "seconds": time.time() - t0,
                "n_postings": int(m["n_postings"] or 0),
                "n_blocks": int(m["n_blocks"] or 0),
                "bytes_packed": int(m["bytes_packed"] or 0),
                "n_terms_approx": int(m["n_terms_approx"] or 0),
                "n_slices_seen": int(m["n_slices_seen"] or 0),
            },
        )

    def _stage_pack_fused(self, df: DataFrame, gen: int):
        """text exchange -> sort -> tokenize -> partial blocks -> pack shuffle
        -> pack, in ONE job (the build's only pass over the corpus
        text). Salting is decided INSIDE the tokenize tasks: no global
        heavy-term probe job runs, so nothing gates this job. The
        tokenize runs one task per slice (:meth:`_tokenized`)."""
        self._write_packed(self._tokenized(df), gen, time.time())

    def _decoded_postings(self, gens: list[int]) -> DataFrame:
        """Posting rows (RAW_SCHEMA + ``gen``) decoded from the packed
        blocks of ``gens``, for compaction/retention rewrites; each doc
        is named by its source (gen, slice, ord)."""
        blocks = self.spark.read.option("basePath", self._p("postings")).parquet(
            *[self._p("postings", f"gen={g}") for g in gens]
        ).select(
            "slice", "term", "fld", "n", "doc_gaps", "tfs", "dls", "positions", "gen"
        )
        return blocks.mapInArrow(_decode_postings_arrow_factory(), RAW_SCHEMA + ", gen int")

    def _rewrite(self, kept: DataFrame, gens: list[int], target: int, n_slices: int):
        """compact()/prune_index() body: write the surviving docs
        ``kept`` (docs rows of ``gens`` with their ``gen``) and their
        postings as generation ``target``, sliced ``n_slices`` ways.

        The survivors are ranked the way the build ranks them
        (:meth:`_ranked`); a join maps each surviving posting's source
        (gen, slice, ord) to its new (slice, ord) and drops the
        postings of every other doc. The rows then take the build's
        encoder — the map-side cut (the same cutter and local salting
        as the tokenizer), then :meth:`_write_packed`. They arrive from
        a join, so the map-task count is taken to be the shuffle
        partition count."""
        t0 = time.time()
        ranked = self._ranked(
            kept.withColumnRenamed("slice", "_src_slice").withColumnRenamed("ord", "_src_ord"),
            n_slices,
        )
        # direct write to the FINAL directory: invisible until the
        # caller's roll-forward commits the target's raw manifest
        ranked.drop("gen", "_src_slice", "_src_ord").write.mode("overwrite").parquet(
            self._p("docs", f"gen={target}")
        )
        remap = ranked.select(
            "gen",
            F.col("_src_slice").alias("slice"),
            F.col("_src_ord").cast("long").alias("ord"),
            F.col("slice").alias("_slice"),
            F.col("ord").cast("long").alias("_ord"),
        )
        postings = self._decoded_postings(gens).join(remap, ["gen", "slice", "ord"]).select(
            F.col("_slice").alias("slice"), F.col("_ord").alias("ord"),
            "fld", "dl", "term", "tf", "positions",
        )
        n_map = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        partials = postings.mapInArrow(
            _recut_arrow_factory(self.block_size, self._salt_threshold(n_map)),
            PARTIAL_SCHEMA,
        )
        self._write_packed(partials, target, t0)

    def repair(self) -> dict:
        """Roll pending compaction/prune markers forward, garbage-collect
        orphan generation state (data/manifests written by a crashed
        build that never committed its raw manifest — invisible by the
        liveness rule, reclaimed here), rebuild any live generation's
        missing dictionary from its packed metadata, and refresh the
        global view if it lags the live set. Cheap when healthy —
        manifest-existence checks only, no Spark jobs.

        A generation's raw manifest commits only AFTER docs + packed
        postings + per-gen dictionary are all on disk, so a LIVE
        generation with missing packed data can only mean external
        damage — that is surfaced as an error (restore from snapshot or
        re-ingest the batch), never silently dropped."""
        self._finish_pending_compaction()
        self._apply_pending_prune()
        live = set(self._live_gens())
        gc: list[str] = []
        for sub in GEN_SUBDIRS:
            for name in self.fs.listdir(self._p(sub)):
                if not (name.startswith("gen=") and name[4:].isdigit()):
                    continue
                if int(name[4:]) not in live:
                    self.fs.delete(self._p(sub, name), recursive=True)
                    gc.append(f"{sub}/{name}")
        # stale sub-stage manifests of crashed (non-live) builds
        for name in self.fs.listdir(self._p("manifest")):
            for st in ("pack", "gendict"):
                if name.startswith(f"{st}_g") and name.endswith(".json"):
                    body = name[len(st) + 2 : -len(".json")].split("_")[0]
                    if body.isdigit() and int(body) not in live:
                        self.fs.delete(self._p("manifest", name))
                        gc.append(f"manifest/{name}")
        touched = []
        for g in sorted(live):
            if not self.fs.exists(
                os.path.join(self._p("postings", f"gen={g}"), "_SUCCESS")
            ):
                raise RuntimeError(
                    f"generation {g} is live but its packed postings are "
                    "missing or incomplete — the index is externally "
                    "damaged; restore from a snapshot or re-ingest the "
                    "generation's source batch"
                )
            if not self._manifest_done("gendict", g):
                self._stage_gen_dict(g)
                touched.append(g)
        if touched or self._global_stale():
            self.refresh_global()
        return {"repaired": touched, "gc": gc}

    def verify(self) -> dict:
        """Check every live generation's packed postings against the
        on-disk format's invariants; returns violation counts, all 0 on
        a healthy index:

        - ``blocks_out_of_order``: blocks whose decoded doc ids are not
          strictly ascending;
        - ``blocks_bad_range``: blocks whose ``min_doc``/``max_doc``
          are not the decoded extremes;
        - ``duplicate_postings``: extra copies of a (slice, ord, term,
          fld) posting within one generation;
        - ``groups_bad_block_ids``: (slice, term, fld, salt) groups
          whose block_ids are not dense 0..k-1;
        - ``docs_bad_ordinals``: docs whose ordinal is not one of
          0..n-1 of its (gen, slice) of n docs, or repeats another's;
        - ``postings_without_doc``: postings whose ordinal names no doc
          of its (gen, slice).

        Doc-range pruning and the doc-gap codec trust the first two: a
        violating block can be skipped although it holds a match.
        ``compact()`` repairs such blocks, with any number of live
        generations: it decodes every posting and re-cuts them sorted
        by ordinal. Four Spark jobs; the decode touches ordinals only,
        never positions."""
        live = self._live_gens()
        out = {
            "blocks": 0,
            "blocks_out_of_order": 0,
            "blocks_bad_range": 0,
            "duplicate_postings": 0,
            "groups_bad_block_ids": 0,
            "docs_bad_ordinals": 0,
            "postings_without_doc": 0,
        }
        if live:
            blocks = self.spark.read.option("basePath", self._p("postings")).parquet(
                *[self._p("postings", f"gen={g}") for g in live]
            )
            docs = self.spark.read.option("basePath", self._p("docs")).parquet(
                *[self._p("docs", f"gen={g}") for g in live]
            ).select("gen", "slice", F.col("ord").cast("long").alias("ord"))
            post = blocks.select(
                "gen", "slice", "term", "fld", "n", "min_doc", "max_doc", "doc_gaps", "tfs", "dls"
            ).mapInArrow(
                _verify_blocks_arrow_factory(),
                "gen int, slice int, term string, fld int, ord long, bad_order int, bad_range int",
            )
            key = ["gen", "slice", "ord"]
            r = (
                post.groupBy(*key, "term", "fld")
                .agg(
                    F.count("*").alias("c"),
                    F.sum("bad_order").alias("o"),
                    F.sum("bad_range").alias("r"),
                )
                .join(docs.distinct().withColumn("_doc", F.lit(1)), key, "left")
                .agg(
                    F.sum(F.col("c") - 1),
                    F.sum("o"),
                    F.sum("r"),
                    F.sum(F.when(F.col("_doc").isNull(), F.col("c")).otherwise(0)),
                )
                .first()
            )
            n_of = docs.groupBy("gen", "slice").agg(F.count("*").alias("_n"))
            in_range = (F.col("ord") >= 0) & (F.col("ord") < F.col("_n"))
            bad_ords = (
                docs.join(n_of, ["gen", "slice"])
                .groupBy("gen", "slice", "_n")
                .agg(F.countDistinct(F.when(in_range, F.col("ord"))).alias("_v"))
                .agg(F.sum(F.col("_n") - F.col("_v")))
                .first()[0]
            )
            g = (
                blocks.groupBy("gen", "slice", "term", "fld", "salt")
                .agg(
                    F.count("*").alias("k"),
                    F.countDistinct("block_id").alias("kd"),
                    F.max("block_id").alias("mx"),
                )
                .agg(
                    F.sum("k"),
                    F.sum(
                        ((F.col("kd") != F.col("k")) | (F.col("mx") != F.col("k") - 1)).cast("int")
                    ),
                )
                .first()
            )
            out.update(
                blocks=int(g[0] or 0),
                blocks_out_of_order=int(r[1] or 0),
                blocks_bad_range=int(r[2] or 0),
                duplicate_postings=int(r[0] or 0),
                groups_bad_block_ids=int(g[1] or 0),
                docs_bad_ordinals=int(bad_ords or 0),
                postings_without_doc=int(r[3] or 0),
            )
        out["ok"] = not any(v for key, v in out.items() if key != "blocks")
        return out

    def _global_stale(self) -> bool:
        """True when the committed global stats lag the live generation
        set (crash between a generation's liveness flip and its
        refresh). Manifest reads only — no Spark jobs."""
        live = self._live_gens()
        if live and not (
            self.fs.exists(self._p("dictionary_CURRENT.json"))
            and self.fs.exists(self._p("stats.json"))
        ):
            # a vanished pointer/stats file (e.g. crash inside a
            # non-overwrite rename fallback) is re-derivable state
            return True
        per_gen = self._gen_manifests("gendict")
        if any(g not in per_gen for g in live):
            return True
        expected = sum(per_gen[g]["n_docs"] for g in live)
        for rec in self.manifest():
            if rec["stage"] == "global":
                return int(rec.get("n_docs", -1)) != expected
        return bool(live) or expected > 0

    def _compact_marker(self) -> str:
        return self._p("manifest", "compact_pending.json")

    # -- retention prune (S9: index segments dropped by time) ----------
    def _prune_marker(self) -> str:
        return self._p("manifest", "prune_pending.json")

    def _apply_pending_prune(self):
        """Roll a persisted prune decision forward (idempotent): dropped
        generations lose their manifests then their data; rewritten
        generations' filtered copies — fully written (docs, packed
        postings, dictionary) to their FINAL new-generation directories
        before the marker committed — become live by raw-manifest
        commit and the originals are retired. No directory is ever
        renamed."""
        marker = self._prune_marker()
        if not self.fs.exists(marker):
            return
        pend = self.fs.read_json(marker)
        for g in pend["drop"]:
            self._clear_gen_manifests(g)
            for d in GEN_SUBDIRS:
                self.fs.delete(self._p(d, f"gen={g}"), recursive=True)
        for g, tgt in pend["rewrite"]:
            self._clear_gen_manifests(g)
            for d in GEN_SUBDIRS:
                self.fs.delete(self._p(d, f"gen={g}"), recursive=True)
            if not self._manifest_done("gendict", tgt):
                # defensive: derivable from the packed copy
                self._stage_gen_dict(tgt)
            # liveness flip: the filtered copy becomes the generation
            self._commit("raw", tgt, None, {"seconds": 0.0, "pruned_from": g})
        self.refresh_global()
        self.fs.delete(marker)

    def prune_index(self, cutoff_ts, ts_col: str = "ts") -> dict:
        """Drop index segments older than ``cutoff_ts`` (docs with
        ts < cutoff stop matching and stats/dictionary shrink
        accordingly) — the index-side analog of the reference's hourly
        `DELETE FROM statuses WHERE created < cutoff` (db_sqlite.py:
        46-52), where the FTS5 delete-triggers prune postings in step.

        Whole generations past the cutoff are dropped O(1) (manifest +
        directory removal — the Iceberg `days(ts)` partition-drop
        analog); boundary generations are rewritten as NEW generations:
        filtered docs + re-cut postings land directly in fresh gen
        directories (invisible until their manifest commits), then a
        single atomic marker records the drop/rewrite decision and
        `_apply_pending_prune` rolls it forward — on this call or, after
        a crash at ANY point, on the next one. Offline op, like
        compact()."""
        t0 = time.time()
        self._apply_pending_prune()
        if ts_col not in self.meta_cols:
            raise ValueError(f"retention prune needs '{ts_col}' in meta_cols")
        gens = self._live_gens()
        drop, rewrite = [], []
        for g in gens:
            docs_g = self.spark.read.parquet(self._p("docs", f"gen={g}"))
            mm = docs_g.agg(
                F.min(ts_col).alias("lo"),
                F.max(ts_col).alias("hi"),
                F.sum(F.col(ts_col).isNull().cast("long")).alias("n_null"),
            ).collect()[0]
            if mm["hi"] is None:
                continue  # all-NULL timestamps: no evidence of age, keep
            if mm["hi"] < cutoff_ts:
                # fast whole-gen drop is only safe when the generation
                # holds NO undated docs — retention must never delete
                # what it cannot date, and min/max ignore NULLs, so a
                # gen of old+NULL rows routes through the rewrite path
                # (whose filter keeps ts IS NULL)
                if mm["n_null"]:
                    rewrite.append(g)
                else:
                    drop.append(g)
            elif mm["lo"] >= cutoff_ts:
                continue
            else:
                rewrite.append(g)
        if not drop and not rewrite:
            return {"pruned": False, "dropped": [], "rewritten": []}
        # rewritten content goes straight to FRESH generation ids: the
        # data is complete on disk before the marker commits, and the
        # new gens stay invisible (no raw manifest) until roll-forward
        next_id = self._next_gen_id()
        pairs = []
        for g in rewrite:
            tgt, next_id = next_id, next_id + 1
            docs_g = self.spark.read.parquet(self._p("docs", f"gen={g}"))
            # NULL-ts docs are not "older than cutoff" — retention must
            # never delete what it cannot date
            kept = docs_g.filter(
                (F.col(ts_col) >= F.lit(cutoff_ts)) | F.col(ts_col).isNull()
            ).withColumn("gen", F.lit(g))
            self._rewrite(kept, [g], tgt, self.n_slices)
            self._stage_gen_dict(tgt)
            pairs.append([g, tgt])
        self.fs.write_json_atomic(
            self._prune_marker(), {"drop": drop, "rewrite": pairs}
        )
        self._apply_pending_prune()
        return {
            "pruned": True,
            "dropped": drop,
            "rewritten": rewrite,
            "rewritten_to": [t for _, t in pairs],
            "seconds": time.time() - t0,
        }

    def _finish_pending_compaction(self):
        """Crash recovery: complete (or roll back) an interrupted compact.

        The merged output — docs, packed postings AND per-gen
        dictionary — was written DIRECTLY to the target generation's
        final directories before the marker committed (invisible — no
        raw manifest). Roll-forward: retire the sources (manifests then
        data), flip the target live by committing its raw manifest,
        refresh the global view, clear the marker. Every step is an
        idempotent atomic file write or delete; a replay from any crash
        point converges."""
        marker = self._compact_marker()
        if not self.fs.exists(marker):
            return None
        pend = self.fs.read_json(marker)
        target = pend["target"]
        t_packed = self._p("postings", f"gen={target}")
        t_docs = self._p("docs", f"gen={target}")
        committed = self._manifest_done("raw", target)
        packed_ok = self.fs.exists(os.path.join(t_packed, "_SUCCESS"))
        docs_ok = self.fs.exists(os.path.join(t_docs, "_SUCCESS"))
        if not committed and not (packed_ok and docs_ok):
            # merged copies incomplete (crash mid-write... but the marker
            # only commits after the writes — this is the defensive
            # branch): roll back, sources are intact
            self.fs.delete(t_packed, recursive=True)
            self.fs.delete(t_docs, recursive=True)
            self.fs.delete(self._p("dictionary_gens", f"gen={target}"), recursive=True)
            self._clear_gen_manifests(target)
            self.fs.delete(marker)
            return "rolled_back"
        for g in pend["sources"]:
            self._clear_gen_manifests(g)
            for sub in GEN_SUBDIRS:
                self.fs.delete(self._p(sub, f"gen={g}"), recursive=True)
        if not self._manifest_done("gendict", target):
            # defensive: derivable from the packed copy
            self._stage_gen_dict(target)
        self._commit(
            "raw", target, None, {"seconds": 0.0, "compacted_from": pend["sources"]}
        )
        self.refresh_global()
        # re-slicing goes live with the same roll-forward (idempotent
        # atomic meta rewrite; a replay after a crash converges here too)
        meta_n = pend.get("n_slices")
        if meta_n is not None and int(meta_n) != self.n_slices:
            m = self.fs.read_json(self._p("index_meta.json"))
            m["n_slices"] = int(meta_n)
            self.fs.write_json_atomic(self._p("index_meta.json"), m)
            self.n_slices = int(meta_n)
        self.fs.delete(marker)
        return "completed"

    def compact(self, n_slices: int | None = None) -> dict:
        """Merge all generations into a single segment set.

        ``n_slices`` re-slices the index during the merge (each
        surviving doc's slice and ordinal are recomputed from its
        doc_id, and its decoded postings renumbered before the re-cut
        — no rebuild from source text needed). This lifts the phrase-matching parallelism
        ceiling of an index built with few slices (engine.py slice
        notes): build small, compact wider as the corpus grows. The new
        slicing goes live atomically with the compaction itself —
        index_meta.json is rewritten during the marker roll-forward, so
        a crash at any point leaves meta and live data consistent.

        The Lucene-merge analog for the incremental path: many small
        per-batch generations make query-side scans open many files;
        compaction decodes the sources' packed blocks back into posting
        rows (positions re-sliced, never decoded) and re-cuts the
        surviving ones through the build's encoder (map-side cut, pack
        reducer) into one NEW generation. A single generation is
        re-cut too: that re-sorts every posting by doc, which is how
        an index with out-of-order blocks is repaired (``verify()``).
        Crash-safe ordering: (1) write the merged docs, packed postings
        and per-gen dictionary directly to the target generation's
        directories (invisible — liveness is manifest-based, never
        directory-based), (2) persist the pending marker (one atomic
        file), (3) retire sources + commit the target's raw manifest +
        refresh the global view + clear the marker — a crash at any
        point either rolls back or is completed by
        `_finish_pending_compaction` / `repair()` on the next call.
        No directory renames, so the ordering holds on HDFS/S3 too.
        Offline op: run it when no queries are in flight."""
        t0 = time.time()
        self._finish_pending_compaction()
        new_n = self.n_slices if n_slices is None else int(n_slices)
        if not 1 <= new_n <= self.MAX_SLICES:
            raise ValueError(f"n_slices must be in 1..{self.MAX_SLICES}")
        gens = self._live_gens()
        if not gens:
            # nothing to merge; still heal any stale global view left
            # by an interrupted earlier lifecycle op. An explicit
            # n_slices request must not be silently ignored (ADVICE
            # r4): with no data, the new slicing goes live by rewriting
            # the meta directly.
            self.repair()
            if new_n != self.n_slices and self.fs.exists(self._p("index_meta.json")):
                m = self.fs.read_json(self._p("index_meta.json"))
                m["n_slices"] = new_n
                self.fs.write_json_atomic(self._p("index_meta.json"), m)
                self.n_slices = new_n
                return {"compacted": False, "gens": 0, "n_slices_set": new_n}
            return {"compacted": False, "gens": 0}
        target = self._next_gen_id()
        # Late-duplicate healing: a key re-ingested after the streaming
        # dedup horizon expired exists in TWO generations under the same
        # doc_id (the reference's DB unique constraint has no analog in
        # plain parquet appends). Compaction is the exact-once repair
        # pass: keep each doc_id's LATEST generation row and only that
        # generation's postings (the renumbering join drops the rest).
        from pyspark.sql import Window

        docs_all = self.spark.read.option("basePath", self._p("docs")).parquet(
            *[self._p("docs", f"gen={g}") for g in gens]
        )  # + gen partition col (live gens only)
        w = Window.partitionBy("doc_id").orderBy(F.col("gen").desc())
        docs_kept = (
            docs_all.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        self._rewrite(docs_kept, gens, target, new_n)
        self._stage_gen_dict(target)
        self.fs.write_json_atomic(
            self._compact_marker(),
            {"sources": gens, "target": target, "n_slices": new_n},
        )
        # retire sources + flip liveness + refresh global view
        status = self._finish_pending_compaction()
        if status != "completed":
            # defensive: the merged copies were validated incomplete and
            # rolled back — report the failure instead of claiming success
            raise RuntimeError(
                "compaction output failed completeness validation "
                "(missing _SUCCESS markers) and was rolled back"
            )
        return {"compacted": True, "gens_merged": len(gens), "seconds": time.time() - t0}


def build_index(spark: SparkSession, df: DataFrame, index_dir: str, **kwargs) -> IndexBuilder:
    b = IndexBuilder(spark, index_dir, **kwargs)
    b.build(df)
    return b
