"""Delta + varint (LEB128) codec for posting blocks.

This is the explicit, Spark-visible analog of what FTS5 keeps inside
its B-tree pages (delta+varint docid lists with positions; enabled by
reference common/db_sqlite.py:27) and what BASELINE.json's north_rule
names directly: "delta+varint-style compression of docID gaps and
precomputed per-block max term weights for block-max WAND pruning".

All encode/decode paths are vectorized numpy (no per-element Python
loops over postings — only over the <=10 varint byte positions), so a
pandas-UDF pack/unpack stage stays Arrow-fast.

A stored block names each doc by its ORDINAL, the doc's 0-based rank
by doc_id within its (generation, slice) — dense, so the gaps between
a block's docs are small and most take one varint byte (FTS5's
doclists are delta-varints over dense rowids the same way). The codec
itself takes any int64 values sorted in NATURAL SIGNED order (so
Spark-side ``min_doc``/``max_doc`` block pruning uses plain int64
comparisons): the first value is zigzag-encoded (it may be negative),
and the gaps between consecutive sorted int64 values are computed
wraparound-safe in the uint64 domain and are always non-negative.

Layout of one packed block (all fields little-endian varint streams):

- ``doc_gaps``:  varint(zigzag(first ordinal)) then varint(ordinal gaps);
- ``tfs``:       varint term frequency per doc;
- ``dls``:       varint document length (token count) per doc —
  stored inline so BM25 scoring needs no join back to the docs table;
- ``positions``: per doc: varint(n_pos) then varint-encoded position
  deltas (first absolute). Empty bytes when positions are not kept.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_I64 = np.int64
_MAX_VARINT_LEN = 10

# Thresholds 2**7, 2**14, ... for byte-length computation.
_THRESH = np.array([1 << (7 * i) for i in range(1, _MAX_VARINT_LEN)], dtype=np.uint64)


def encode_varints_with_offsets(values: np.ndarray):
    """LEB128-encode an array; also return the byte offset of each
    element and its encoded length — callers slice the stream at
    element boundaries to split one big vectorized encode into
    per-block payloads."""
    v = np.ascontiguousarray(values, dtype=_U64)
    n = v.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    vmax = v.max()
    for t in _THRESH:
        if vmax < t:
            # all remaining compares would add zeros — tf/dl/position
            # streams are 1-2 bytes, so this skips 7-8 full-array
            # passes on the hottest encode calls
            break
        nbytes += v >= t
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    max_b = int(nbytes.max())
    # one 2-D shift instead of max_b masked scatter passes: byte j of
    # value i is (v[i] >> 7j) & 0x7F, with the continuation bit set
    # for j < nbytes[i]-1; row-major boolean selection then flattens
    # exactly the concatenated varint stream (xxhash64 doc gaps are
    # 8-9 bytes each, so the old loop made ~9 full-array passes with
    # fancy-indexed writes — the hottest part of the pack stage)
    shifts = _U64(7) * np.arange(max_b, dtype=_U64)
    mat = ((v[:, None] >> shifts[None, :]) & _U64(0x7F)).astype(np.uint8)
    jidx = np.arange(max_b, dtype=np.int64)[None, :]
    mat |= (jidx < (nbytes - 1)[:, None]).astype(np.uint8) << 7
    out = mat[jidx < nbytes[:, None]]
    return out, offsets, nbytes


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (uint64 domain)."""
    out, _, _ = encode_varints_with_offsets(values)
    return out.tobytes()


def decode_varints(buf: bytes) -> np.ndarray:
    """Decode a LEB128 stream back to uint64 values.

    (A 2-D gather + bitwise_or.reduce variant was measured SLOWER than
    these shrinking masked passes — the decode's masks drain fast on
    mixed-length streams, unlike the encode's scatter — so the loop
    stays.)"""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    out = np.zeros(ends.size, dtype=_U64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        out[mask] |= (b[starts[mask] + j].astype(_U64) & _U64(0x7F)) << _U64(7 * j)
    return out


def _zigzag(x: np.ndarray) -> np.ndarray:
    x = x.astype(_I64)
    return ((x << _I64(1)) ^ (x >> _I64(63))).view(_U64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(_U64)
    return ((u >> _U64(1)).view(_I64)) ^ -((u & _U64(1)).view(_I64))


def delta_encode_docs(sorted_ids: np.ndarray) -> bytes:
    """zigzag(first) + u64 gaps, varint-packed. Input sorted ascending int64."""
    v = np.ascontiguousarray(sorted_ids, dtype=_I64)
    if v.size == 0:
        return b""
    u = v.view(_U64)
    enc = np.empty(v.size, dtype=_U64)
    enc[0] = _zigzag(v[:1])[0]
    enc[1:] = u[1:] - u[:-1]  # wraparound-safe, non-negative for sorted input
    return encode_varints(enc)


def delta_decode_docs(buf: bytes) -> np.ndarray:
    """Inverse of delta_encode_docs; returns sorted int64 doc ids."""
    enc = decode_varints(buf)
    if enc.size == 0:
        return np.empty(0, dtype=_I64)
    u = np.empty(enc.size, dtype=_U64)
    u[0] = _unzigzag(enc[:1]).view(_U64)[0]
    if enc.size > 1:
        u[1:] = u[0] + np.cumsum(enc[1:], dtype=_U64)
    return u.view(_I64)


def encode_positions(positions_per_doc: list[np.ndarray]) -> bytes:
    """Concatenated per-doc [n_pos, pos deltas...] varint stream."""
    parts: list[np.ndarray] = []
    for pos in positions_per_doc:
        p = np.ascontiguousarray(pos, dtype=_U64)
        rec = np.empty(p.size + 1, dtype=_U64)
        rec[0] = p.size
        if p.size:
            rec[1] = p[0]
            rec[2:] = p[1:] - p[:-1]
        parts.append(rec)
    if not parts:
        return b""
    return encode_varints(np.concatenate(parts))


def decode_positions(buf: bytes, n_docs: int) -> list[np.ndarray]:
    """Inverse of encode_positions; returns n_docs arrays of positions."""
    flat = decode_varints(buf)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(n_docs):
        n = int(flat[i])
        i += 1
        out.append(np.cumsum(flat[i : i + n], dtype=_U64))
        i += n
    return out


def encode_grouped_records_offsets(
    flat_vals: np.ndarray, grp_lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized core of :func:`encode_grouped_records`: returns
    ``(byte_buf, group_byte_offsets)`` where group k's record occupies
    ``byte_buf[off[k]:off[k+1]]``. Records are adjacent in the buffer,
    so callers can wrap the WHOLE stream as one Arrow binary array
    (offsets + shared data buffer) without materializing a Python
    ``bytes`` object per group — the per-posting position payload path
    of the build tokenizer."""
    n_g = int(grp_lens.size)
    if n_g == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    grp_lens = np.ascontiguousarray(grp_lens, dtype=np.int64)
    v = np.ascontiguousarray(flat_vals, dtype=_U64)
    grp_starts = np.empty(n_g, dtype=np.int64)
    grp_starts[0] = 0
    np.cumsum(grp_lens[:-1], out=grp_starts[1:])
    d = np.empty(v.size, dtype=_U64)
    if v.size > 1:
        d[1:] = v[1:] - v[:-1]
    nz = grp_lens > 0
    if v.size:
        d[grp_starts[nz]] = v[grp_starts[nz]]  # absolute first per group
    total = n_g + v.size
    rec = np.empty(total, dtype=_U64)
    rec_starts = np.empty(n_g, dtype=np.int64)
    rec_starts[0] = 0
    np.cumsum(grp_lens[:-1] + 1, out=rec_starts[1:])
    rec[rec_starts] = grp_lens.astype(_U64)
    mask = np.ones(total, dtype=bool)
    mask[rec_starts] = False
    rec[mask] = d
    buf, off, _ln = encode_varints_with_offsets(rec)
    out_off = np.empty(n_g + 1, dtype=np.int64)
    out_off[:-1] = off[rec_starts]
    out_off[-1] = buf.size
    return buf, out_off


def encode_grouped_records(flat_vals: np.ndarray, grp_lens: np.ndarray) -> list[bytes]:
    """Per-group ``[varint(n), varint(first), varint(deltas)...]`` records.

    ``flat_vals`` holds every group's values concatenated (ascending
    within a group); ``grp_lens`` the group sizes. ONE vectorized varint
    pass over the interleaved stream, then per-group byte slices. This
    is the per-posting position payload of the raw postings format: the
    pack stage concatenates these slices verbatim into block payloads,
    so positions cross the pack shuffle already compressed and are
    never re-encoded.
    """
    buf, off = encode_grouped_records_offsets(flat_vals, grp_lens)
    if off.size == 1:
        return []
    b = buf.tobytes()
    return [b[off[k] : off[k + 1]] for k in range(off.size - 1)]


def binary_from_stream(stream_u8: np.ndarray, elem_starts: np.ndarray) -> "object":
    """Wrap a contiguous byte stream as ONE Arrow binary array whose
    value k spans ``stream_u8[elem_starts[k] : elem_starts[k+1]]``
    (``elem_starts`` has n+1 entries) — offsets + shared data buffer,
    no Python ``bytes`` object per value. Falls back to a list of
    ``bytes`` when the stream exceeds Arrow's int32 binary offset
    range (callers' per-batch/per-partition streams never do today)."""
    import pyarrow as pa

    if stream_u8.size < (1 << 31):
        off32 = np.ascontiguousarray(elem_starts, dtype=np.int32)
        data = np.ascontiguousarray(stream_u8)
        return pa.Array.from_buffers(
            pa.binary(),
            elem_starts.size - 1,
            [None, pa.py_buffer(off32), pa.py_buffer(data)],
        )
    raw = stream_u8.tobytes()
    return pa.array(
        [raw[elem_starts[k] : elem_starts[k + 1]] for k in range(elem_starts.size - 1)],
        type=pa.binary(),
    )


def one_chunk(arr):
    """A (possibly chunked) Arrow array as ONE contiguous array."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if isinstance(arr, pa.ChunkedArray):  # older pyarrow returns ChunkedArray
        if arr.num_chunks > 1:
            # a >2GB binary column that cannot combine into one chunk
            # must fail loudly: silently using chunk 0 only would
            # corrupt the index at exactly the scale this targets
            raise RuntimeError(
                "pack partition column exceeds single-chunk Arrow "
                f"limit ({arr.num_chunks} chunks); increase "
                "spark.sql.shuffle.partitions or lower "
                "salt_max_postings"
            )
        arr = arr.chunk(0) if arr.num_chunks else pa.array([], type=arr.type)
    return arr


def binary_view(arr) -> tuple[np.ndarray, np.ndarray]:
    """``(data_u8, offsets)`` zero-copy view of an Arrow binary column:
    value k spans ``data[offsets[k]:offsets[k+1]]`` (``offsets`` has
    n+1 int64 entries). Values are adjacent in Arrow storage, so
    ``data[offsets[0]:offsets[-1]]`` is every payload back to back."""
    arr = one_chunk(arr)
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    dbuf = arr.buffers()[2]
    data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.empty(0, dtype=np.uint8)
    return data, off


def decode_blocks(batch, positions: str | None = None) -> dict | None:
    """Vectorized decode of Arrow rows of packed blocks (columns ``n``,
    ``doc_gaps``, ``tfs``, ``dls`` and, when asked, ``positions``) —
    the ONE block decoder of the query evaluator, compaction/prune and
    ``verify()``.

    Returns ``None`` when the rows hold no postings, else per-POSTING
    arrays in stored order: ``blk`` (row of each posting), ``ord``
    (int64: the doc's ordinal within the block row's (gen, slice)),
    ``tf``/``dl`` (int64). Every varint column decodes in ONE
    pass over the rows' adjacent payloads (varints are self-delimiting).
    ``positions``:

    - ``"values"``: ``pos``, flat int64 absolute positions; posting k
      owns ``pos[ps[k]:ps[k]+tf[k]]``, ``ps`` the exclusive cumsum of
      ``tf``;
    - ``"bytes"``: ``pos_bytes`` (the position payloads back to back)
      and ``pos_off`` (n_postings+1 byte offsets: posting k's record
      ``[tf, first, deltas...]`` spans ``pos_bytes[pos_off[k]:
      pos_off[k+1]]``). The boundaries come from one varint-end scan;
      nothing is decoded, so a re-pack re-slices the compressed bytes
      verbatim. All offsets are 0 when positions are not stored.
    """
    nb = batch.num_rows
    if nb == 0:
        return None
    n_np = batch.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
    total = int(n_np.sum())
    if total == 0:
        return None
    starts = np.zeros(nb, dtype=np.int64)
    np.cumsum(n_np[:-1], out=starts[1:])

    def payload(name):
        data, off = binary_view(batch.column(name))
        return data[off[0] : off[-1]]

    enc = decode_varints(payload("doc_gaps"))
    enc[starts] = _unzigzag(enc[starts]).view(_U64)
    csum = np.cumsum(enc, dtype=_U64)
    base = csum[starts] - enc[starts]
    out = {
        "blk": np.repeat(np.arange(nb, dtype=np.int64), n_np),
        "ord": (csum - np.repeat(base, n_np)).view(_I64),
        "tf": decode_varints(payload("tfs")).astype(np.int64),
        "dl": decode_varints(payload("dls")).astype(np.int64),
    }
    tfs = out["tf"]
    if positions == "values":
        flat = decode_varints(payload("positions")).astype(np.int64)
        # record k is [n=tf_k, first, deltas...]: drop the headers, then
        # grouped cumsum turns deltas into absolute positions
        hstart = np.zeros(total, dtype=np.int64)
        np.cumsum(tfs[:-1] + 1, out=hstart[1:])
        keep = np.ones(flat.size, dtype=bool)
        keep[hstart] = False
        c = np.cumsum(flat[keep])
        vstart = np.zeros(total, dtype=np.int64)
        np.cumsum(tfs[:-1], out=vstart[1:])
        pbase = np.where(vstart > 0, c[vstart - 1], 0)
        out["pos"] = c - np.repeat(pbase, tfs)
    elif positions == "bytes":
        pb = payload("positions")
        pos_off = np.zeros(total + 1, dtype=np.int64)
        if pb.size:
            # posting k's record starts right after the last byte of
            # varint rf[k] - 1, rf the exclusive cumsum of tf + 1
            ends = np.flatnonzero((pb & 0x80) == 0)
            rf = np.cumsum(tfs[:-1] + 1)
            pos_off[1:-1] = ends[rf - 1] + 1
            pos_off[-1] = pb.size
        out["pos_bytes"], out["pos_off"] = pb, pos_off
    return out


def pack_all_blocks(
    sorted_doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_starts: np.ndarray,
    pos_flat: np.ndarray | None = None,
    pos_lens: np.ndarray | None = None,
    as_arrow: bool = False,
) -> dict:
    """Vectorized packing of MANY blocks at once.

    Inputs are whole-partition arrays already sorted so that every block
    is a contiguous row range; ``block_starts`` marks block boundaries
    (group starts + intra-group block-size boundaries — blocks never
    span (term, salt) groups). All varint encoding happens in ONE
    vectorized pass per field; per-block payloads are byte-slices of the
    big stream. This removes the per-block numpy-call overhead that
    dominated the packing stage (200k blocks x ~10 tiny numpy ops).

    Returns dict of per-block lists/arrays:
    n, min_doc, max_doc, max_tf, min_dl, doc_gaps, tfs, dls, positions.
    With ``as_arrow`` the payload entries are Arrow binary ARRAYS built
    zero-copy over the encode streams (offsets + shared buffer — no
    per-block ``bytes`` materialization; same bytes, measured ~15% of
    the map-side pack time)."""
    ids = np.ascontiguousarray(sorted_doc_ids, dtype=_I64)
    n = ids.size
    starts = np.ascontiguousarray(block_starts, dtype=np.int64)
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:]
    ends[-1] = n
    lasts = ends - 1

    # --- doc gaps: wraparound-safe u64 diffs, zigzag resets at block starts
    u = ids.view(_U64)
    enc = np.empty(n, dtype=_U64)
    if n > 1:
        enc[1:] = u[1:] - u[:-1]
    enc[starts] = _zigzag(ids[starts])
    gbuf, goff, glen = encode_varints_with_offsets(enc)

    tbuf, toff, tlen = encode_varints_with_offsets(np.ascontiguousarray(tfs, dtype=_U64))
    dbuf, doff, dlen = encode_varints_with_offsets(np.ascontiguousarray(dls, dtype=_U64))

    def _payload(buf, off):
        # element offsets tile the stream, so block k's bytes span
        # [off[starts[k]], off[starts[k+1]]) — one offsets gather
        blk_off = np.empty(starts.size + 1, dtype=np.int64)
        blk_off[:-1] = off[starts] if off.size else 0
        blk_off[-1] = buf.size
        if as_arrow:
            return binary_from_stream(buf, blk_off)
        raw = buf.tobytes()
        return [raw[blk_off[k] : blk_off[k + 1]] for k in range(starts.size)]

    out = {
        "n": (ends - starts).astype(np.int32),
        "min_doc": ids[starts],
        "max_doc": ids[lasts],
        "max_tf": np.maximum.reduceat(np.ascontiguousarray(tfs, dtype=np.int64), starts),
        "min_dl": np.minimum.reduceat(np.ascontiguousarray(dls, dtype=np.int64), starts),
        "doc_gaps": _payload(gbuf, goff),
        "tfs": _payload(tbuf, toff),
        "dls": _payload(dbuf, doff),
    }

    if pos_flat is not None:
        pos_lens = np.ascontiguousarray(pos_lens, dtype=np.int64)
        pf = np.ascontiguousarray(pos_flat, dtype=_U64)
        pstarts = np.empty(n, dtype=np.int64)
        pstarts[0] = 0
        np.cumsum(pos_lens[:-1], out=pstarts[1:])
        d = np.empty(pf.size, dtype=_U64)
        if pf.size > 1:
            d[1:] = pf[1:] - pf[:-1]
        if pf.size:
            d[0] = pf[0]
            d[pstarts[pos_lens > 0]] = pf[pstarts[pos_lens > 0]]  # absolute first per doc
        total = n + pf.size
        rec = np.empty(total, dtype=_U64)
        rec_starts = np.empty(n, dtype=np.int64)
        rec_starts[0] = 0
        np.cumsum(pos_lens[:-1] + 1, out=rec_starts[1:])
        rec[rec_starts] = pos_lens.astype(_U64)
        mask = np.ones(total, dtype=bool)
        mask[rec_starts] = False
        rec[mask] = d
        pbuf, poff, plen = encode_varints_with_offsets(rec)
        # block span: len-marker of first doc .. last delta of last doc
        blk_off = np.empty(starts.size + 1, dtype=np.int64)
        blk_off[:-1] = poff[rec_starts[starts]]
        blk_off[-1] = pbuf.size
        if as_arrow:
            out["positions"] = binary_from_stream(pbuf, blk_off)
        else:
            pbytes = pbuf.tobytes()
            out["positions"] = [
                pbytes[blk_off[k] : blk_off[k + 1]] for k in range(starts.size)
            ]
    elif as_arrow:
        out["positions"] = binary_from_stream(
            np.empty(0, dtype=np.uint8), np.zeros(starts.size + 1, dtype=np.int64)
        )
    else:
        out["positions"] = [b""] * len(starts)
    return out


def pack_block(
    sorted_doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions_per_doc: list[np.ndarray] | None,
) -> dict:
    """Pack one block (doc ids sorted ascending, int64)."""
    ids = np.ascontiguousarray(sorted_doc_ids, dtype=_I64)
    return {
        "n": int(ids.size),
        "min_doc": int(ids[0]) if ids.size else 0,
        "max_doc": int(ids[-1]) if ids.size else 0,
        "doc_gaps": delta_encode_docs(ids),
        "tfs": encode_varints(tfs),
        "dls": encode_varints(dls),
        "positions": encode_positions(positions_per_doc) if positions_per_doc is not None else b"",
    }


def unpack_block(row, with_positions: bool = False):
    """Unpack a block row (mapping with the pack_block fields).

    Returns (doc_ids int64, tfs u64, dls u64[, positions list of u64 arrays]).
    """
    doc_ids = delta_decode_docs(row["doc_gaps"])
    tfs = decode_varints(row["tfs"])
    dls = decode_varints(row["dls"])
    if with_positions:
        pos = decode_positions(row["positions"], doc_ids.size)
        return doc_ids, tfs, dls, pos
    return doc_ids, tfs, dls
