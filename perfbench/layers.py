"""Traced-run extras: layer probes, single-process microbenchmarks, the
index-format scan, and the per-layer metrics computed from the
operation records and the Spark event log.

A layer that a workload does not drive itself is measured on a small
fixed-size probe (a family round, a build, an ingest batch), so
every per-layer metric has a measured value on every workload.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np

import corpus as C
import harness as H
import queries as Q
import workloads as W

PROBE_INGEST_BASE = 3_000
PROBE_INGEST_BATCH = 800
REDELIVER_SHARE = 0.1
DAY = 86_400


def build_probe(run, parquet_path: str, n: int) -> None:
    """One build of the first ``n`` rows of a corpus file."""
    import pyarrow.parquet as pq
    from aspublic_spark.index import IndexBuilder

    d = os.path.join(run.run_dir, "probe-build")
    pq.write_table(pq.read_table(parquet_path).slice(0, n), d + ".parquet")
    b = IndexBuilder(run.spark, d)
    run.instrument_builder(b)
    op = run.begin("build", main=False, turns=n)
    b.build(run.spark.read.parquet(d + ".parquet"))
    run.end(op)
    H.rmtree(d)
    run.mark("build probe done")


def make_batches(seed: int, base: dict, n_batches: int, turns: int, key_salt0: int) -> list[dict]:
    """Fresh micro-batches, each one day later than the last, plus a
    seeded share of rows redelivered from the previous batch (or from
    the base corpus's last half day)."""
    rng = np.random.default_rng([seed, 5])
    out, prev = [], None
    t_end = int(base["ts"].max())
    for i in range(n_batches):
        fresh = C.generate(turns, seed, vocab=base["vocab"], t_start=t_end + i * DAY,
                           span_s=DAY - 3_600, key_salt=key_salt0 + i)
        if prev is None:
            pool, src = np.flatnonzero(base["ts"] >= t_end - DAY // 2), base
        else:
            pool, src = np.arange(len(prev["ts"])), prev
        n_re = int(round(turns * REDELIVER_SHARE))
        re_rows = rng.choice(pool, size=min(n_re, pool.size), replace=False)
        batch = C.concat([fresh, C.subset(src, np.sort(re_rows))])
        batch["n_fresh"], batch["n_redelivered"] = turns, int(re_rows.size)
        out.append(batch)
        prev = fresh
    return out


def live_rows(parts: list[dict], cutoff: int | None) -> int:
    """Turns of ``parts`` a retention prune at ``cutoff`` keeps."""
    ts = np.concatenate([p["ts"] for p in parts])
    return int(ts.size if cutoff is None else (ts >= cutoff).sum())


def run_batch(run, ing, srv, batch: dict, path: str) -> None:
    """One micro-batch handed over and made searchable: ingest_batch,
    then POST /refresh."""
    df = run.spark.read.parquet(path)
    op = run.begin("batch", main=False, turns=batch["n_fresh"])
    t = time.perf_counter()
    n = ing.ingest_batch(df)
    op["ingest_s"] = time.perf_counter() - t
    t = time.perf_counter()
    H.http_post(srv.port, "/refresh")
    op["refresh_s"] = time.perf_counter() - t
    run.end(op)
    op["rows"], op["added"] = batch["n_fresh"] + batch["n_redelivered"], n
    run.check(n == batch["n_fresh"],
              f"batch: ingested {n}, want {batch['n_fresh']} ({batch['n_redelivered']} redelivered)")


def ingest_probe(run) -> None:
    """A 3,000-turn base and one 800-turn batch (10% redelivered) through
    ``StreamingIngest(auto_compact_gens=2)``, so the batch compacts, then
    one ``prune_index``. Also reads ``index.generations_live``: the most
    live generations the index holds once a batch is added (just before
    the compaction it triggers, and after the batch)."""
    from aspublic_spark.index.build import live_gens
    from aspublic_spark.streaming.ingest import StreamingIngest

    d = os.path.join(run.run_dir, "probe-ingest")
    os.makedirs(d, exist_ok=True)
    index_dir = os.path.join(d, "index")
    base = C.generate(PROBE_INGEST_BASE, run.seed, key_salt=900)
    batches = make_batches(run.seed, base, 1, PROBE_INGEST_BATCH, key_salt0=901)
    paths = []
    for i, part in enumerate([base] + batches):
        paths.append(os.path.join(d, f"batch-{i}.parquet"))
        W.write_corpus(part, paths[-1])
    ing = StreamingIngest(run.spark, index_dir, os.path.join(d, "docs"), auto_compact_gens=2)
    gens = []
    run.instrument_builder(ing.builder, before_compact=lambda: gens.append(len(live_gens(index_dir))))
    run.timers.wrap(ing.fs, "write_file_atomic", "fsio.write_file_atomic")
    ing.ingest_batch(run.spark.read.parquet(paths[0]))
    srv = run.start_server(index_dir, cache_tables=True, auto_refresh=True)
    parts = [base]
    for i, batch in enumerate(batches):
        run_batch(run, ing, srv, batch, paths[i + 1])
        gens.append(len(live_gens(index_dir)))
        parts.append(C.subset(batch, np.arange(batch["n_fresh"])))
        run.check_count(srv.port, live_rows(parts, None), f"probe batch {i}")
    run.layer["index.generations_live"] = max(gens)
    cutoff = int(base["ts"].min()) + 20 * DAY
    op = run.begin("prune", main=False)
    ing.builder.prune_index(dt.datetime.fromtimestamp(cutoff))
    H.http_post(srv.port, "/refresh")
    run.end(op)
    run.check_count(srv.port, live_rows(parts, cutoff), "probe prune")
    srv.stop()
    run.mark("ingest probe done")


# -- single-process microbenchmarks and the format scan ------------------------------
def _best(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def _blocks(index_dir: str):
    import pyarrow.parquet as pq
    from aspublic_spark.index.build import live_gen_paths

    for gen_dir in live_gen_paths(index_dir, "postings"):
        for root, _dirs, files in os.walk(gen_dir):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    yield pq.read_table(
                        os.path.join(root, f),
                        columns=["n", "min_doc", "max_doc", "doc_gaps", "tfs", "dls", "positions"],
                    )


def _payloads(col) -> tuple[bytes, np.ndarray]:
    """A binary column as (concatenated payload bytes, offsets)."""
    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset:arr.offset + len(arr) + 1]
    data = arr.buffers()[2]
    data = data.to_pybytes()[offs[0]:offs[-1]] if data is not None else b""
    return data, (offs - offs[0]).astype(np.int64)


def _stream(col) -> bytes:
    """The concatenated payload bytes of a binary column."""
    return _payloads(col)[0]


def decode_doc_ids(gaps: bytes, n: np.ndarray) -> np.ndarray:
    """Doc ids of consecutive blocks whose ``doc_gaps`` payloads are
    concatenated in ``gaps`` (``n`` docs each): one
    ``codec.decode_varints`` call, then each block's zigzag first id plus
    its running gap sum (uint64 wraparound, as the codec defines it)."""
    from aspublic_spark.index import codec

    enc = codec.decode_varints(gaps)
    starts = np.zeros(n.size, dtype=np.int64)
    np.cumsum(n[:-1], out=starts[1:])
    first = enc[starts]
    enc = enc.copy()
    enc[starts] = (first >> np.uint64(1)) ^ (np.uint64(0) - (first & np.uint64(1)))
    run = np.cumsum(enc, dtype=np.uint64)
    base = np.repeat(run[starts] - enc[starts], n)
    return (run - base).view(np.int64)


def format_scan(index_dir: str) -> tuple[int, int, list]:
    """(blocks, blocks out of order, a fixed sample of block payloads).
    A block is out of order when its decoded doc ids are not strictly
    ascending or ``min_doc``/``max_doc`` are not their extremes."""
    from aspublic_spark.index import codec

    n_blocks = bad = 0
    sample = []
    for tbl in _blocks(index_dir):
        n = tbl.column("n").to_numpy().astype(np.int64)
        if not n.size:
            continue
        gaps, goff = _payloads(tbl.column("doc_gaps"))
        ids = decode_doc_ids(gaps, n)
        starts = np.zeros(n.size, dtype=np.int64)
        np.cumsum(n[:-1], out=starts[1:])
        step_ok = np.ones(ids.size, dtype=bool)
        step_ok[1:] = ids[1:] > ids[:-1]
        step_ok[starts] = True
        ok = np.logical_and.reduceat(step_ok, starts)
        ok &= np.minimum.reduceat(ids, starts) == tbl.column("min_doc").to_numpy()
        ok &= np.maximum.reduceat(ids, starts) == tbl.column("max_doc").to_numpy()
        bad += int((~ok).sum())
        for i in range(0, tbl.num_rows, 97):
            # the vectorized decode must agree with the codec's own
            a = ids[starts[i]:starts[i] + n[i]]
            if not np.array_equal(a, codec.delta_decode_docs(gaps[goff[i]:goff[i + 1]])):
                raise RuntimeError("format scan decode disagrees with codec.delta_decode_docs")
            if len(sample) < 3000:
                sample.append(tbl.slice(i, 1))
        n_blocks += tbl.num_rows
    return n_blocks, bad, sample


def micro(run, texts: list[str], index_dir: str) -> None:
    import pyarrow as pa
    from aspublic_spark.functions.tokenizer import tokenize
    from aspublic_spark.index import codec

    nbytes = sum(len(t.encode()) for t in texts)
    run.layer["tokenizer.mb_per_s"] = nbytes / 1e6 / _best(lambda: [tokenize(t) for t in texts])

    n_blocks, bad, sample = format_scan(index_dir)
    run.layer["index.blocks"] = n_blocks
    run.layer["index.blocks_out_of_order"] = bad
    for name, subs in (("postings", ["postings"]), ("docs", ["docs"]),
                       ("dictionary", ["dictionary_gens", "dictionary_v"])):
        run.layer[f"index.{name}_bytes"] = sum(H.dir_bytes(os.path.join(index_dir, s)) for s in subs)

    # codec, on the sampled blocks: varint decode of all four payload
    # streams; re-pack of the decoded (doc, tf, dl) rows, sorted per block
    tbl = pa.concat_tables(sample)
    streams = {k: _stream(tbl.column(k)) for k in ("doc_gaps", "tfs", "dls", "positions")}
    enc_bytes = sum(len(v) for v in streams.values())
    run.layer["codec.decode_mb_per_s"] = enc_bytes / 1e6 / _best(
        lambda: [codec.decode_varints(v) for v in streams.values()])
    n = tbl.column("n").to_numpy().astype(np.int64)
    ids = decode_doc_ids(streams["doc_gaps"], n)
    blk = np.repeat(np.arange(n.size), n)
    o = np.lexsort((ids, blk))
    tfs, dls = codec.decode_varints(streams["tfs"])[o], codec.decode_varints(streams["dls"])[o]
    pos = codec.decode_varints(streams["positions"])
    starts = np.zeros(n.size, dtype=np.int64)
    np.cumsum(n[:-1], out=starts[1:])

    def pack():
        codec.pack_all_blocks(ids[o], tfs, dls, starts)
        codec.encode_varints(pos)

    run.layer["codec.pack_mb_per_s"] = enc_bytes / 1e6 / _best(pack)
    run.mark("micro + format scan done")


# -- per-layer metrics -------------------------------------------------------------------
PER_LAYER_UNITS = {
    "parser.parse_us": "us",
    "engine.search_call_s": "s", "engine.collect_s": "s", "engine.between_jobs_s": "s",
    "engine.jobs_per_query": "count", "engine.tasks_per_query": "count",
    "engine.pruned_queries": "count",
    "engine.input_bytes_per_query": "B", "engine.shuffle_bytes_per_query": "B",
    "engine.executor_cpu_s_per_query": "s", "engine.gc_s_per_query": "s",
    **{f"engine.{f}.p50_s": "s" for f in Q.FAMILIES},
    "server.http_overhead_s": "s",
    "build.tokenize_shuffle_s": "s", "build.pack_write_s": "s", "build.refresh_global_s": "s",
    "build.shuffle_write_bytes_per_turn": "B/turn", "build.jobs": "count",
    "build.turns_per_s": "turns/s", "build.cpu_us_per_turn": "us/turn",
    "index.postings_bytes": "B", "index.docs_bytes": "B", "index.dictionary_bytes": "B",
    "index.blocks": "count", "index.blocks_out_of_order": "count",
    "index.generations_live": "count",
    "codec.pack_mb_per_s": "MB/s", "codec.decode_mb_per_s": "MB/s",
    "tokenizer.mb_per_s": "MB/s",
    "ingest.add_documents_s": "s", "ingest.stage_dedup_s": "s", "ingest.compact_s": "s",
    "ingest.prune_s": "s", "ingest.refresh_s": "s", "ingest.duplicates_dropped": "count",
    "ingest.compactions": "count", "ingest.turns_per_s": "turns/s", "ingest.batch_p50_s": "s",
    "fsio.atomic_writes_per_batch": "count", "fsio.atomic_write_s": "s",
    "cpu.py_main_s": "s", "cpu.jvm_s": "s", "cpu.py_workers_s": "s",
    "host.steal_s": "s",
    "trace.query_p50_s": "s", "trace.step_p50_s": "s",
}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _parse_us(ops) -> float:
    from aspublic_spark.functions.tokenizer import tokenize
    from aspublic_spark.query import parse_fts5, parse_query, parse_websearch

    per = []
    for op in ops:
        p = op["params"]
        parser = parse_websearch if p.get("websearch") else parse_fts5 if p.get("fts5") else parse_query
        n = 200
        t = time.perf_counter()
        for _ in range(n):
            parser(p["q"], tok=tokenize)
        per.append((time.perf_counter() - t) / n * 1e6)
    return H.median(per)


def per_layer(run, out: dict, log: dict) -> dict:
    ops = run.ops
    H.ops_jobs(log, ops)
    L = run.layer
    qs = [o for o in ops if o["kind"] == "query"]
    timed = [o for o in qs if o["main"]]
    L["parser.parse_us"] = _parse_us(qs)
    srch = [o["timers"].get("engine.search", 0.0) for o in qs]
    hnd = [o["timers"].get("server.handle_search", 0.0) for o in qs]
    L["engine.search_call_s"] = H.median(srch)
    L["engine.collect_s"] = H.median([h - s for h, s in zip(hnd, srch)])
    L["server.http_overhead_s"] = H.median([o["wall"] - h for o, h in zip(qs, hnd)])
    L["engine.between_jobs_s"] = H.median([o["between_jobs_s"] for o in qs])
    L["engine.jobs_per_query"] = _mean([len(o["jobs"]) for o in qs])
    L["engine.tasks_per_query"] = _mean([o["tasks"] for o in qs])
    L["engine.pruned_queries"] = sum(bool(o.get("pruned")) for o in qs)
    L["engine.input_bytes_per_query"] = _mean([o["input_bytes"] for o in qs])
    L["engine.shuffle_bytes_per_query"] = _mean([o["shuffle_read"] + o["shuffle_write"] for o in qs])
    L["engine.executor_cpu_s_per_query"] = _mean([o["cpu_s"] for o in qs])
    L["engine.gc_s_per_query"] = _mean([o["gc_s"] for o in qs])
    for f in Q.FAMILIES:
        fam = [o["wall"] for o in qs if o["family"] == f and o["main"]] or [
            o["wall"] for o in qs if o["family"] == f]
        L[f"engine.{f}.p50_s"] = H.median(fam)

    builds = [o for o in ops if o["kind"] == "build"]
    dur = lambda s: ((s["end"] or 0) - (s["start"] or 0)) / 1e3  # noqa: E731
    L["build.tokenize_shuffle_s"] = H.median(
        [sum(dur(s) for s in b["stages"] if s["shuffle_write"]) for b in builds])
    L["build.pack_write_s"] = H.median(
        [sum(dur(s) for s in b["stages"] if s["shuffle_read"]) for b in builds])
    L["build.refresh_global_s"] = H.median([b["timers"].get("build.refresh_global", 0.0) for b in builds])
    L["build.shuffle_write_bytes_per_turn"] = H.median([b["shuffle_write"] / b["turns"] for b in builds])
    L["build.jobs"] = H.median([len(b["jobs"]) for b in builds])
    L["build.turns_per_s"] = H.median([b["turns"] / b["wall"] for b in builds])
    L["build.cpu_us_per_turn"] = H.median([b["cpu"] / b["turns"] * 1e6 for b in builds])

    batches = [o for o in ops if o["kind"] == "batch"]
    prunes = [o for o in ops if o["kind"] == "prune"]
    t = lambda o, k: o["timers"].get(k, 0.0)  # noqa: E731
    L["ingest.add_documents_s"] = H.median([t(b, "ingest.add_documents") for b in batches])
    L["ingest.stage_dedup_s"] = H.median(
        [b["ingest_s"] - t(b, "ingest.add_documents") - t(b, "ingest.compact") for b in batches])
    comp = [t(b, "ingest.compact") for b in batches if t(b, "ingest.compact")]
    L["ingest.compact_s"] = H.median(comp)
    L["ingest.compactions"] = len(comp)
    L["ingest.prune_s"] = H.median([p["wall"] for p in prunes])
    L["ingest.refresh_s"] = H.median([b["refresh_s"] for b in batches])
    L["ingest.duplicates_dropped"] = sum(b["rows"] - b["added"] for b in batches)
    L["ingest.turns_per_s"] = sum(b["added"] for b in batches) / max(sum(b["ingest_s"] for b in batches), 1e-9)
    L["ingest.batch_p50_s"] = H.median([b["wall"] for b in batches])
    writes = batches + builds
    L["fsio.atomic_writes_per_batch"] = H.median(
        [t(o, "fsio.write_file_atomic#") for o in writes])
    L["fsio.atomic_write_s"] = H.median([t(o, "fsio.write_file_atomic") for o in writes])

    step_kind = {"serve_zipf": "query", "backfill": "build"}[run.workload]
    steps = [o for o in ops if o["kind"] == step_kind and o.get("main", True)]
    for k in ("py_main", "jvm", "py_workers"):
        L[f"cpu.{k}_s"] = H.median([o["split"][k] for o in steps])
    L["trace.query_p50_s"] = H.median([o["wall"] for o in timed])
    L["trace.step_p50_s"] = H.median([o["wall"] for o in out["steps"]])
    missing = set(PER_LAYER_UNITS) - set(L)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: {"value": float(L[k]), "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}

