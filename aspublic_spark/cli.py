"""spark-submit entry points: build / search / bench as cluster jobs.

North-rule deployment shape::

    python -m aspublic_spark.cli package          # writes aspublic_spark.zip
    spark-submit --py-files aspublic_spark.zip \
        cli.py build --input <parquet-or-iceberg> --index <dir> [--slices 64]
    spark-submit --py-files aspublic_spark.zip \
        cli.py search --index <dir> --q '"hash join" !slow' --k 10

On a real cluster the SparkSession comes from spark-submit's conf
(executors, memory, shuffle partitions); locally `get_spark` supplies a
local[N] session so the same script runs in the sandbox.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time


def _spark(args):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from aspublic_spark.session import get_spark

    return get_spark("aspublic_cli", cpus=args.cpus or None)


def cmd_package(args) -> int:
    from aspublic_spark.session import package_zip

    out = shutil.copy(package_zip(), args.out)
    print(out)
    return 0


def cmd_build(args) -> int:
    from aspublic_spark.index.build import IndexBuilder

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    b = IndexBuilder(
        spark,
        args.index,
        key_cols=args.key_cols.split(","),
        text_cols=[c for c in args.text_cols.split(",") if c] or None,
        text_col=args.text_col,
        meta_cols=[c for c in args.meta_cols.split(",") if c],
        n_slices=args.slices,
        block_size=args.block_size,
        salt_max_postings=args.salt_max,
        analyzer=args.analyzer,
    )
    t0 = time.time()
    b.build(df, gen=args.gen, resume=not args.no_resume)
    packs = [m for m in b.manifest() if m["stage"] == "pack"]
    print(
        json.dumps(
            {
                "seconds": round(time.time() - t0, 2),
                "generations": len(packs),
                "slices": max(
                    (p.get("n_slices_seen", len(p.get("slices", {}))) for p in packs),
                    default=0,
                ),
                "postings": sum(p.get("n_postings", 0) for p in packs),
                "bytes_packed": sum(p.get("bytes_packed", 0) for p in packs),
            }
        )
    )
    return 0


def cmd_search(args) -> int:
    from aspublic_spark.query.engine import SearchEngine
    from aspublic_spark.query.parser import parse_fts5, parse_query, parse_websearch
    from aspublic_spark.server import shape_response, validate_conv_prefix

    spark = _spark(args)
    eng = SearchEngine(spark, args.index)
    fw = [float(x) for x in args.field_weights.split(",")] if args.field_weights else None
    # facet input validation, the analog of the reference's domain-facet
    # normalize+reject (db_sqlite.py:107-117: strip, lowercase, reject
    # separator/escape characters). `startswith` is a literal predicate
    # (no LIKE metacharacters to escape), so this is a sanity guard on
    # the API surface, not an injection fix.
    try:
        conv_prefix = validate_conv_prefix(args.conv_prefix)
    except ValueError:
        raise SystemExit("invalid --conv-prefix")
    res = eng.search(
        args.q,
        k=args.k,
        role=args.role,
        conv_prefix=conv_prefix,
        order=args.order,
        parser=(
            parse_websearch if args.websearch
            else parse_fts5 if args.fts5
            else parse_query
        ),
        field_weights=fw,
    )
    t0 = time.time()
    rows = res.df.collect()
    dbtime_ms = (time.time() - t0) * 1000  # Q14: query timing metric
    print(json.dumps(shape_response(res, rows, dbtime_ms), default=str))
    return 0


def cmd_serve(args) -> int:
    """Long-lived query server (the reference's viewer deployment,
    viewer.py:115-139): one resident SparkSession + one warm
    SearchEngine serving HTTP/JSON until interrupted."""
    from aspublic_spark.server import QueryServer

    spark = _spark(args)
    srv = QueryServer(
        spark,
        args.index,
        host=args.host,
        port=args.port,
        cache_tables=not args.no_cache,
        auto_refresh=args.auto_refresh,
    )
    if args.warm:
        srv.warm(tuple(args.warm.split(",")))
    print(json.dumps({"serving": f"http://{args.host}:{args.port}"}), flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_ingest(args) -> int:
    """Collector deployment (the reference's collector.py daemon):
    source -> realign -> dedup -> row store + incremental index.

    Sources: ``--input-dir`` (parquet directory) or ``--urls`` (JSONL
    endpoints via the http_jsonl data source). Default is ONE pull:
    with ``--checkpoint`` on a directory source that's an availableNow
    streaming pass (only files new since the last checkpoint); without
    one it's a batch pull through ``ingest_batch`` (the key-sidecar
    dedup makes re-pulls idempotent either way). ``--follow`` stays
    resident on a processing-time trigger until ``--timeout``/kill."""
    from aspublic_spark.streaming.ingest import StreamingIngest
    from aspublic_spark.tables import realign_fields

    if bool(args.input_dir) == bool(args.urls):
        print(
            "ingest: exactly one of --input-dir / --urls is required",
            file=sys.stderr,
        )
        return 2
    if args.follow and not args.checkpoint:
        print("ingest: --follow requires --checkpoint", file=sys.stderr)
        return 2
    spark = _spark(args)
    ing = StreamingIngest(
        spark,
        index_dir=args.index,
        docs_dir=args.docs,
        watermark=args.watermark,
        dedup_horizon_days=args.horizon_days,
        html_text=args.html_text,
        auto_compact_gens=args.auto_compact_gens,
        index_kwargs={"n_slices": args.slices, "block_size": args.block_size},
    )
    urls = [u.strip() for u in (args.urls or "").split(",") if u.strip()]
    t0 = time.time()
    if args.follow or (args.input_dir and args.checkpoint):
        if urls:
            from aspublic_spark.sources import read_http_jsonl

            stream = read_http_jsonl(spark, urls, stream=True)
            q = ing.start_from_stream(
                stream,
                args.checkpoint,
                available_now=not args.follow,
                processing_time=f"{args.trigger_seconds} seconds",
            )
        else:
            q = ing.start(
                args.input_dir,
                args.checkpoint,
                available_now=not args.follow,
                processing_time=f"{args.trigger_seconds} seconds",
            )
        try:
            q.awaitTermination(args.timeout if args.timeout else None)
        except KeyboardInterrupt:
            pass
        finally:
            if q.isActive:
                q.stop()
        def _received(p):
            om = (
                p.get("observedMetrics")
                if isinstance(p, dict)
                else getattr(p, "observedMetrics", None)
            )
            m = (om or {}).get("ingest")
            return int(m["received"]) if m is not None else 0

        # received/batches come from recentProgress, which Spark caps at
        # the last ~100 updates — rows_ingested (post-dedup, counted in
        # the sink itself) is exact for runs of any length
        received = sum(_received(p) for p in q.recentProgress)
        print(json.dumps({
            "mode": "follow" if args.follow else "available_now",
            "batches_recent": len(q.recentProgress),
            "received_recent": received,
            "rows_ingested": int(ing.rows_ingested_total),
            "seconds": round(time.time() - t0, 2),
        }))
        return 0
    # one batch pull: idempotent via the key sidecar
    if urls and args.checkpoint:
        print(
            "ingest: endpoint one-pull ignores --checkpoint (idempotency "
            "comes from the key sidecar; use --follow for offsets)",
            file=sys.stderr,
        )
    if urls:
        from aspublic_spark.sources import read_http_jsonl

        src = read_http_jsonl(spark, urls)
    else:
        src = spark.read.parquet(args.input_dir)
    n = ing.ingest_batch(realign_fields(src))
    print(json.dumps({
        "mode": "pull",
        "rows_ingested": int(n),
        "seconds": round(time.time() - t0, 2),
    }))
    return 0


def cmd_prune(args) -> int:
    from datetime import datetime

    from aspublic_spark.index.build import IndexBuilder

    spark = _spark(args)
    b = IndexBuilder(spark, args.index)
    cutoff = datetime.fromisoformat(args.cutoff)
    print(json.dumps(b.prune_index(cutoff, ts_col=args.ts_col), default=str))
    return 0


def cmd_compact(args) -> int:
    from aspublic_spark.index.build import IndexBuilder

    spark = _spark(args)
    result = IndexBuilder(spark, args.index).compact(n_slices=args.n_slices)
    print(json.dumps(result, default=str))
    return 0


def cmd_repair(args) -> int:
    from aspublic_spark.index.build import IndexBuilder

    spark = _spark(args)
    print(json.dumps(IndexBuilder(spark, args.index).repair(), default=str))
    return 0


def cmd_verify(args) -> int:
    """Format check of an existing index (IndexBuilder.verify); exits 1
    when any invariant is violated."""
    from aspublic_spark.index.build import IndexBuilder

    spark = _spark(args)
    result = IndexBuilder(spark, args.index).verify()
    print(json.dumps(result))
    return 0 if result["ok"] else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="aspublic_spark")
    p.add_argument("--cpus", type=int, default=0)
    sub = p.add_subparsers(dest="cmd", required=True)

    pk = sub.add_parser("package")
    pk.add_argument("--out", default="aspublic_spark.zip")

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--key-cols", default="conv_id,turn_idx")
    b.add_argument("--text-col", default="text")
    b.add_argument("--text-cols", default="", help="comma list for a multi-field index (e.g. text,subject)")
    b.add_argument("--meta-cols", default="role,tool,ts")
    b.add_argument("--slices", type=int, default=None,
                   help="doc-hash slices; default auto-sizes by corpus volume")
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--salt-max", type=int, default=100_000)
    b.add_argument("--analyzer", default="fts5", choices=["fts5", "english"])
    b.add_argument("--gen", type=int, default=0)
    b.add_argument("--no-resume", action="store_true")

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--q", required=True)
    s.add_argument("--k", type=int, default=50)
    s.add_argument("--role")
    s.add_argument("--conv-prefix")
    s.add_argument("--order", default="bm25", choices=["bm25", "recency"])
    s.add_argument("--websearch", action="store_true")
    s.add_argument("--fts5", action="store_true",
                   help="raw-FTS5 query surface: adds NEAR(a b, n) proximity")
    s.add_argument("--field-weights", default="", help="comma list, bm25(fts, w1, w2) analog")

    sv = sub.add_parser("serve", help="resident query server (warm engine, HTTP/JSON)")
    sv.add_argument("--index", required=True)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8080)
    sv.add_argument("--no-cache", action="store_true", help="skip pinning docs+dictionary in executor memory")
    sv.add_argument("--warm", default="", help="comma list of queries to pre-compile plan shapes at boot")
    sv.add_argument("--auto-refresh", action="store_true", help="probe the index manifest per search; new generations serve without POST /refresh")

    ig = sub.add_parser(
        "ingest",
        help="collector pipeline: parquet dir or HTTP JSONL endpoints -> "
             "dedup -> row store + incremental index",
    )
    ig.add_argument("--index", required=True)
    ig.add_argument("--docs", required=True, help="row-store directory (gen= partitioned)")
    ig.add_argument("--input-dir", help="parquet directory source")
    ig.add_argument("--urls", help="comma-separated JSONL endpoints (http_jsonl source)")
    ig.add_argument("--checkpoint", help="streaming checkpoint dir (exact-once across invocations)")
    ig.add_argument("--follow", action="store_true", help="stay resident on a processing-time trigger")
    ig.add_argument("--trigger-seconds", type=int, default=10)
    ig.add_argument("--timeout", type=int, default=0, help="stop --follow after N seconds (0 = until killed)")
    ig.add_argument("--watermark", default="10 minutes")
    ig.add_argument("--horizon-days", type=int, default=7)
    ig.add_argument("--html-text", action="store_true", help="run the HTML->text normalize stage on ingest")
    ig.add_argument("--auto-compact-gens", type=int, default=None)
    ig.add_argument("--slices", type=int, default=None,
                    help="doc-hash slices; default auto-sizes by corpus volume")
    ig.add_argument("--block-size", type=int, default=128)

    pr = sub.add_parser("prune")
    pr.add_argument("--index", required=True)
    pr.add_argument("--cutoff", required=True, help="ISO timestamp; segments older are dropped")
    pr.add_argument("--ts-col", default="ts")

    co = sub.add_parser("compact", help="merge all generations into one segment set")
    co.add_argument("--index", required=True)
    co.add_argument(
        "--n-slices", type=int, default=None,
        help="re-slice the index during the merge (lifts the phrase "
             "parallelism ceiling of a narrow-built index)",
    )

    rp = sub.add_parser("repair", help="roll pending markers forward, GC orphan state")
    rp.add_argument("--index", required=True)

    vf = sub.add_parser(
        "verify",
        help="check stored blocks: ascending doc ids, min/max_doc, "
             "unique postings, dense block_ids",
    )
    vf.add_argument("--index", required=True)

    args = p.parse_args(argv)
    return {
        "package": cmd_package, "build": cmd_build,
        "search": cmd_search, "serve": cmd_serve,
        "ingest": cmd_ingest, "prune": cmd_prune,
        "compact": cmd_compact, "repair": cmd_repair,
        "verify": cmd_verify,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
