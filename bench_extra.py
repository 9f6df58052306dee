#!/usr/bin/env python
"""Extra (non-frozen) bench utilities for the optimization rounds.

`bench.py` is frozen for measurement; everything exploratory lives here:

  python bench_extra.py plans AFTER_SUFFIX   # capture explain("formatted")
                                             # per bench family into
                                             # plans/r06/<family>_<SUFFIX>.txt
  python bench_extra.py time [REPEATS]       # steady-state per-family minima
                                             # (noop-style repeated collect)
  python bench_extra.py entry [REPEATS]      # noop-sink timing of every
                                             # declared entry query (sf from
                                             # $SPARK_GRAFT_SF_DIR)
  python bench_extra.py pytask [REPEATS]     # per-task fixed cost of a
                                             # Python worker: an empty
                                             # mapInArrow over 1/4/8/16
                                             # partitions, median of REPEATS
  python bench_extra.py lifecycle [REPEATS] [N_TURNS]
                                             # compact() and prune_index()
                                             # of one fixed 3-generation
                                             # index (default 20k turns),
                                             # each on a fresh copy,
                                             # median of REPEATS
  python bench_extra.py build [REPEATS]      # in-process builds of three
                                             # fixed inputs (a 400-turn
                                             # batch, the 20k-turn perfbench
                                             # backfill corpus in one row
                                             # group, 200k turns in 8 row
                                             # groups), interleaved, median
                                             # of REPEATS, with each build's
                                             # tokenize-stage task count
  python bench_extra.py format INDEX_DIR [CORPUS]
                                             # where an index's bytes are,
                                             # from the parquet footers:
                                             # compressed bytes of each
                                             # postings column, the docs
                                             # and dictionary directories
                                             # and the rest; each also per
                                             # text byte when CORPUS (a
                                             # parquet file holding the
                                             # indexed text columns) is
                                             # given. No Spark.

Same conditions as the frozen bench: materialized sf input, local[32]
(honouring $SPARK_GRAFT_CPUS), engine with cache_tables=True, one
warm-up per plan shape before timing.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import CPUS, QUERY_SET, _build, _materialize_input, _n_turns, _sf_label


def _explain_str(df) -> str:
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jqe.explainString(mode)


def _engine(spark, idx_dir, **kw):
    from aspublic_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, idx_dir, cache_tables=True, **kw)
    for wq in ("status", "data example", "data !example", '"status update"'):
        eng.search(wq, k=5).df.collect()
    return eng


def _setup():
    from aspublic_spark.functions.tokenizer import tokens_udf
    from aspublic_spark.session import get_spark
    from aspublic_spark.tables import synth_transcripts

    spark = get_spark("bench_extra", cpus=CPUS, shuffle_partitions=CPUS)
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    df = _materialize_input(spark, _n_turns(), 42, f"{scratch}/bench_input_{_sf_label()}")
    synth_transcripts(spark, 20_000 * CPUS, seed=1).select(tokens_udf("text")).count()
    idx_dir = f"/tmp/bench_idx_extra_{_sf_label()}"
    _build(spark, df, idx_dir)
    return spark, idx_dir


def capture_plans(suffix: str):
    spark, idx_dir = _setup()
    eng = _engine(spark, idx_dir)
    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name, q, kw in QUERY_SET:
        res = eng.search(q, k=50, **kw)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(_explain_str(res.df))
        print("wrote", path)
    pruned = _engine(spark, idx_dir, prune_min_postings=0)
    res = pruned.search("the", k=50)
    assert res.pruning.get("theta_pruned"), "block-max did not fire"
    path = os.path.join(out_dir, f"q_heavy_blockmax_{suffix}.txt")
    with open(path, "w") as f:
        f.write(_explain_str(res.df))
    print("wrote", path)


def time_families(repeats: int = 5):
    spark, idx_dir = _setup()
    eng = _engine(spark, idx_dir)
    mins = {}
    for name, q, kw in QUERY_SET:
        ts = []
        for _ in range(repeats):
            t0 = time.time()
            eng.search(q, k=50, **kw).df.collect()
            ts.append(time.time() - t0)
        mins[name] = round(min(ts), 3)
        print(name, [round(t, 3) for t in ts])
    pruned = _engine(spark, idx_dir, prune_min_postings=0)
    ts = []
    for _ in range(repeats):
        t0 = time.time()
        pruned.search("the", k=50).df.collect()
        ts.append(time.time() - t0)
    mins["q_heavy_blockmax"] = round(min(ts), 3)
    print("q_heavy_blockmax", [round(t, 3) for t in ts])
    print("MINIMA", mins)


def time_entry(repeats: int = 2):
    """noop-sink cold/steady timing of every declared entry query."""
    import importlib.util

    from aspublic_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = get_spark("bench_extra_entry", cpus=CPUS, shuffle_partitions=CPUS)
    data_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    rows = {}
    for name, fn in mod.queries().items():
        spark.sparkContext.setJobDescription(f"entry:{name}")
        ts = []
        for _ in range(repeats):
            t0 = time.time()
            df = fn(spark, data_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        rows[name] = ts
        print(name, ts, flush=True)
    spark.sparkContext.setJobDescription(None)
    print("ENTRY", rows)


def _task_cpu(batches):
    """Empty mapInArrow body: import the package (as every UDF the
    program ships does on unpickling), drain the input, report this
    worker's pid and its cumulative CPU seconds."""
    import os

    import aspublic_spark  # noqa: F401
    import pyarrow as pa

    for _ in batches:
        pass
    t = os.times()
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "cpu": [t.user + t.system]})


def python_task_cost(repeats: int = 5):
    """Fixed cost of one Python worker task, without a full benchmark
    run: an empty mapInArrow over a fixed 16k-row input cut into 1, 4,
    8 and 16 partitions, one warm-up then REPEATS timed collects each.
    Worker CPU per task is the growth of each worker's cumulative CPU
    since its previous report (since its fork for a new worker), summed
    over workers and divided by the task count, so the set-up a worker
    does before the UDF runs is counted too."""
    import statistics

    from aspublic_spark.session import get_spark

    spark = get_spark(
        "bench_extra_pytask", cpus=CPUS, shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    last_cpu = {}

    def run(n_parts):
        df = spark.range(0, 16_000, numPartitions=n_parts).mapInArrow(
            _task_cpu, "pid long, cpu double"
        )
        t0 = time.perf_counter()
        rows = df.collect()
        wall = time.perf_counter() - t0
        now = {}
        for r in rows:
            now[r.pid] = max(now.get(r.pid, 0.0), r.cpu)
        cpu = sum(c - last_cpu.get(pid, 0.0) for pid, c in now.items())
        last_cpu.update(now)
        return wall, cpu / n_parts

    print(f"local[{CPUS}], median of {repeats}")
    print(f"{'partitions':>10} {'wall_s':>8} {'worker_cpu_s/task':>18}")
    for n_parts in (1, 4, 8, 16):
        run(n_parts)
        walls, cpus = zip(*(run(n_parts) for _ in range(repeats)))
        print(
            f"{n_parts:>10} {statistics.median(walls):>8.3f} "
            f"{statistics.median(cpus):>18.4f}",
            flush=True,
        )


def sf1_decade(n_turns: int = 2_000_000):
    """One decade above the frozen bench's sf0.1 corpus: build 2M turns
    and run the same query families with the same single-shot protocol
    (one warm-up per plan shape, one timed shot per family, fresh
    engine for the forced-blockmax datapoint). Grounds the scale
    claims (threshold-gated pruning, auto n_slices, broadcast bounds)
    with measurement instead of plan reasoning. bench.py is frozen, so
    this lives here; cite results in OPTIMIZATION_r06.md."""
    from aspublic_spark.functions.tokenizer import tokens_udf
    from aspublic_spark.query.engine import SearchEngine
    from aspublic_spark.session import get_spark
    from aspublic_spark.tables import synth_transcripts

    spark = get_spark("bench_extra_sf1", cpus=CPUS, shuffle_partitions=CPUS)
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    df = _materialize_input(spark, n_turns, 42, f"{scratch}/bench_input_sf1")
    synth_transcripts(spark, 20_000 * CPUS, seed=1).select(tokens_udf("text")).count()
    idx_dir = "/tmp/bench_idx_extra_sf1"
    build_secs = min(_build(spark, df, idx_dir) for _ in range(2))
    print(f"sf1 build: {build_secs:.2f}s = {n_turns/build_secs:.0f} turns/sec", flush=True)
    eng = _engine(spark, idx_dir)
    out = {}
    for name, q, kw in QUERY_SET:
        t0 = time.time()
        eng.search(q, k=50, **kw).df.collect()
        out[name] = round(time.time() - t0, 3)
        print(name, out[name], flush=True)
    pruned = SearchEngine(spark, idx_dir, cache_tables=True, prune_min_postings=0)
    t0 = time.time()
    res = pruned.search("the", k=50)
    res.df.collect()
    out["q_heavy_blockmax"] = round(time.time() - t0, 3)
    assert res.pruning.get("theta_pruned"), "block-max did not fire"
    # does the DEFAULT threshold auto-enable pruning at this volume?
    dflt = SearchEngine(spark, idx_dir, cache_tables=True)
    auto = dflt.search("the", k=50)
    auto.df.collect()
    out["default_pruning_fired"] = bool(auto.pruning.get("theta_pruned"))
    print("SF1", {"build_s": round(build_secs, 2), "tps": round(n_turns / build_secs), **out})


def lifecycle(repeats: int = 5, n_turns: int = 20_000):
    """Time the index lifecycle ops on a fixed input: build one
    3-generation index (the corpus split into thirds by ts), then per
    repeat copy it and time ``compact()`` (merge all three), copy it
    again and time ``prune_index()`` at the corpus's middle ts (drops
    generation 0, rewrites generation 1). Prints every repeat and the
    medians; the build itself is not timed."""
    import datetime as dt
    import shutil
    import statistics

    from pyspark.sql import functions as F

    from aspublic_spark.index import IndexBuilder
    from aspublic_spark.session import get_spark

    spark = get_spark("bench_extra_lifecycle", cpus=CPUS, shuffle_partitions=CPUS)
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    df = _materialize_input(spark, n_turns, 42, f"{scratch}/bench_input_lifecycle_{n_turns}")
    t = F.col("ts").cast("long")
    lo, hi = df.agg(F.min(t), F.max(t)).first()
    cuts = [lo + (hi - lo) * k / 3 for k in (1, 2)]
    parts = [df.filter(t < cuts[0]), df.filter((t >= cuts[0]) & (t < cuts[1])), df.filter(t >= cuts[1])]
    base = f"/tmp/bench_idx_lifecycle_{n_turns}"
    shutil.rmtree(base, ignore_errors=True)
    b = IndexBuilder(spark, base)
    for g, part in enumerate(parts):
        b.build(part, gen=g)
    cutoff = dt.datetime.fromtimestamp(lo + (hi - lo) / 2, tz=dt.timezone.utc).replace(tzinfo=None)
    work = base + "_work"
    times: dict[str, list[float]] = {"compact_s": [], "prune_s": []}
    for i in range(repeats):
        for name, op in (
            ("compact_s", lambda ib: ib.compact()),
            ("prune_s", lambda ib: ib.prune_index(cutoff)),
        ):
            shutil.rmtree(work, ignore_errors=True)
            shutil.copytree(base, work)
            ib = IndexBuilder(spark, work)
            t0 = time.perf_counter()
            op(ib)
            times[name].append(time.perf_counter() - t0)
        print(f"repeat {i}: " + " ".join(f"{k}={v[-1]:.3f}" for k, v in times.items()), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    print("LIFECYCLE", {"n_turns": n_turns, "repeats": repeats,
                        **{k: round(statistics.median(v), 3) for k, v in times.items()}}, flush=True)


def _tokenize_tasks(spark, group: str) -> tuple[int, int, int]:
    """(tasks, non-empty tasks, rows read) of the tokenize stage among
    the jobs of ``group``, from the live status store (the tests use it
    too): the first stage whose tasks write a shuffle of another row
    count than they read, since it turns documents into partial-block
    rows (the text exchange and the n_slices probe write the rows they
    read). It reads the input splits directly or, behind a text
    exchange, that exchange's partitions."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            tasks = store.taskList(sid, info.currentAttemptId, 1 << 20) if info else None
            if tasks is None or tasks.size() == 0:
                continue
            ms = [tasks.apply(i).taskMetrics().get() for i in range(tasks.size())]
            rows = [m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead() for m in ms]
            written = sum(m.shuffleWriteMetrics().recordsWritten() for m in ms)
            if written and written != sum(rows):
                stages.append((sid, info.numTasks, sum(1 for r in rows if r), sum(rows)))
    return min(stages)[1:] if stages else (0, 0, 0)


def build_layouts(repeats: int = 5):
    """Wall time of full in-process builds on three fixed inputs, each
    written once as ONE parquet file: a 400-turn batch (the streaming
    ingest batch size), the 20k-turn perfbench backfill corpus (seed 1,
    one row group, as perfbench writes it) and a 200k-turn corpus in 8
    row groups. One untimed warm-up round, then REPEATS rounds that
    build the three in turn into fresh directories, so host drift hits
    every input alike. Prints each input's split count, the median wall
    and the tokenize stage's task count (total / non-empty)."""
    import shutil
    import statistics

    import pyarrow.parquet as pq

    from aspublic_spark.index import IndexBuilder
    from aspublic_spark.session import get_spark

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import corpus as C

    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = f"{scratch}/bench_extra_build"
    inputs = (("batch_400", 400, 3, 1), ("backfill_20k", 20_000, 1, 1), ("turns_200k_rg8", 200_000, 2, 8))
    os.makedirs(root, exist_ok=True)
    for name, n, seed, n_rg in inputs:
        path = f"{root}/{name}.parquet"
        if not os.path.exists(path):
            tbl = C.to_arrow(C.generate(n, seed))
            pq.write_table(tbl, path + ".tmp", row_group_size=-(-n // n_rg) if n_rg > 1 else None)
            os.replace(path + ".tmp", path)
    spark = get_spark(
        "bench_extra_build", cpus=CPUS, shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    walls: dict[str, list[float]] = {name: [] for name, *_ in inputs}
    tasks: dict[str, tuple[int, int, int]] = {}
    for r in range(repeats + 1):
        for name, *_ in inputs:
            df = spark.read.parquet(f"{root}/{name}.parquet")
            idx = f"{root}/idx_{name}"
            shutil.rmtree(idx, ignore_errors=True)
            group = f"build_{name}_{r}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            IndexBuilder(spark, idx).build(df)
            wall = time.perf_counter() - t0
            sc.setJobGroup("", "")
            if r:
                walls[name].append(wall)
            tasks[name] = _tokenize_tasks(spark, group)
        if r:
            print(f"repeat {r}: " + " ".join(f"{k}={v[-1]:.3f}" for k, v in walls.items()), flush=True)
    print(f"local[{CPUS}], defaultParallelism {sc.defaultParallelism}, median of {repeats}")
    print(f"{'input':>16} {'turns':>7} {'row_groups':>10} {'splits':>6} {'build_s':>8} {'tokenize_tasks':>15}")
    for name, n, _, n_rg in inputs:
        n_in = spark.read.parquet(f"{root}/{name}.parquet").rdd.getNumPartitions()
        total, busy, _ = tasks[name]
        print(f"{name:>16} {n:>7} {n_rg:>10} {n_in:>6} {statistics.median(walls[name]):>8.3f} "
              f"{f'{total} ({busy} busy)':>15}", flush=True)
        shutil.rmtree(f"{root}/idx_{name}", ignore_errors=True)


def _dir_files(path: str):
    for root, _dirs, files in os.walk(path):
        for f in files:
            yield os.path.join(root, f)


def index_format(index_dir: str, corpus: str | None = None):
    """Print where the bytes of ``index_dir`` are: the compressed bytes
    of each postings column (summed over every row group's column
    chunk, read from the parquet footers), the rest of the postings
    files (footers, headers), the docs and dictionary directories and
    everything else; with ``corpus``, each per byte of the indexed text
    columns (UTF-8, nulls 0), the perfbench ``index_bytes_per_text_byte``
    denominator."""
    import json

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cols: dict[str, int] = {}
    postings_files = 0
    for f in _dir_files(os.path.join(index_dir, "postings")):
        postings_files += os.path.getsize(f)
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                ch = md.row_group(rg).column(c)
                cols[ch.path_in_schema] = cols.get(ch.path_in_schema, 0) + ch.total_compressed_size
    total = sum(os.path.getsize(f) for f in _dir_files(index_dir))
    sub = {
        name: sum(os.path.getsize(f) for f in _dir_files(os.path.join(index_dir, name)))
        for name in ("docs", "dictionary_gens", "dictionary_v")
    }
    rows = [(f"postings.{c}", b) for c, b in sorted(cols.items(), key=lambda kv: -kv[1])]
    rows.append(("postings (footers, headers)", postings_files - sum(cols.values())))
    rows += [(name, b) for name, b in sub.items()]
    rows.append(("other (manifests, json)", total - postings_files - sum(sub.values())))
    rows.append(("total", total))
    text = None
    if corpus:
        meta = json.load(open(os.path.join(index_dir, "index_meta.json")))
        tbl = pq.read_table(corpus, columns=meta["text_cols"])
        text = sum(
            int(pc.sum(pc.fill_null(pc.binary_length(tbl.column(c)), 0)).as_py() or 0)
            for c in meta["text_cols"]
        )
    print(f"{'part':<30} {'bytes':>12}" + (f" {'per text byte':>14}" if text else ""))
    for name, b in rows:
        print(f"{name:<30} {b:>12,}" + (f" {b / text:>14.4f}" if text else ""))
    if text:
        print(f"{'text bytes':<30} {text:>12,}")


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        capture_plans(sys.argv[2] if len(sys.argv) > 2 else "after")
    elif cmd == "time":
        time_families(int(sys.argv[2]) if len(sys.argv) > 2 else 5)
    elif cmd == "entry":
        time_entry(int(sys.argv[2]) if len(sys.argv) > 2 else 2)
    elif cmd == "pytask":
        python_task_cost(int(sys.argv[2]) if len(sys.argv) > 2 else 5)
    elif cmd == "sf1":
        sf1_decade(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
    elif cmd == "build":
        build_layouts(int(sys.argv[2]) if len(sys.argv) > 2 else 5)
    elif cmd == "format":
        index_format(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    elif cmd == "lifecycle":
        lifecycle(
            int(sys.argv[2]) if len(sys.argv) > 2 else 5,
            int(sys.argv[3]) if len(sys.argv) > 3 else 20_000,
        )
    else:
        raise SystemExit(f"unknown command {cmd}")
