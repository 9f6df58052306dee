"""The two workloads. Each one records its operations in ``run.ops``
(kind, wall, process-tree CPU, epoch window) and checks every program
output against the reference evaluator's answers.

The corpus, the reference and every query of a run with its reference
answer (the run's *plan*) are made in a child process before Spark
starts, so the measured process tree holds the program and the client,
not the reference.

Operation counts depend only on ``--seconds`` (never on a timer), so the
index state at every timed point is a function of the seed alone.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
import time

import numpy as np

import corpus as C
import harness as H
import queries as Q
from reference import Reference, compare

HERE = os.path.dirname(os.path.abspath(__file__))
SERVE_SEED = 0  # the serving corpus is fixed; --seed drives the query stream
SERVE_TURNS = 120_000
BACKFILL_TURNS = 20_000
# nominal seconds one step takes on a 4-core host: a run does
# max(1, round(--seconds / nominal)) steps, a count fixed by --seconds
NOMINAL_STEP_S = {"serve_zipf": 10.0, "backfill": 3.3}


def n_steps(workload: str, seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_STEP_S[workload]))


# -- corpus files -------------------------------------------------------------
def write_corpus(c: dict, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(C.to_arrow(c), path)


def save_tokens(c: dict, path: str) -> None:
    np.savez(
        path,
        vocab=np.array(c["vocab"]), conv_id=c["conv_id"].astype(str),
        turn_idx=c["turn_idx"], role=c["role"].astype(str),
        tool=np.array(["" if t is None else t for t in c["tool"]]),
        ts=c["ts"], tok_off=c["tok_off"], tok_ids=c["tok_ids"],
    )


def load_tokens(path: str) -> dict:
    z = np.load(path)
    return {
        "vocab": [str(w) for w in z["vocab"]],
        "conv_id": z["conv_id"].astype(object), "turn_idx": z["turn_idx"],
        "role": z["role"].astype(object),
        "tool": np.array([t or None for t in z["tool"].tolist()], dtype=object),
        "ts": z["ts"], "tok_off": z["tok_off"], "tok_ids": z["tok_ids"],
    }


def source_key(root: str) -> str:
    """Content hash of the program and of the corpus generator: the
    serving cache is rebuilt whenever either changes."""
    import hashlib

    h = hashlib.sha256()
    files = [os.path.join(root, "perfbench", "corpus.py")]
    for d, _dirs, fs in os.walk(os.path.join(root, "aspublic_spark")):
        files += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(f"{SERVE_SEED}:{SERVE_TURNS}".encode())
    return h.hexdigest()[:16]


def build_serve_cache(root: str, out_dir: str) -> None:
    """Generate the serving corpus and build its index (own Spark
    session; run as a child process before the measured run)."""
    tmp = out_dir + ".tmp"
    H.rmtree(tmp)
    os.makedirs(tmp)
    H.prepare_env(root, os.path.join(tmp, "run"))
    c = C.generate(SERVE_TURNS, SERVE_SEED)
    write_corpus(c, os.path.join(tmp, "corpus.parquet"))
    save_tokens(c, os.path.join(tmp, "tokens.npz"))
    from aspublic_spark.index import IndexBuilder

    spark = H.start_spark(os.path.join(tmp, "run"), event_log=False)
    t = time.perf_counter()
    IndexBuilder(spark, os.path.join(tmp, "index")).build(
        spark.read.parquet(os.path.join(tmp, "corpus.parquet")))
    build_s = time.perf_counter() - t
    H.stop_spark(spark)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"turns": SERVE_TURNS, "text_bytes": C.text_bytes(c), "build_s": build_s}, f)
    H.rmtree(os.path.join(tmp, "run"))
    os.rename(tmp, out_dir)


# -- the plan: every query of a run with its reference answer -----------------
def _answer(ref: Reference, qs: list[dict]) -> list[dict]:
    for q in qs:
        q["want"] = ref.search(q.pop("ref"), q["k"])
    return qs


def df_sample(ref: Reference, seed: int, n: int = 8) -> dict[str, int]:
    """Reference df of the most frequent term plus seeded head, mid and
    tail terms."""
    mk = Q.QueryMaker(ref, None, np.random.default_rng([seed, 11]))
    terms = [ref.vocab[0]] + [mk.term(b) for b in ("head", "mid", "tail") for _ in range(n // 3)]
    return {t: ref.df(t) for t in dict.fromkeys(terms)}


def make_plan(workload: str, seed: int, seconds: int, trace: bool, data_dir: str) -> dict:
    """Corpus, reference and every query the run sends, each with its
    reference answer (run as a child process). serve_zipf reads the
    cached serving corpus in ``data_dir``; backfill generates its corpus
    and writes it there as ``corpus.parquet``."""
    def maker(c, ref, stream):
        return Q.QueryMaker(ref, c, np.random.default_rng([seed, stream]))

    if workload == "serve_zipf":
        c = load_tokens(os.path.join(data_dir, "tokens.npz"))
        ref = Reference(c)
        warm = maker(c, ref, 3)
        mk = maker(c, ref, 7)
        plan = {
            "warm": _answer(ref, [warm.make(f) for f in Q.FAMILIES]),
            "rounds": [_answer(ref, [mk.make(f) for f in Q.FAMILIES])
                       for _ in range(n_steps(workload, seconds))],
        }
        plan["long_natural_total_df"] = plan["rounds"][0][Q.FAMILIES.index("long_natural")]["total_df"]
    else:
        c = C.generate(BACKFILL_TURNS, seed)
        write_corpus(c, os.path.join(data_dir, "corpus.parquet"))
        ref = Reference(c)
        warm = maker(c, ref, 3)
        mk = maker(c, ref, 7)
        probes = ("single_head", "and2")
        plan = {
            "warm": _answer(ref, [warm.make(f) for f in probes]),
            "probes": _answer(ref, [mk.make(f) for f in probes]),
            "text_bytes": C.text_bytes(c),
        }
        if trace:
            fr = maker(c, ref, 13)
            plan["family_round"] = _answer(ref, [fr.make(f) for f in Q.FAMILIES])
    plan.update(n_docs=ref.N, df=df_sample(ref, seed))
    return plan


def write_plan(path: str, plan: dict) -> None:
    with open(path, "wb") as f:
        pickle.dump(plan, f)


# -- the run --------------------------------------------------------------------
class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        self.run_dir = os.path.join(self.build_dir, "perfbench", f"run-{os.getpid()}")
        self.ops: list[dict] = []
        self.timers = H.Timers()
        self.attempted = self.failed = 0
        self.errors: list[str] = []  # wrong outputs (correct = False)
        self.fail_notes: list[str] = []
        self.info: dict = {}
        self.layer: dict = {}  # per-layer values measured outside the op records
        self.spark = None
        self._op_seq = 0
        self._current = None
        self.seen_terms: set = set()
        self.term_draws = self.term_repeats = 0
        self.t_start = time.perf_counter()

    def mark(self, what: str) -> None:
        """Progress line on stderr: seconds since start and a label."""
        print(f"perfbench-t {time.perf_counter() - self.t_start:7.1f} {what}", file=sys.stderr, flush=True)

    def child(self, *args: str) -> None:
        """Run ``run.py`` with ``args`` in a child process (its stdout goes
        to stderr) and wait for it."""
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       check=True, stdout=sys.stderr)

    def plan(self, data_dir: str) -> dict:
        """The run's plan, made by a child process (see ``make_plan``)."""
        path = os.path.join(self.run_dir, "plan.pkl")
        t = time.perf_counter()
        self.child("--make-plan", path, "--data", data_dir, "--workload", self.workload,
                   "--seed", str(self.seed), "--seconds", str(self.seconds),
                   "--trace", str(int(self.trace)))
        with open(path, "rb") as f:
            plan = pickle.load(f)
        self.info["corpus_s"] = round(time.perf_counter() - t, 2)
        return plan

    # -- operation records ------------------------------------------------------
    def begin(self, kind: str, **fields) -> dict:
        self._op_seq += 1
        op = {"id": f"pb-{self._op_seq}", "kind": kind, **fields}
        if self.trace:
            op["split0"] = H.cpu_split()
            op["timers0"] = self.timers.snapshot()
            self.spark.sparkContext.setJobGroup(op["id"], kind)
        self._current = op
        op["clock"] = H.Clock()
        return op

    def end(self, op: dict) -> dict:
        ck = op.pop("clock").stop()
        op.update(wall=ck.wall, cpu=ck.cpu, t0=ck.start_epoch_ms, t1=ck.end_epoch_ms)
        if self.trace:
            s1 = H.cpu_split()
            s0 = op.pop("split0")
            op["split"] = {k: s1[k] - s0[k] for k in s1}
            t0 = op.pop("timers0")
            op["timers"] = {k: v - t0.get(k, 0.0) for k, v in self.timers.snapshot().items()}
            self.spark.sparkContext.setJobGroup("", "")
        self.ops.append(op)
        self._current = None
        return op

    def check(self, ok: bool, what: str):
        if not ok:
            self.errors.append(what)

    # -- queries ----------------------------------------------------------------
    def ask(self, port: int, q: dict, main: bool = True) -> tuple:
        """Send one query as a timed operation; the answer is checked
        later by ``verify``, outside any timed window."""
        params = dict(q["params"], k=str(q["k"]))
        for t in q["terms"]:
            self.term_draws += main
            self.term_repeats += main and t in self.seen_terms
            self.seen_terms.add(t)
        op = self.begin("query", family=q["family"], main=main, params=q["params"])
        status, body = H.http_get(port, "/search", params)
        self.end(op)
        if main:
            self.attempted += 1
        return q, op, status, body

    def verify(self, q: dict, op: dict, status: int, body: dict):
        if status != 200:
            self.errors.append(f"{q['family']} {q['params']}: HTTP {status} {body.get('error')}")
            return
        pr = body["debug"].get("pruning") or {}
        op["pruned"] = bool(pr.get("theta_pruned") or pr.get("range_pruned"))
        got = [(r["conv_id"], r["turn_idx"], r["score"]) for r in body["results"]]
        err = compare(got, q["want"])
        if err is None:
            return
        if q["family"] == "long_natural" and op["pruned"] and op["main"]:
            # the one known fault: pruned top-k over blocks whose stored
            # doc order is broken (counted, not an error)
            self.failed += 1
            self.fail_notes.append(f"long_natural (pruned): {err}")
        else:
            self.errors.append(f"{q['family']} {q['params']}: {err}")

    def query(self, port: int, q: dict, main: bool = True):
        self.verify(*self.ask(port, q, main))

    def check_df(self, engine, want: dict[str, int]):
        """Dictionary df (through SearchEngine.term_stats) against the
        reference's."""
        st = engine.term_stats(list(want))
        for t, df in want.items():
            got = sum(s["df"] for s in st.get(t, {}).values())
            if got != df:
                self.errors.append(f"df({t}): got {got} want {df}")

    def check_count(self, port: int, want: int, what: str):
        status, body = H.http_get(port, "/stats")
        got = int(body["stats"][0]["n_docs"]) if status == 200 and body.get("stats") else -1
        if got != want:
            self.errors.append(f"{what}: index holds {got} docs, reference {want}")

    # -- server helpers -------------------------------------------------------------
    def start_server(self, index_dir: str, **kw):
        from aspublic_spark.server import QueryServer

        srv = QueryServer(self.spark, index_dir, port=0, **kw).start()
        if self.trace:
            self.instrument_server(srv)
        return srv

    def instrument_server(self, srv):
        spark = self.spark
        run = self

        def tag():
            op = run._current
            if op is None:
                spark.sparkContext.setJobGroup("", "")
            else:
                spark.sparkContext.setJobGroup(op["id"], op["kind"])

        self.timers.wrap(srv, "handle_search", "server.handle_search", before=tag)
        self.timers.wrap(srv.engine, "search", "engine.search")

    def warm(self, port: int, qs: list[dict]):
        """Compile every plan shape once before timing: the queries are
        sent from up to nproc threads at once (set-up only; the timed loop
        has one client). Answers are checked like any other."""
        from concurrent.futures import ThreadPoolExecutor

        self._current = None
        with ThreadPoolExecutor(max_workers=min(len(qs), len(os.sched_getaffinity(0)))) as pool:
            replies = list(pool.map(
                lambda q: H.http_get(port, "/search", dict(q["params"], k=str(q["k"]))), qs))
        for q, (status, body) in zip(qs, replies):
            if status != 200:
                self.errors.append(f"warm {q['family']}: HTTP {status} {body.get('error')}")
                continue
            got = [(r["conv_id"], r["turn_idx"], r["score"]) for r in body["results"]]
            err = compare(got, q["want"])
            if err:
                self.errors.append(f"warm {q['family']} {q['params']}: {err}")
        for q in qs:
            self.seen_terms.update(q["terms"])

    def instrument_builder(self, builder, before_compact=None):
        self.timers.wrap(builder, "refresh_global", "build.refresh_global")
        self.timers.wrap(builder, "add_documents", "ingest.add_documents")
        self.timers.wrap(builder, "compact", "ingest.compact", before=before_compact)
        self.timers.wrap(builder.fs, "write_file_atomic", "fsio.write_file_atomic")


def _texts(parquet_path: str, n: int) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(parquet_path, columns=["text"]).column("text").to_pylist()[:n]


# -- serve_zipf -----------------------------------------------------------------------
def serve_zipf(run: Run) -> dict:
    cache = os.path.join(run.build_dir, "perfbench", "serve-" + source_key(run.root))
    if not os.path.isdir(cache):
        t = time.perf_counter()
        run.child("--build-serve-cache", cache)
        run.info["serve_cache_build_s"] = round(time.perf_counter() - t, 2)
    with open(os.path.join(cache, "meta.json")) as f:
        meta = json.load(f)
    plan = run.plan(cache)
    run.info["long_natural_total_df"] = plan["long_natural_total_df"]
    index_dir = os.path.join(cache, "index")

    setup = H.Clock()
    run.spark = H.start_spark(run.run_dir, event_log=run.trace)
    run.mark("session started")
    srv = run.start_server(index_dir, cache_tables=True)
    run.mark("server started")
    run.warm(srv.port, plan["warm"])
    setup_s = setup.stop().wall
    run.mark("setup done")

    steps = []
    for rnd in plan["rounds"]:
        step = run.begin("step")
        answers = [run.ask(srv.port, q) for q in rnd]
        steps.append(run.end(step))
        for a in answers:
            run.verify(*a)
        run.mark("round done")
    run.check_df(srv.engine, plan["df"])
    out = {
        "setup_s": setup_s, "steps": steps, "index_dir": index_dir,
        "index_bytes": H.dir_bytes(index_dir), "text_bytes": meta["text_bytes"],
    }
    if run.trace:
        import layers

        corpus = os.path.join(cache, "corpus.parquet")
        layers.build_probe(run, corpus, BACKFILL_TURNS)
        layers.ingest_probe(run)
        layers.micro(run, _texts(corpus, BACKFILL_TURNS), index_dir)
    srv.stop()
    return out


# -- backfill ---------------------------------------------------------------------------
def backfill(run: Run) -> dict:
    from aspublic_spark.index import IndexBuilder

    os.makedirs(run.run_dir, exist_ok=True)
    plan = run.plan(run.run_dir)
    src = os.path.join(run.run_dir, "corpus.parquet")
    n_builds = n_steps(run.workload, run.seconds)

    setup = H.Clock()
    run.spark = H.start_spark(run.run_dir, event_log=run.trace)
    run.mark("session started")
    df = run.spark.read.parquet(src)
    first = os.path.join(run.run_dir, "idx-0")
    IndexBuilder(run.spark, first).build(df)  # untimed: absorbs plan compilation
    run.mark("first build done")
    srv = run.start_server(first, cache_tables=False)
    run.warm(srv.port, plan["warm"])
    srv.stop()
    setup_s = setup.stop().wall
    run.mark("setup done")

    steps, prev = [], first
    for i in range(1, n_builds + 1):
        idx = os.path.join(run.run_dir, f"idx-{i}")
        b = IndexBuilder(run.spark, idx)
        if run.trace:
            run.instrument_builder(b)
        op = run.begin("build", turns=BACKFILL_TURNS)
        b.build(df)
        steps.append(run.end(op))
        run.attempted += 1
        run.mark(f"build {i} done")
        srv = run.start_server(idx, cache_tables=False)
        run.check_count(srv.port, plan["n_docs"], f"build {i}")
        for q in plan["probes"]:
            run.query(srv.port, q)
        run.check_df(srv.engine, plan["df"])
        if i == n_builds and run.trace:
            import layers

            for q in plan["family_round"]:
                run.query(srv.port, q, main=False)
            layers.ingest_probe(run)
            layers.micro(run, _texts(src, BACKFILL_TURNS), idx)
        srv.stop()
        H.rmtree(prev)
        prev = idx
    return {"setup_s": setup_s, "steps": steps, "index_dir": prev,
            "index_bytes": H.dir_bytes(prev), "text_bytes": plan["text_bytes"]}


WORKLOADS = {"serve_zipf": serve_zipf, "backfill": backfill}
