"""Process, host and Spark plumbing shared by the workloads.

Everything the benchmark writes lives under one work directory inside
the checkout: Spark's local dirs, the JVM and Python temp dirs, event
logs, indexes and the cached serving corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.parse
import urllib.request

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- work directories -------------------------------------------------------
def prepare_env(root: str, run_dir: str) -> None:
    """Point every temp / spill location of Python, the JVM and Spark at
    ``run_dir`` (must run before the JVM starts)."""
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark_local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xss16m -XX:-UsePerfData -Djava.io.tmpdir={tmp}" pyspark-shell'
    )
    # the spark-submit launcher runs a JVM of its own first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    if root not in sys.path:
        sys.path.insert(0, root)


def start_spark(run_dir: str, event_log: bool):
    from aspublic_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        d = os.path.join(run_dir, "eventlog")
        os.makedirs(d, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + d,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- process tree accounting (read-only /proc) ------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    comm = s[s.index("(") + 1:s.rindex(")")]
    fields = s[s.rindex(")") + 2:].split()
    # utime stime cutime cstime are fields 14..17 (1-based, incl. pid, comm)
    ticks = sum(int(x) for x in fields[11:15])
    return comm, ticks / CLK_TCK


def cpu_split() -> dict[str, float]:
    """CPU seconds (own + reaped children) of the process tree, split
    into this Python process, the JVM, and everything else (the Python
    worker daemon and its workers)."""
    me = os.getpid()
    out = {"py_main": 0.0, "jvm": 0.0, "py_workers": 0.0}
    for pid in process_tree(me):
        try:
            comm, sec = _stat(pid)
        except OSError:
            continue
        key = "py_main" if pid == me else "jvm" if comm == "java" else "py_workers"
        out[key] += sec
    return out


def tree_cpu() -> float:
    return sum(cpu_split().values())


def peak_rss_mb() -> float:
    """Sum of each process's peak RSS (VmHWM) over the process tree alive
    now: this process, the JVM and the Python worker daemon with its
    live workers (shared copy-on-write pages count once per process)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def steal_seconds() -> float:
    """Host-wide steal time so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / CLK_TCK if len(parts) > 8 else 0.0


# -- measurement ------------------------------------------------------------
class Clock:
    """Wall and process-tree CPU of one operation."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = tree_cpu()
        self.wall = self.cpu = None
        self.start_epoch_ms = time.time() * 1000.0

    def stop(self):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu() - self.c0
        self.end_epoch_ms = time.time() * 1000.0
        return self


class Timers:
    """Named accumulating timers for calls wrapped from outside."""

    def __init__(self):
        self.total: dict[str, float] = {}
        self.count: dict[str, int] = {}

    def add(self, name: str, dt: float, n: int = 1):
        self.total[name] = self.total.get(name, 0.0) + dt
        self.count[name] = self.count.get(name, 0) + n

    def wrap(self, obj, attr: str, name: str | None = None, before=None):
        """Replace bound method ``obj.attr`` by a timed wrapper (instance
        attribute; the class is untouched)."""
        fn = getattr(obj, attr)
        name = name or attr

        def timed(*a, **kw):
            if before is not None:
                before()
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.add(name, time.perf_counter() - t)

        setattr(obj, attr, timed)
        return fn

    def snapshot(self) -> dict[str, float]:
        """Totals by name, and call counts under ``name + "#"``."""
        return {**self.total, **{k + "#": float(n) for k, n in self.count.items()}}


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- HTTP client -------------------------------------------------------------
def http_get(port: int, path: str, params: dict | None = None) -> tuple[int, dict]:
    url = f"http://127.0.0.1:{port}{path}"
    if params:
        url += "?" + urllib.parse.urlencode(params)
    try:
        with urllib.request.urlopen(url, timeout=170) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def http_post(port: int, path: str) -> dict:
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=b"", method="POST")
    with urllib.request.urlopen(req, timeout=170) as r:
        return json.loads(r.read())


# -- Spark event log ----------------------------------------------------------
def read_event_log(run_dir: str) -> dict:
    """Jobs, stages and task totals from the (closed) event log."""
    d = os.path.join(run_dir, "eventlog")
    jobs, stage_job, stages = {}, {}, {}
    for path in sorted(os.path.join(r, f) for r, _d, fs in os.walk(d) for f in fs):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "start": ev["Submission Time"],
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], _new_stage())
                    st["start"] = si.get("Submission Time")
                    st["end"] = si.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _new_stage():
    return {"tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0, "shuffle_read": 0,
            "shuffle_write": 0, "start": None, "end": None}


def ops_jobs(log: dict, ops: list[dict]) -> None:
    """Attach to each op (``id``, ``t0``/``t1`` epoch ms) the Spark jobs it
    ran: by job group when the job carries the op's group, otherwise by
    submission time inside the op's window (one closed-loop client, so
    windows do not overlap)."""
    by_group = {}
    for jid, j in log["jobs"].items():
        if j["group"]:
            by_group.setdefault(j["group"], []).append(jid)
    for op in ops:
        ids = set(by_group.get(op["id"], []))
        ids |= {jid for jid, j in log["jobs"].items()
                if not j["group"] and op["t0"] <= j["start"] <= op["t1"]}
        op["jobs"] = sorted(ids)
        sts = [s for s in log["stages"].values() if s["job"] in ids]
        op["stages"] = sts
        op["tasks"] = sum(s["tasks"] for s in sts)
        for key in ("cpu_s", "gc_s", "input_bytes", "shuffle_read", "shuffle_write"):
            op[key] = sum(s[key] for s in sts)
        # wall time inside the op covered by no Spark job
        iv = sorted((max(log["jobs"][j]["start"], op["t0"]), min(log["jobs"][j]["end"] or op["t1"], op["t1"]))
                    for j in ids)
        covered, cur = 0.0, None
        for a, b in iv:
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        op["between_jobs_s"] = max(0.0, (op["t1"] - op["t0"]) - covered) / 1e3


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM gateway down, and wait until the JVM
    and every other process it started (the Python worker daemon and its
    workers) have exited."""
    from pyspark import SparkContext

    started = process_tree()[1:]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
