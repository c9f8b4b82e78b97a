"""Shared benchmark plumbing: generator process handle, Spark session set-up,
/proc RSS sampler, span tracer, job-group counters and small statistics.

Nothing here imports ``event_stream_spark`` at module load; the session
factory is imported inside :func:`start_session` so a checkout without the
package fails there, before any result is printed.
"""

from __future__ import annotations

import json
import math
import os
import select
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
NPROC = len(os.sched_getaffinity(0))
#: how long the generator may take to render its chain and start listening
GENERATOR_READY_S = 120.0
#: how often the memory sampler reads /proc
RSS_INTERVAL_S = 0.2
#: how long stopping the session may wait for the JVM and its Python workers
STOP_TIMEOUT_S = 30.0


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5) if values else 0.0


# ---------------------------------------------------------------------------
# Generator process
# ---------------------------------------------------------------------------

class Generator:
    """The seeded chain generator (``chaingen.py``) as a child process."""

    def __init__(self, work: str, seed: int, count: int, *, head: int | None = None,
                 dump: bool = False):
        os.makedirs(work, exist_ok=True)
        self.manifest_path = os.path.join(work, "manifest.json")
        self.dump_dir = os.path.join(work, "chain") if dump else None
        cmd = [sys.executable, os.path.join(HERE, "chaingen.py"), "--seed", str(seed),
               "--count", str(count), "--manifest", self.manifest_path]
        if head is not None:
            cmd += ["--head", str(head)]
        if self.dump_dir:
            cmd += ["--dump", self.dump_dir]
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        try:
            ready, _, _ = select.select([self.proc.stdout], [], [], GENERATOR_READY_S)
            line = self.proc.stdout.readline() if ready else ""
            if not line.startswith("READY "):
                raise RuntimeError(f"chain generator did not start: {line!r}")
        except BaseException:
            self.stop()
            raise
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"
        self._manifest: dict | None = None

    @property
    def manifest(self) -> dict:
        if self._manifest is None:
            with open(self.manifest_path) as fh:
                self._manifest = json.load(fh)
        return self._manifest

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=10) as resp:
            return json.loads(resp.read())

    def stats(self) -> dict:
        return self._get("/bench/stats")

    def advance(self, rate: float, count: int) -> None:
        self._get(f"/bench/advance?rate={rate}&count={count}")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def rpc_delta(before: dict, after: dict) -> dict:
    """Generator counters accrued between two ``stats()`` snapshots."""
    req = {k: after["requests"][k] - before["requests"][k] for k in after["requests"]}
    return {
        "status": req["status"],
        "requests": sum(req.values()),
        "connections": after["connections"] - before["connections"],
    }


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def start_session(work: str):
    """``session.get_spark`` on local[nproc], with every scratch path inside
    the work directory."""
    from event_stream_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        cpus=NPROC,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stops the session, then the JVM, and waits until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + STOP_TIMEOUT_S
    while _children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


class JobCounter:
    """Jobs and tasks per job group, from ``SparkContext.statusTracker()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, tasks, tasks of the first stage of the first job)."""
        jobs = sorted(self.tracker.getJobIdsForGroup(group))
        tasks, first = 0, 0
        for i, jid in enumerate(jobs):
            info = self.tracker.getJobInfo(jid)
            stage_ids = sorted(info.stageIds) if info else []
            for k, sid in enumerate(stage_ids):
                st = self.tracker.getStageInfo(sid)
                n = st.numTasks if st else 0
                tasks += n
                if i == 0 and k == 0:
                    first = n
        return len(jobs), tasks, first


# ---------------------------------------------------------------------------
# /proc resident-memory sampler
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _resident_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes sharing them, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), excluding the generator's subtree, sampled from /proc."""

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        kids = _children_map()
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            total += _resident_kb(pid)
            stack.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent and trace id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._next = 0

    def add(self, name: str, start: float, end: float, *, parent: int | None = None,
            trace: int | None = None, **attrs) -> int:
        self._next += 1
        self.spans.append({"id": self._next, "name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace if trace is not None else self._next,
                           **attrs})
        return self._next

    @contextmanager
    def span(self, name: str, *, parent: int | None = None, trace: int | None = None, **attrs):
        """Times the block; yields the span id (assigned before the body runs)."""
        self._next += 1
        sid = self._next
        rec = {"id": sid, "name": name, "start": time.time(), "end": None, "parent": parent,
               "trace": trace if trace is not None else sid, **attrs}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.time()

    def self_times(self, name: str) -> list[float]:
        """Duration minus the part covered by child spans, per span called ``name``."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
