"""Stream benchmark: ``backfill`` and ``live_tail`` against a seeded
Tendermint RPC generator running in its own process.

Run from the repository root::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run: start the generator, then the Spark session on local[nproc], once
and cold (a fresh process launches its JVM, as the CLI does); warm up; measure
for ``--seconds``; with ``--trace 1`` measure again with spans on; check
every output against the generator's manifest; stop everything.
Human-readable lines go first; the last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and the end-to-end
(``--trace 0``) or per-layer (``--trace 1``) metrics.  Spans of a traced run
are written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("backfill", "live_tail")

E2E_UNITS = {
    "setup_s": "s",
    "blocks_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}
LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "setup.session_s": "s",
    "setup.cold_session_s": "s",
    "setup.generator_s": "s",
    "setup.lake_write_s": "s",
    "setup.warmup_s": "s",
    "sources.partitions": "count",
    "sources.read_s": "s",
    "rpc.requests_per_block": "count",
    "rpc.connections": "count",
    "rpc.status_polls": "count",
    "generator.late_ms_max": "ms",
    "operators.enrich_s": "s",
    "operators.txmeta_s": "s",
    "sinks.splay_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_skipped": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.sink_ms_p50": "ms",
    "streaming.stop_errors": "count",
    "lake.files_per_query": "count",
    "lake.jobs_per_query": "count",
    "lake.tasks_per_query": "count",
    "lake.meta_ms_p50": "ms",
    "lake.events_ms_p50": "ms",
    "lake.errors_ms_p50": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.overhead_pct": "%",
}


class Context:
    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.stderr_log = os.path.join(work, "stderr.log")
        self.spark = None
        self.gen = None


def _overhead_pct(name: str, plain: dict, traced: dict) -> float:
    """How much worse the traced run's headline number is, in percent."""
    if name == "backfill":
        return (plain["blocks_per_s"] / traced["blocks_per_s"] - 1.0) * 100.0
    return (traced["latency_p50_ms"] / plain["latency_p50_ms"] - 1.0) * 100.0


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from harness import Generator, RssSampler, Tracer, start_session, stop_session
    from workloads import WORKLOADS

    rss = RssSampler().start()
    ctx = Context(work, seed, seconds, trace)
    wl = WORKLOADS[name](ctx)
    try:
        t0 = time.perf_counter()
        ctx.gen = Generator(os.path.join(work, "gen"), seed, wl.chain,
                            head=wl.initial_head, dump=wl.dump)
        rss.exclude.add(ctx.gen.proc.pid)
        t1 = time.perf_counter()
        ctx.spark = start_session(work)
        generator_s, session_s = t1 - t0, time.perf_counter() - t1

        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        wl.measure(seconds)
        if trace:
            tracer = Tracer()
            wl.measure(seconds, tracer)
        attempted, failed, notes = wl.finish()
        plain, traced = (wl.results + [None])[:2]
    finally:
        if ctx.gen is not None:
            ctx.gen.stop()
        if ctx.spark is not None:
            stop_session(ctx.spark)
        peak_mb = rss.stop()

    # set-up time is the program's: the benchmark's own generator is a layer
    # metric, not part of setup_s
    e2e = dict(plain["e2e"], setup_s=session_s)
    layers = {k: 0 for k in LAYER_UNITS}
    layers.update({
        "process.peak_rss_mb": peak_mb,
        "setup.session_s": session_s,
        "setup.cold_session_s": session_s,
        "setup.generator_s": generator_s,
        "setup.warmup_s": warmup_s,
    })
    if trace:
        layers.update(traced["layers"])
        layers["trace.overhead_pct"] = _overhead_pct(name, plain["e2e"], traced["e2e"])
        tracer.write(os.path.join(ROOT, ".bench_out", f"spans-{name}-seed{seed}.json"))
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "notes": notes}


def main() -> int:
    ap = argparse.ArgumentParser(description="event-stream stream benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"],
                    help="one workload, or all of them one after another")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import event_stream_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        print(f"event_stream_spark is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload == "all":
        rc = 0
        for name in WORKLOAD_NAMES:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            rc = max(rc, subprocess.run(cmd).returncode)
        return rc

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the package from the checkout; every
    # temporary file stays inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # stderr (ours and the JVM's) goes to a log the workloads can scan for
    # stream-thread errors; it is copied back to stderr at the end
    log_path = os.path.join(work, "stderr.log")
    saved_fd = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.dup2(saved_fd, 2)
        os.close(saved_fd)
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read())
        shutil.rmtree(work, ignore_errors=True)

    for key, unit in E2E_UNITS.items():
        print(f"{args.workload} {key} {res['e2e'][key]:.4f} {unit}")
    print(f"{args.workload} peak_rss_mb {res['layers']['process.peak_rss_mb']:.4f} MB")
    error_rate = res["failed"] / max(res["attempted"], 1)
    print(f"{args.workload} error_rate {error_rate:.4f} ratio "
          f"({res['failed']} of {res['attempted']} failed)")
    if args.trace:
        for key, unit in LAYER_UNITS.items():
            print(f"{args.workload} {key} {res['layers'][key]:.4f} {unit}")
    for note in res["notes"][:20]:
        print(f"{args.workload} note: {note}")

    chosen = LAYER_UNITS if args.trace else E2E_UNITS
    source = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": source[k], "unit": u} for k, u in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
