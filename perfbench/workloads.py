"""The workloads, ``backfill`` and ``live_tail``, and the ``sources.blocks``
probe that backfill's traced run adds.

Each workload object is driven by ``run.py`` in the same order:
``warm_up()`` once, ``measure(seconds, tracer)`` once untraced and, in a
traced run, once more with a :class:`harness.Tracer`, then ``finish()``,
which checks every output against the generator's manifest outside any
timed region and returns ``(attempted, failed, notes)``.  After ``finish``,
``results`` holds one ``{"e2e": {...}, "layers": {...}}`` per measure.
Layer metrics a workload does not exercise are left out (``run.py`` reports
them as 0).
"""

from __future__ import annotations

import json
import os
import random
import time
from datetime import datetime

from pyspark.errors import StreamingQueryException

from harness import JobCounter, median, quantile, rpc_delta

#: backfill: chain length and heights per bounded job (20 pages of the
#: source's default page size); ranges cycle through the chain
BACKFILL_CHAIN = 3000
BACKFILL_JOB = 400
#: live_tail: historical warm-up leg (ten source partitions, so every Python
#: worker has started before the window), open-loop block rate, live warm-up
#: (per-batch cost falls by ~10% over the first ~8 s of the live tail)
#: and how long after a window a block may still land.  The combined flow's
#: backlog grew at 80 blocks/s and held at 40 on 4 cores; 20 is half the
#: lower figure, so a slower host does not push the run near saturation,
#: where latency stops tracking per-batch cost
LIVE_HISTORY = 200
LIVE_RATE = 20.0
LIVE_WARMUP_S = 8.0
LIVE_DRAIN_S = 20.0
LIVE_WATERMARK = "10 minutes"
#: catch-up: after the windows this many blocks are produced at once, and
#: live_tail's blocks_per_s is how fast the flow drains them (each may take
#: up to LIVE_CATCHUP_S to land).  The open loop cannot show capacity: below
#: saturation each micro-batch takes what arrived during the last one, so
#: blocks ÷ busy time reads the offered rate
LIVE_BURST = 400
LIVE_CATCHUP_S = 60.0
#: lake probe: height-bucket size, query kinds and range widths (narrow and
#: the whole backfill chain)
LAKE_BUCKET = 500
LAKE_KINDS = ("meta", "events", "errors")
LAKE_WIDTHS = (100, BACKFILL_CHAIN)


def _splay_check(out_dir: str, manifest: dict, historical: bool) -> dict[int, float]:
    """Every splay file under ``out_dir`` whose payload matches the manifest
    → {height: file mtime}.  A file with the wrong height, flag or event
    counts is left out, so its height counts as failed."""
    good: dict[int, float] = {}
    expected = manifest["expected"]
    for root, _dirs, files in os.walk(out_dir):
        for name in files:
            if not name.endswith(".json"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                block = json.load(fh)
            h = block.get("height")
            exp = expected.get(str(h))
            if exp is None or int(name[:-5]) != h or block.get("historical") is not historical:
                continue
            fees: dict[str, int] = {}
            for err in block.get("tx_errors") or []:
                fees[err["denom"]] = fees.get(err["denom"], 0) + int(err["fee"])
            if (
                len(block.get("block_events") or []) == exp["block_events"]
                and len(block.get("tx_events") or []) == exp["tx_events"]
                and len(block.get("tx_errors") or []) == exp["tx_errors"]
                and fees == exp["error_fees"]
            ):
                good[h] = os.stat(path).st_mtime
    return good


def _dir_bytes(out_dir: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(out_dir):
        for name in names:
            if name.endswith(".json"):
                files += 1
                size += os.stat(os.path.join(root, name)).st_size
    return files, size


def _latencies(values: list[float]) -> dict:
    return {
        "latency_p50_ms": quantile(values, 0.5) if values else 0.0,
        "latency_p90_ms": quantile(values, 0.9) if values else 0.0,
    }


# ---------------------------------------------------------------------------
# backfill — closed loop of bounded CLI --batch jobs
# ---------------------------------------------------------------------------

class Backfill:
    chain = BACKFILL_CHAIN
    initial_head = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.dump = ctx.trace  # the lake probe writes its lake from the chain dump
        self.jobs: list[dict] = []  # every job: range, out dir, submit time
        self.results: list[dict] = []
        self.probe = LakeProbe(ctx) if ctx.trace else None
        self._lo = 1
        self._n = 0

    def _next_range(self, size: int) -> tuple[int, int]:
        if self._lo + size - 1 > self.chain:
            self._lo = 1
        lo, hi = self._lo, self._lo + size - 1
        self._lo = hi + 1
        return lo, hi

    def _out_dir(self) -> str:
        self._n += 1
        return os.path.join(self.ctx.work, "out", f"backfill-{self._n}")

    def _job(self, lo: int, hi: int, out: str) -> None:
        from event_stream_spark.sinks.splay import write_splayed_json_batch
        from event_stream_spark.streaming.combined import historical_stream

        df = historical_stream(
            self.ctx.spark, lo, hi, streaming=False, backend="http", rpc_url=self.ctx.gen.url
        )
        write_splayed_json_batch(df, out)

    def warm_up(self) -> None:
        # one full-size job pays the one-off start-up costs and lets the JIT
        # settle on the measured path
        lo, hi = self._next_range(BACKFILL_JOB)
        self._job(lo, hi, self._out_dir())

    def _staged_job(self, lo: int, hi: int, out: str, tracer, counter: JobCounter, n: int):
        """One job as three materialized stages, so each stage's self time is
        direct.  Returns the raw read and the job's span id."""
        from event_stream_spark.operators.flatten import assemble_stream_blocks
        from event_stream_spark.sinks.splay import write_splayed_json_batch
        from event_stream_spark.sources import blockstream
        from event_stream_spark.streaming.combined import parse_source_rows

        spark = self.ctx.spark
        blockstream.register(spark)
        with tracer.span("backfill.job", lo=lo, hi=hi) as root:
            counter.set_group(f"bf{n}.read")
            with tracer.span("sources.blockstream.read", parent=root, trace=root):
                raw = (
                    spark.read.format("blockstream")
                    .options(backend="http", rpc_url=self.ctx.gen.url,
                             from_height=str(lo), to_height=str(hi))
                    .load()
                    .localCheckpoint()
                )
            counter.set_group(f"bf{n}.enrich")
            with tracer.span("operators.enrich", parent=root, trace=root):
                enriched = assemble_stream_blocks(
                    parse_source_rows(raw), historical=True, decode_tx_meta=True
                ).localCheckpoint()
            counter.set_group(f"bf{n}.splay")
            with tracer.span("sinks.splay", parent=root, trace=root):
                write_splayed_json_batch(enriched, out)
        return raw, root

    def _enrich_no_txmeta(self, raw, root: int, tracer, counter: JobCounter, n: int) -> None:
        """The tx_meta share: the job's enrich again without the protobuf
        decode, run after the job's end is taken so it is not counted in it."""
        from event_stream_spark.operators.flatten import assemble_stream_blocks
        from event_stream_spark.streaming.combined import parse_source_rows

        counter.set_group(f"bf{n}.enrich_no_txmeta")
        with tracer.span("operators.enrich_no_txmeta", trace=root):
            assemble_stream_blocks(
                parse_source_rows(raw), historical=True, decode_tx_meta=False
            ).localCheckpoint()

    def measure(self, seconds: float, tracer=None) -> None:
        gen, counter = self.ctx.gen, JobCounter(self.ctx.spark)
        before = gen.stats()
        phase = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            lo, hi = self._next_range(BACKFILL_JOB)
            job = {"lo": lo, "hi": hi, "out": self._out_dir(), "traced": tracer is not None}
            job["submit"] = time.time()
            n, staged = len(self.jobs), None
            try:
                if tracer is None:
                    self._job(lo, hi, job["out"])
                else:
                    staged = self._staged_job(lo, hi, job["out"], tracer, counter, n)
            except Exception as exc:  # a failed job fails its blocks; the loop goes on
                job["error"] = repr(exc)
            job["done"] = time.time()
            phase.append(job)
            self.jobs.append(job)
            if staged is not None:
                self._enrich_no_txmeta(*staged, tracer, counter, n)
        rpc = rpc_delta(before, gen.stats())

        heights = sum(j["hi"] - j["lo"] + 1 for j in phase)
        wall = sum(j["done"] - j["submit"] for j in phase)
        lat = []
        for j in phase:
            for root, _dirs, names in os.walk(j["out"]):
                lat.extend((os.stat(os.path.join(root, f)).st_mtime - j["submit"]) * 1000.0
                           for f in names if f.endswith(".json"))
        e2e = {"blocks_per_s": heights / wall, **_latencies(lat)}
        layers = {}
        if tracer is not None:
            files, size = zip(*(_dir_bytes(j["out"]) for j in phase))
            groups = [f"bf{i}.{s}" for i in range(len(self.jobs) - len(phase), len(self.jobs))
                      for s in ("read", "enrich", "splay")]
            counts = [counter.counts(g) for g in groups]
            with_meta = tracer.self_times("operators.enrich")
            no_meta = tracer.self_times("operators.enrich_no_txmeta")
            layers = {
                "sources.partitions": median([c[1] for c in counts[0::3]]),
                "sources.read_s": median(tracer.self_times("sources.blockstream.read")),
                "operators.enrich_s": median(with_meta),
                "operators.txmeta_s": median(with_meta) - median(no_meta),
                "sinks.splay_s": median(tracer.self_times("sinks.splay")),
                "sinks.files_written": sum(files),
                "sinks.bytes_written": sum(size),
                "sinks.files_skipped": heights - sum(files),
                "spark.jobs": sum(c[0] for c in counts),
                "spark.tasks": sum(c[1] for c in counts),
                **self.probe.run(tracer),
            }
        layers.update({
            "rpc.requests_per_block": rpc["requests"] / heights,
            "rpc.connections": rpc["connections"],
            "rpc.status_polls": rpc["status"],
        })
        self.results.append({"e2e": e2e, "layers": layers})

    def finish(self) -> tuple[int, int, list[str]]:
        attempted = failed = 0
        manifest = self.ctx.gen.manifest
        for job in self.jobs:
            want = set(range(job["lo"], job["hi"] + 1))
            good = _splay_check(job["out"], manifest, historical=True)
            attempted += len(want)
            failed += len(want - set(good))
        notes = [j["error"] for j in self.jobs if "error" in j]
        if self.probe is not None:
            probe_attempted, probe_failed, probe_notes = self.probe.check()
            attempted += probe_attempted
            failed += probe_failed
            notes += probe_notes
        return attempted, failed, notes


# ---------------------------------------------------------------------------
# live_tail — open-loop head advance, combined historical ∪ live flow
# ---------------------------------------------------------------------------

def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class LiveTail:
    initial_head = LIVE_HISTORY
    dump = False

    def __init__(self, ctx):
        self.ctx = ctx
        phases = 2 if ctx.trace else 1
        self.ticks = int(LIVE_RATE * (LIVE_WARMUP_S + phases * ctx.seconds + 1))
        self.chain = LIVE_HISTORY + self.ticks + LIVE_BURST
        self.out = os.path.join(ctx.work, "out", "live")
        self.sink_calls: dict[int, dict] = {}  # traced foreachBatch calls by batch id
        self.phases: list[dict] = []
        self.results: list[dict] = []
        self.query = None
        self._tracer = None
        self._counter = None

    def _sink(self, df, batch_id: int) -> None:
        from event_stream_spark.sinks.splay import write_splayed_json_batch

        if self._tracer is None:
            write_splayed_json_batch(df, self.out)
            return
        self._counter.set_group(f"mb{batch_id}")
        files, size = _dir_bytes(self.out)
        t0 = time.time()
        write_splayed_json_batch(df, self.out)
        t1 = time.time()
        files_after, size_after = _dir_bytes(self.out)
        self.sink_calls[batch_id] = {"start": t0, "end": t1, "files": files_after - files,
                                     "bytes": size_after - size}

    def warm_up(self) -> None:
        from event_stream_spark.streaming.combined import combined_block_stream

        spark = self.ctx.spark
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        self._counter = JobCounter(spark)
        stream = combined_block_stream(
            spark, 1, LIVE_HISTORY, watermark=LIVE_WATERMARK,
            backend="http", rpc_url=self.ctx.gen.url,
        )
        self.query = (
            stream.writeStream.option("checkpointLocation", os.path.join(self.ctx.work, "ckpt"))
            .foreachBatch(self._sink)
            .start()
        )
        deadline = time.time() + 120
        while _dir_bytes(self.out)[0] < LIVE_HISTORY:
            if time.time() > deadline or self.query.exception() is not None:
                raise RuntimeError("historical leg of the combined flow did not land")
            time.sleep(0.1)
        self.ticks_end = time.time() + self.ticks / LIVE_RATE
        self.ctx.gen.advance(LIVE_RATE, self.ticks)
        time.sleep(LIVE_WARMUP_S)

    def measure(self, seconds: float, tracer=None) -> None:
        """Records the window; its metrics are computed by finish(), after the drain."""
        gen = self.ctx.gen
        before = gen.stats()
        self._tracer = tracer
        t0 = time.time()
        time.sleep(seconds)
        t1 = time.time()
        self._tracer = None
        after = gen.stats()
        rpc = rpc_delta(before, after)
        due = {int(h): d for h, d in after["due"].items() if t0 <= d < t1}
        self.phases.append({"window": (t0, t1), "due": due, "rpc": rpc, "tracer": tracer,
                            "late_ms_max": after["late_ms_max"]})

    def _wait_landed(self, heights: set[int], deadline: float) -> bool:
        while time.time() < deadline and self.query.exception() is None:
            if heights <= _splay_check_heights(self.out):
                return True
            time.sleep(0.2)
        return False

    def _catch_up(self) -> None:
        """Once every ticked block has landed (so the ticker is done) and the
        flow is idle, produces ``LIVE_BURST`` blocks at once and waits until
        they land."""
        first = LIVE_HISTORY + self.ticks + 1
        self.burst = set(range(first, first + LIVE_BURST))
        self.burst_deadline = time.time()
        if self._wait_landed(set(range(LIVE_HISTORY + 1, first)), self.ticks_end + LIVE_DRAIN_S):
            try:
                self.query.processAllAvailable()  # the last ticked batch commits
            except StreamingQueryException:  # reported by _stop(); the burst fails
                return
            self.ctx.gen.advance(1e6, LIVE_BURST)  # all due at once
            self.burst_deadline = time.time() + LIVE_CATCHUP_S
            self._wait_landed(self.burst, self.burst_deadline)

    def _stop(self) -> list[str]:
        # read the outcome before stop(): a failure during the run shows
        # here and as missing blocks; errors raised by stopping do not
        notes = []
        exc = self.query.exception()
        last = self.query.lastProgress
        if exc is not None:
            batch = last["batchId"] if last else None
            notes.append(f"stream failed during the run after batch {batch}: "
                         f"{str(exc).splitlines()[0]}")
        self.progress = [json.loads(p.json) for p in self.query.recentProgress]
        run_errors = _stream_thread_errors(self.ctx.stderr_log)
        try:
            self.query.stop()
        except Exception as stop_exc:
            notes.append(f"stop() raised: {stop_exc!r}")
        stop_errors = _stream_thread_errors(self.ctx.stderr_log)[len(run_errors):]
        notes += [f"stream thread error during the run: {e}" for e in run_errors]
        notes += [f"stream thread error at stop (not a block failure): {e}" for e in stop_errors]
        self.stop_errors = len(stop_errors)
        return notes

    def _complete(self, phase: dict, good: dict[int, float], catch_up: float) -> dict:
        t0, t1 = phase["window"]
        lat = [(good[h] - d) * 1000.0 for h, d in phase["due"].items() if h in good]
        batches = [p for p in self.progress
                   if p.get("numInputRows", 0) > 0 and t0 <= _epoch(p["timestamp"]) < t1]
        e2e = {"blocks_per_s": catch_up, **_latencies(lat)}
        blocks = max(len(phase["due"]), 1)
        layers = {
            "rpc.requests_per_block": phase["rpc"]["requests"] / blocks,
            "rpc.connections": phase["rpc"]["connections"],
            "rpc.status_polls": phase["rpc"]["status"],
            "generator.late_ms_max": phase["late_ms_max"],
            "streaming.stop_errors": self.stop_errors,
        }
        tracer = phase["tracer"]
        if tracer is not None:
            layers.update(self._stream_layers(tracer, batches, t0, t1))
        return {"e2e": e2e, "layers": layers}

    def _stream_layers(self, tracer, batches: list[dict], t0: float, t1: float) -> dict:
        counter = self._counter
        dur = lambda key: [p["durationMs"].get(key, 0) for p in batches]
        state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
        sink_ms, counts, files, size, skipped = [], [], 0, 0, 0
        window = tracer.add("live_tail.window", t0, t1)
        for p in batches:
            start = _epoch(p["timestamp"])
            mb = tracer.add("streaming.microbatch", start,
                            start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
                            parent=window, batch=p["batchId"], rows=p["numInputRows"])
            call = self.sink_calls.get(p["batchId"])
            if call is not None:
                tracer.add("sinks.splay", call["start"], call["end"], parent=mb, trace=mb)
                sink_ms.append((call["end"] - call["start"]) * 1000.0)
                counts.append(counter.counts(f"mb{p['batchId']}"))
                files += call["files"]
                size += call["bytes"]
                skipped += p["numInputRows"] - call["files"]
        return {
            "sources.partitions": median([c[2] for c in counts]),
            "sinks.splay_s": sum(sink_ms) / 1000.0,
            "sinks.files_written": files,
            "sinks.bytes_written": size,
            "sinks.files_skipped": skipped,
            "streaming.batches": len(batches),
            "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in batches]),
            "streaming.trigger_ms_p50": median(dur("triggerExecution")),
            "streaming.add_batch_ms_p50": median(dur("addBatch")),
            "streaming.latest_offset_ms_p50": median(dur("latestOffset")),
            "streaming.planning_ms_p50": median(dur("queryPlanning")),
            "streaming.commit_ms_p50": median(
                [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]),
            "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.state_bytes": state[-1]["memoryUsedBytes"] if state else 0,
            "streaming.state_commit_ms_p50": median([s["commitTimeMs"] for s in state]),
            "streaming.sink_ms_p50": median(sink_ms),
            "spark.jobs": sum(c[0] for c in counts),
            "spark.tasks": sum(c[1] for c in counts),
        }

    def finish(self) -> tuple[int, int, list[str]]:
        want_live = {h for p in self.phases for h in p["due"]}
        last_due = max((d for p in self.phases for d in p["due"].values()), default=time.time())
        deadline = last_due + LIVE_DRAIN_S
        self._catch_up()
        notes = self._stop()
        manifest, due = self.ctx.gen.manifest, self.ctx.gen.stats()["due"]
        hist = _splay_check(self.out, manifest, historical=True)
        live = _splay_check(self.out, manifest, historical=False)
        landed = {h: m for h, m in live.items() if h in want_live and m <= deadline}
        caught = {h: m for h, m in live.items() if h in self.burst and m <= self.burst_deadline}
        # blocks of the burst that landed ÷ time from their due time to the last
        catch_up = 0.0
        if caught:
            start = min(due[str(h)] for h in self.burst)
            catch_up = len(caught) / (max(caught.values()) - start)
        self.results = [self._complete(p, landed, catch_up) for p in self.phases]
        want_hist = set(range(1, LIVE_HISTORY + 1))
        attempted = len(want_live) + len(want_hist) + len(self.burst)
        failed = (len(want_live - set(landed)) + len(want_hist - set(hist))
                  + len(self.burst - set(caught)))
        return attempted, failed, notes


def _stream_thread_errors(log_path: str) -> list[str]:
    """JVM stream-execution-thread exceptions logged to stderr so far."""
    marker = 'Exception in thread "stream execution thread'
    with open(log_path, errors="replace") as fh:
        return [line.split('"')[-1].strip() for line in fh if marker in line]


def _splay_check_heights(out_dir: str) -> set[int]:
    return {int(n[:-5]) for _r, _d, names in os.walk(out_dir) for n in names if n.endswith(".json")}


# ---------------------------------------------------------------------------
# sources.blocks probe — range queries over a block lake (traced backfill)
# ---------------------------------------------------------------------------

class LakeProbe:
    """Measures ``sources.blocks`` in backfill's traced run: the generator's
    chain written by ``write_block_lake``, then every query kind over a
    narrow and a whole-lake range, twice, at seeded positions."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.lake = os.path.join(ctx.work, "lake")
        self.queries: list[dict] = []

    def _frame(self, kind: str, lo: int, hi: int):
        from pyspark.sql import functions as F

        from event_stream_spark.operators.flatten import explode_tx_errors, explode_tx_events
        from event_stream_spark.sources.blocks import historical_block_data, historical_block_meta

        spark = self.ctx.spark
        if kind == "meta":
            return historical_block_meta(spark, self.lake, lo, hi, bucket_size=LAKE_BUCKET).filter(
                F.col("num_txs") > 0).agg(F.count(F.lit(1)).alias("n"))
        if kind == "events":
            data = historical_block_data(spark, self.lake, lo, hi, bucket_size=LAKE_BUCKET,
                                         decode_tx_meta=False)
            return explode_tx_events(data).groupBy("event_type").count()
        data = historical_block_data(spark, self.lake, lo, hi, bucket_size=LAKE_BUCKET)
        return explode_tx_errors(data).groupBy("denom").agg(F.sum("fee"))

    @staticmethod
    def _answer(kind: str, rows) -> object:
        if kind == "meta":
            return rows[0][0]
        return {r[0]: int(r[1]) for r in rows}

    def run(self, tracer) -> dict:
        from event_stream_spark.operators.flatten import block_results_from_rpc, blocks_from_rpc
        from event_stream_spark.sources.blocks import write_block_lake

        spark, dump, chain = self.ctx.spark, self.ctx.gen.dump_dir, BACKFILL_CHAIN
        counter = JobCounter(spark)
        t0 = time.perf_counter()
        write_block_lake(
            blocks_from_rpc(spark.read.text(os.path.join(dump, "blocks")), "value"),
            block_results_from_rpc(spark.read.text(os.path.join(dump, "block_results")), "value"),
            self.lake,
            bucket_size=LAKE_BUCKET,
        )
        lake_write_s = time.perf_counter() - t0
        for kind in LAKE_KINDS:  # warm-up, untimed
            self._frame(kind, 1, LAKE_WIDTHS[0]).collect()
        plan = [(k, w) for _ in range(2) for w in LAKE_WIDTHS for k in LAKE_KINDS]
        self.rng.shuffle(plan)
        for kind, width in plan:
            lo = self.rng.randint(1, chain - width + 1)
            q = {"kind": kind, "lo": lo, "hi": lo + width - 1, "i": len(self.queries)}
            counter.set_group(f"lake{q['i']}")
            start = time.time()
            try:
                frame = self._frame(kind, q["lo"], q["hi"])
                q["answer"] = self._answer(kind, frame.collect())
                end = time.time()
                q["files"] = len(frame.inputFiles())
            except Exception as exc:  # a failed query counts as failed
                q["error"] = repr(exc)
                end = time.time()
                q["files"] = 0
            q["ms"] = (end - start) * 1000.0
            tracer.add("sources.blocks.query", start, end, kind=kind, lo=q["lo"], hi=q["hi"])
            self.queries.append(q)
        counts = [counter.counts(f"lake{q['i']}") for q in self.queries]
        by_kind = lambda k: median([q["ms"] for q in self.queries if q["kind"] == k])
        return {
            "setup.lake_write_s": lake_write_s,
            "lake.files_per_query": median([q["files"] for q in self.queries]),
            "lake.jobs_per_query": median([c[0] for c in counts]),
            "lake.tasks_per_query": median([c[1] for c in counts]),
            "lake.meta_ms_p50": by_kind("meta"),
            "lake.events_ms_p50": by_kind("events"),
            "lake.errors_ms_p50": by_kind("errors"),
        }

    def _expected(self, kind: str, lo: int, hi: int) -> object:
        exp = self.ctx.gen.manifest["expected"]
        rows = [exp[str(h)] for h in range(lo, hi + 1)]
        if kind == "meta":
            return sum(1 for r in rows if r["txs"] > 0)
        key = "tx_event_types" if kind == "events" else "error_fees"
        out: dict[str, int] = {}
        for r in rows:
            for k, v in r[key].items():
                out[k] = out.get(k, 0) + v
        return out

    def check(self) -> tuple[int, int, list[str]]:
        """Each answer against the one computed from the manifest."""
        failed, notes = 0, []
        for q in self.queries:
            if "error" in q:
                failed += 1
                notes.append(q["error"])
            elif q["answer"] != self._expected(q["kind"], q["lo"], q["hi"]):
                failed += 1
                notes.append(f"wrong answer for {q['kind']} [{q['lo']}, {q['hi']}]")
        return len(self.queries), failed, notes


WORKLOADS = {"backfill": Backfill, "live_tail": LiveTail}
