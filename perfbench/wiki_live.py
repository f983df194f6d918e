"""wiki_live: the reference's purpose, end to end.

A separate generator process (sse_server.py) serves seeded
Wikimedia-shaped recentchange events over one SSE connection on an
open-loop schedule: LATENCY_RATE ev/s, then OVERLOAD_RATE ev/s. The
engine runs the v2 path assembled from its public functions, as
tests/test_wiki_pipeline.py assembles it: ``format("sse")`` ->
``parse_raw`` -> ``transform`` -> ``streaming_dedup`` ->
``ingest_with_retention(available_now=False)`` with a row cap small
enough that retention rewrites fire during the run. Meanwhile the main
thread polls ``sink_metrics`` + ``metrics_delta`` as ``cmd_dashboard``
does, in a closed loop with a POLL_PAUSE_S think time.

Latency needs no data read on the hot path: the feed is one ordered
partition, so the cumulative ``numInputRows`` of the query's progress
maps each micro-batch to a range of event sequence numbers
(stats.map_batches), and the batch ends at timestamp +
``durationMs.triggerExecution``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import gen
import stats
from harness import HERE, CheckFailed, peak_rss_mb

WARMUP_EVENTS = 1000  # one full drain at the reader's default maxEventsPerBatch
LATENCY_RATE = 400.0  # 10x the Wikimedia peak of 40 ev/s
OVERLOAD_RATE = 4000.0  # the BASELINE 100x bar
LATENCY_SHARE, OVERLOAD_SHARE = 1.0, 0.25  # of --seconds spent at each rate
RETENTION_CAP = 2500
WATERMARK = "1 minute"
POLL_PAUSE_S = 0.5
DRAIN_TIMEOUT_S = 90.0
TS_COL = "event_timestamp"


def schedule(seconds: int) -> list[tuple[float, float]]:
    return [(LATENCY_RATE, LATENCY_SHARE * seconds), (OVERLOAD_RATE, OVERLOAD_SHARE * seconds)]


def inputs(seed: int, seconds: int) -> tuple[list[str], list[float], list[int]]:
    """All SSE payload lines in send order (warm-up first), the
    scheduled events' due offsets, and each rate step's first index."""
    offsets, starts = gen.schedule_offsets(schedule(seconds))
    return gen.wiki_lines(seed, [0.0] * WARMUP_EVENTS + offsets), offsets, starts


class Generator:
    """The sse_server.py process and its control pipe."""

    def __init__(self, seed: int, seconds: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sse_server.py"), "--seed", str(seed),
             "--seconds", str(seconds)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.port = int(self._expect("PORT"))

    def _expect(self, tag: str) -> str:
        line = self.proc.stdout.readline()
        if not line.startswith(tag + " "):
            raise RuntimeError(f"generator: expected {tag}, got {line!r}")
        return line[len(tag) + 1:].strip()

    def go(self) -> float:
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()
        return float(self._expect("GO"))

    def done(self) -> dict:
        return json.loads(self._expect("DONE"))

    def stop(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
        except BrokenPipeError:
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _progress(q) -> list[dict]:
    return [json.loads(p.json()) for p in q._jsq.recentProgress()]


def _committed(progress: list[dict]) -> int:
    return sum(int(p.get("numInputRows") or 0) for p in progress)


def _install_spans(tracer) -> None:
    from etl_wikipedia_updates_spark.streaming import ingest

    def rows_written(sp, args, kwargs, result):
        path = os.path.join(args[1], f"batch_{args[2]:010d}", ingest.NROWS_SIDECAR)
        with open(path) as fh:
            sp["rows"] = json.load(fh)["n"]

    def rewrote(sp, args, kwargs, result):
        sp["rewrote"] = bool(result)

    tracer.wrap(ingest, "append_batch", "streaming.ingest.append_batch",
                tag_fn=lambda a, k: {"target": "sink", "batch": a[2]}, on_return=rows_written)
    tracer.wrap(ingest, "apply_retention", "streaming.ingest.apply_retention", on_return=rewrote)
    tracer.wrap(ingest, "read_sink", "streaming.ingest.read_sink")


def run(ctx) -> dict:
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    lines, offsets, starts = inputs(ctx.seed, ctx.seconds)
    n_events = len(lines)
    generator = Generator(ctx.seed, ctx.seconds)
    q = None
    try:
        spark = ctx.start_spark()
        from etl_wikipedia_updates_spark.pipeline import DEDUP_KEY, parse_raw, transform
        from etl_wikipedia_updates_spark.sources.sse import register_sse_source
        from etl_wikipedia_updates_spark.streaming import ingest

        if ctx.tracer is not None:
            _install_spans(ctx.tracer)
        if not register_sse_source(spark):
            raise RuntimeError("the Python Data Source API is unavailable")
        sink = ctx.path("sink")
        stream = (
            spark.readStream.format("sse")
            .option("url", f"http://127.0.0.1:{generator.port}/v2/stream/recentchange")
            .load()
        )
        deduped = ingest.streaming_dedup(transform(parse_raw(stream)), DEDUP_KEY, TS_COL, WATERMARK)
        t_warm = time.time()
        q = ingest.ingest_with_retention(
            deduped, sink, ctx.path("ckpt"), max_rows=RETENTION_CAP, ts_col=TS_COL,
            available_now=False,
        )
        while _committed(_progress(q)) < WARMUP_EVENTS:
            if q.exception() is not None or time.time() - t_warm > 120:
                raise RuntimeError(f"warm-up trigger did not commit: {q.exception()}")
            time.sleep(0.05)
        prev = ingest.sink_metrics(spark, sink, TS_COL)  # first poll: untimed warm-up
        warmup_s = time.time() - t_warm
        ctx.mark_ready()

        origin = generator.go()
        due = [origin] * WARMUP_EVENTS + [origin + o for o in offsets]
        deadline = due[-1] + DRAIN_TIMEOUT_S
        sc = spark.sparkContext
        polls: list[float] = []
        poll_failures = 0
        progress = _progress(q)
        while _committed(progress) < n_events and time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"ingest query failed: {q.exception()}")
            sc.setJobDescription(f"wiki_live:poll:{len(polls) + poll_failures}")
            t0 = time.time()
            try:
                cur = ingest.sink_metrics(spark, sink, TS_COL)
                ingest.metrics_delta(prev, cur)
                polls.append(time.time() - t0)
                prev = cur
            except (PySparkException, Py4JJavaError, OSError) as exc:
                poll_failures += 1
                print(f"wiki_live: dashboard poll failed: {exc}", file=sys.stderr)
            sc.setJobDescription(None)
            time.sleep(POLL_PAUSE_S)
            progress = _progress(q)
        gen_stats = generator.done()
        q.stop()
        progress = _progress(q)
    finally:
        if q is not None and q.isActive:
            q.stop()
        generator.stop()

    committed = _committed(progress)
    if committed > n_events:
        raise CheckFailed(f"source delivered {committed} events, {n_events} were sent")
    batches = stats.map_batches(progress, committed)
    w = WARMUP_EVENTS
    lo, hi = w + starts[0], w + starts[1]
    if committed < hi:
        raise RuntimeError(f"only {committed} of {n_events} events committed; no latency sample")
    lat = stats.summarize(stats.event_latencies(batches, due, lo, hi))
    dash = stats.summarize(polls) if polls else None
    capacity = _capacity(batches, due, w + starts[1], origin + offsets[starts[1]])
    sustained, backlog_end = _sustained(batches, due, schedule(ctx.seconds), origin, capacity)

    # dropDuplicatesWithinWatermark emits exactly the rows it adds to state
    rows_out = sum(int(s.get("numRowsUpdated") or 0) for b in batches for s in b["state"])
    result_rows = _check(ctx, spark, sink, lines, rows_out if committed == n_events else None)
    m = {
        "setup_s": ctx.setup_s,
        "session.peak_rss_mb": peak_rss_mb(spark),
        "throughput_per_s": capacity,
        "lat_p50_s": lat["p50"],
        "lat_tail_s": lat["tail"],
    }
    sched = [b for b in batches if b["lo"] >= w]
    named = {
        "live_sustained_eps": (sustained, "events/s"),
        "live_capacity_eps": (capacity, "events/s"),
        "live_lat_p50_s": (lat["p50"], "s"),
        f"live_lat_tail_s (p{lat['tail_pct']:g}, n={lat['n']})": (lat["tail"], "s"),
    }
    if dash:
        named["dash_p50_s"] = (dash["p50"], "s")
        named[f"dash_tail_s (p{dash['tail_pct']:g}, n={dash['n']})"] = (dash["tail"], "s")
    failed = poll_failures + (n_events - committed)
    attempted = (n_events - w) + len(polls) + poll_failures + len(sched)
    named["error_rate"] = (failed / attempted, "fraction")
    named["setup_s"] = (ctx.setup_s, "s")
    named["session.start_s"] = (ctx.session_start_s, "s")
    named["session.warmup_s"] = (warmup_s, "s")
    named["peak_rss_mb"] = (m["session.peak_rss_mb"], "MB")
    ctx.add_report(f"workload wiki_live  seed {ctx.seed}  seconds {ctx.seconds}  "
                   f"trace {int(ctx.trace)}", named)

    d = lambda b, k: b["duration_ms"].get(k, 0)  # noqa: E731
    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    layer = {
        "sources.sse.drain_ms": stats.percentile([d(b, "latestOffset") for b in sched], 50),
        "sources.sse.events_per_trigger": stats.percentile([b["hi"] - b["lo"] for b in sched], 50),
        "sources.sse.backlog_events.r400": backlog_end[0],
        "sources.sse.backlog_events.r4000": backlog_end[1],
        "gen.late_s": gen_stats["late_p99_s"][0],
        "pipeline.rows_in": committed,
        "pipeline.rows_out": rows_out,
        "pipeline.keep_ratio": rows_out / max(1, committed),
        "streaming.ingest.dedup_state_rows": state.get("numRowsTotal", 0),
        "streaming.ingest.dedup_state_mb": state.get("memoryUsedBytes", 0) / 2**20,
        "streaming.add_batch_ms": stats.percentile([d(b, "addBatch") for b in sched], 50),
        "streaming.trigger_overhead_ms": stats.percentile(
            [d(b, "triggerExecution") - d(b, "addBatch") - d(b, "latestOffset") for b in sched], 50),
        "session.start_s": ctx.session_start_s,
        "session.warmup_s": warmup_s,
        "trace.throughput_per_s": capacity,
        "trace.lat_p50_s": lat["p50"],
        "trace.setup_s": ctx.setup_s,
    }
    layer.update(result_rows)
    if ctx.tracer is not None:
        layer.update(_traced(ctx, batches))
    return {"correct": True, "attempted": attempted, "failed": failed, "metrics": {**m, **layer}}


def _capacity(batches, due, first, step_start) -> float:
    """Committed events/s while the source had a backlog: the median,
    over the scheduled batches whose every event was already due when
    their trigger started, of rows / time since the previous batch
    ended. If fewer than two batches were saturated, the engine kept up
    with the overload rate: events of the overload step committed /
    (end of the last batch - step start)."""
    rates = [(b["hi"] - b["lo"]) / (b["end"] - p["end"])
             for p, b in zip(batches, batches[1:])
             if b["lo"] >= first and due[b["hi"] - 1] <= b["start"]]
    if len(rates) >= 2:
        return stats.percentile(rates, 50)
    return (batches[-1]["hi"] - first) / (batches[-1]["end"] - step_start)


def _sustained(batches, due, steps, origin, capacity) -> tuple[float, list[int]]:
    """Highest scheduled rate whose step shows no backlog growth, and
    the backlog (due minus committed) at the end of each step."""
    import bisect

    samples = stats.backlog_at_batch_ends(batches, due)
    ends = [b["end"] for b in batches]
    best, backlog_end = 0.0, []
    t0 = origin
    for rate, dur in steps:
        t1 = t0 + dur
        k = bisect.bisect_right(ends, t1)
        done = batches[k - 1]["hi"] if k else 0
        backlog_end.append(max(0, bisect.bisect_right(due, t1) - done))
        if not stats.backlog_grows([s for s in samples if t0 < s[0] <= t1], rate, capacity):
            best = max(best, rate)
        t0 = t1
    return best, backlog_end


def _check(ctx, spark, sink, lines, rows_out: int | None) -> dict:
    """Sink vs a batch wiki_transform of the same lines: the stream
    emitted one row per distinct natural key (``rows_out``, checked when
    every event was committed), every sink key is in the batch output,
    no key twice, cap <= rows < slack x cap, and the rows kept are the
    newest by event time."""
    from etl_wikipedia_updates_spark.pipeline import DEDUP_KEY, wiki_transform
    from etl_wikipedia_updates_spark.streaming.ingest import (
        RETENTION_SLACK,
        read_sink,
        sink_metrics,
        sink_snapshot,
        _batch_dirs,
    )

    key = lambda r: (r[0], r[1], r[2])  # noqa: E731
    got = [key(r) for r in read_sink(spark, sink).select(*DEDUP_KEY).collect()]
    lines_df = spark.createDataFrame([(l,) for l in lines], "value string")
    want = {key(r) for r in wiki_transform(lines_df).select(*DEDUP_KEY).collect()}
    if rows_out is not None and rows_out != len(want):
        raise CheckFailed(f"streaming dedup emitted {rows_out} rows for {len(want)} distinct keys")
    if len(set(got)) != len(got):
        raise CheckFailed(f"{len(got) - len(set(got))} natural keys appear twice in the sink")
    missing = set(got) - want
    if missing:
        raise CheckFailed(f"{len(missing)} sink keys are not in the batch output, e.g. {next(iter(missing))}")
    if len(want) >= RETENTION_CAP and not RETENTION_CAP <= len(got) < RETENTION_SLACK * RETENTION_CAP:
        raise CheckFailed(f"sink holds {len(got)} rows, outside cap {RETENTION_CAP} .. {RETENTION_SLACK} x cap")
    oldest = min(k[0] for k in got)
    kept = set(got)
    dropped_newer = [k for k in want if k[0] > oldest and k not in kept]
    if dropped_newer:
        raise CheckFailed(f"retention dropped {len(dropped_newer)} rows newer than the oldest kept row")
    final = sink_metrics(spark, sink, TS_COL)
    return {
        "pipeline.batch_rows_out": len(want),
        "streaming.ingest.live_batch_dirs": len(_batch_dirs(sink)),
        "streaming.snapshot.versions": len(sink_snapshot(sink).versions()),
        "streaming.ingest.sink_bytes_per_row": final["bytes"] / max(1, final["rows"]),
    }


def _traced(ctx, batches) -> dict:
    import tracing

    tr = ctx.tracer
    tr.unwrap_all()
    ctx.spark.stop()
    ctx.spark = None
    log = tracing.read_event_log(ctx.path("eventlog"))
    appends = tr.named("streaming.ingest.append_batch")
    rets = tr.named("streaming.ingest.apply_retention")
    reads = tr.named("streaming.ingest.read_sink")
    ledger = []
    for b in batches:
        jobs = tracing.jobs_where(
            log, lambda j, b=b: b["start"] <= j["submit"] <= b["end"]
            and not j["desc"].startswith("wiki_live:poll"))
        tot = tracing.job_totals(log, jobs)
        d = b["duration_ms"]
        ledger.append({
            "batch": b["batch"], "rows": b["hi"] - b["lo"], "drain_ms": d.get("latestOffset", 0),
            "add_batch_ms": d.get("addBatch", 0), "trigger_ms": d.get("triggerExecution", 0),
            "jobs": tot["jobs"], "exec_s": tot["job_s"],
            "shuffle_bytes": tot["shuffle_write"] + tot["shuffle_read"],
        })
    per_batch_jobs = [lg["jobs"] for lg in ledger[1:]]  # batch 0 is the warm-up
    main = threading.get_ident()
    stream_calls = sum(n for t, n in tr.py4j_by_thread.items() if t != main)
    rw = [s for s in rets if s.get("rewrote")]
    ms = lambda ss: [1000 * (s["end"] - s["start"]) for s in ss]  # noqa: E731
    out = {
        "streaming.ingest.append_ms.sink": stats.percentile(ms(appends), 50),
        "streaming.ingest.retention_rewrites": len(rw),
        "streaming.ingest.retention_ms.p50": stats.percentile(ms(rw), 50) if rw else 0.0,
        "streaming.ingest.retention_ms.max": max(ms(rw), default=0.0),
        "streaming.ingest.read_sink_ms": stats.percentile(ms(reads), 50) if reads else 0.0,
        "streaming.jobs_per_batch": stats.percentile(per_batch_jobs, 50) if per_batch_jobs else 0.0,
        "streaming.py4j_calls_per_batch": stream_calls / max(1, len(batches)),
        "pipeline.rows_appended": sum(s.get("rows", 0) for s in appends),
        "trace.overhead_s": tr.overhead_s(),
    }
    ctx.report.append("  ledger: batch rows drain_ms add_batch_ms trigger_ms jobs exec_s shuffle_kb")
    for lg in ledger:
        ctx.report.append(
            f"    {lg['batch']:>3} {lg['rows']:5d} {lg['drain_ms']:8d} {lg['add_batch_ms']:8d} "
            f"{lg['trigger_ms']:8d} {lg['jobs']:4d} {lg['exec_s']:8.3f} {lg['shuffle_bytes'] / 1024:10.1f}")
    ctx.ledger = ledger
    return out
