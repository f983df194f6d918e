"""curate_replay: the per-micro-batch cost of streaming curation.

Seeded documents plus suffix-mutated near-duplicate copies of a seeded
share of them (gen.with_near_dups, as tools/make_tier.py mutates), in a
seeded order so that every micro-batch carries copies, are written as
one ``documents.parquet`` and loaded through ``tables.load_table``,
split with ``write_replay_splits`` into one file per micro-batch in
doc_id order, and replayed availableNow, one file per micro-batch,
through ``ingest_with_full_curation`` against the
``CONTAM_BENCH_SOURCE`` slice with the CLI defaults (no compaction).
The bucket store grows with every batch, so state size shows in the
later batches. No SSE, no JSON, no retention.

The check: the kept doc ids equal ``batch_full_curation_keep`` over the
same documents.
"""

from __future__ import annotations

import json
import os
import time

import gen
import stats
from harness import CheckFailed, peak_rss_mb

DOCS_PER_BATCH = 100  # originals per micro-batch, before near-dup copies
BATCHES_PER_SECOND = 1.0  # micro-batches per --seconds (about 2 s each on 4 cores)
WARMUP_DOCS = 40
WARMUP_SEED = 0  # the warm-up input is the same for every run
TIMEOUT_S = 150


def _docs_dir(ctx, name: str, docs) -> str:
    d = ctx.path(name)
    gen.write_tables({"documents": docs}, d)
    return d


def _start(spark, frame, bench, root: str, n_splits: int):
    from etl_wikipedia_updates_spark.sources.replay import read_replay_stream, write_replay_splits
    from etl_wikipedia_updates_spark.streaming import decontam

    write_replay_splits(frame, os.path.join(root, "replay"), n_splits, "doc_id")
    stream = read_replay_stream(spark, os.path.join(root, "replay"), frame.schema)
    t0 = time.time()
    q = decontam.ingest_with_full_curation(
        stream, bench, os.path.join(root, "sink"), os.path.join(root, "ckpt"))
    if not q.awaitTermination(TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"replay did not finish within {TIMEOUT_S}s")
    if q.exception() is not None:
        raise RuntimeError(f"curation query failed: {q.exception()}")
    return time.time() - t0, [json.loads(p.json()) for p in q._jsq.recentProgress()]


def _install_spans(tracer) -> None:
    from etl_wikipedia_updates_spark.streaming import decontam, neardup
    from etl_wikipedia_updates_spark.streaming.ingest import sink_row_count

    def target(path: str) -> str:
        base = os.path.basename(path.rstrip("/"))
        return {neardup.BUCKETS_DIRNAME: "bucket_store", decontam.CONTAM_DIRNAME: "contam_store"}.get(
            base, "sink")

    def store_rows(sp, args, kwargs, result):
        sp["bucket_store_rows"] = sink_row_count(neardup.bucket_store_path(args[2]))

    tracer.wrap(decontam, "full_curation_ingest_batch", "streaming.decontam.curate_batch",
                tag_fn=lambda a, k: {"batch": a[3]}, on_return=store_rows)
    tracer.wrap(neardup, "dedup_ingest_batch", "streaming.neardup.dedup_batch")
    for mod in (decontam, neardup):
        tracer.wrap(mod, "append_batch", "streaming.ingest.append_batch",
                    tag_fn=lambda a, k: {"target": target(a[1]), "batch": a[2]})


def run(ctx) -> dict:
    n_batches = max(4, round(BATCHES_PER_SECOND * ctx.seconds))
    docs = gen.with_near_dups(gen.documents(ctx.seed, DOCS_PER_BATCH * n_batches), ctx.seed)
    warm_docs = gen.documents(WARMUP_SEED, WARMUP_DOCS)
    docs_dir = _docs_dir(ctx, "docs", docs)
    warm_dir = _docs_dir(ctx, "warm_docs", warm_docs)
    spark = ctx.start_spark()
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.plans.northstar import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.tables import load_table

    tracer = ctx.tracer
    t_warm = time.time()
    warm = load_table(spark, warm_dir, "documents")
    _start(spark, warm, warm.filter(F.col("source") == CONTAM_BENCH_SOURCE), ctx.path("warm"), 1)
    warmup_s = time.time() - t_warm
    ctx.mark_ready()

    if tracer is not None:
        _install_spans(tracer)
        with tracer.span("tables.load_table"):
            frame = load_table(spark, docs_dir, "documents")
    else:
        frame = load_table(spark, docs_dir, "documents")
    bench = frame.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    elapsed, progress = _start(spark, frame, bench, ctx.path("run"), n_batches)
    batches = [p for p in progress if int(p.get("numInputRows") or 0) > 0]
    if sum(int(p["numInputRows"]) for p in batches) != len(docs):
        raise CheckFailed(f"replay read {sum(int(p['numInputRows']) for p in batches)} "
                          f"documents, {len(docs)} were written")
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
    lat = stats.summarize(trig)
    counts = _check(spark, frame, bench, ctx.path("run", "sink"), ctx.trace)
    m = {
        "setup_s": ctx.setup_s,
        "session.peak_rss_mb": peak_rss_mb(spark),
        "throughput_per_s": len(docs) / elapsed,
        "lat_p50_s": lat["p50"],
        "lat_tail_s": lat["tail"],
    }
    named = {
        "curate_docs_per_s": (m["throughput_per_s"], "docs/s"),
        "curate_batch_p50_s": (lat["p50"], "s"),
        f"curate_batch_tail_s (p{lat['tail_pct']:g}, n={lat['n']})": (lat["tail"], "s"),
        "error_rate": (0.0, "fraction"),
        "setup_s": (ctx.setup_s, "s"),
        "session.start_s": (ctx.session_start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "peak_rss_mb": (m["session.peak_rss_mb"], "MB"),
    }
    ctx.add_report(f"workload curate_replay  seed {ctx.seed}  seconds {ctx.seconds}  "
                   f"trace {int(ctx.trace)}  docs {len(docs)}  batches {len(batches)}", named)
    ctx.report.append("  batch trigger s: " + " ".join(f"{t:.2f}" for t in trig))
    d = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    layer = {
        **counts,
        "session.start_s": ctx.session_start_s,
        "session.warmup_s": warmup_s,
        "streaming.add_batch_ms": stats.percentile([d(p, "addBatch") for p in batches], 50),
        "streaming.trigger_overhead_ms": stats.percentile(
            [d(p, "triggerExecution") - d(p, "addBatch") - d(p, "latestOffset") for p in batches], 50),
        "trace.throughput_per_s": m["throughput_per_s"],
        "trace.lat_p50_s": m["lat_p50_s"],
        "trace.setup_s": ctx.setup_s,
    }
    if tracer is not None:
        layer.update(_traced(ctx, batches))
    return {"correct": True, "attempted": len(batches), "failed": 0, "metrics": {**m, **layer}}


def _check(spark, frame, bench, sink: str, counts: bool) -> dict:
    """Kept ids equal the batch statement of the same pipeline; with
    ``counts``, also returns the sink and store row counts."""
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
        contam_store_path,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import bucket_store_path

    got = sorted(r[0] for r in read_sink(spark, sink).select("doc_id").collect())
    want = sorted(r[0] for r in batch_full_curation_keep(frame, bench).select("doc_id").collect())
    if got != want:
        extra, missing = set(got) - set(want), set(want) - set(got)
        raise CheckFailed(f"curated sink differs from batch_full_curation_keep: "
                          f"{len(extra)} extra ids, {len(missing)} missing ids")
    if not counts:
        return {}
    n_in = frame.count()
    to_dedup = read_sink(spark, bucket_store_path(sink)).select("doc_id").distinct().count()
    quarantined = read_sink(spark, contam_store_path(sink)).select("doc_id").distinct().count()
    return {
        "streaming.neardup.kept": len(got),
        "streaming.neardup.dropped": to_dedup - len(got),
        "streaming.decontam.quarantined": quarantined,
        "streaming.decontam.quality_dropped": n_in - to_dedup - quarantined,
    }


def _traced(ctx, batches: list[dict]) -> dict:
    import tracing

    tr = ctx.tracer
    tr.unwrap_all()
    ctx.spark.stop()
    ctx.spark = None
    log = tracing.read_event_log(ctx.path("eventlog"))
    cur = tr.named("streaming.decontam.curate_batch")
    ded = tr.named("streaming.neardup.dedup_batch")
    app = tr.named("streaming.ingest.append_batch")
    ms = lambda ss: [1000 * (s["end"] - s["start"]) for s in ss]  # noqa: E731
    p50 = lambda xs: stats.percentile(xs, 50) if xs else 0.0  # noqa: E731
    ledger, jobs_all = [], []
    for p in batches:
        t0 = stats.progress_time(p["timestamp"])
        t1 = t0 + p["durationMs"]["triggerExecution"] / 1000.0
        jobs = tracing.jobs_where(log, lambda j: t0 <= j["submit"] <= t1)
        jobs_all.extend(jobs)
        tot = tracing.job_totals(log, jobs)
        span = next((s for s in cur if s["tags"]["batch"] == p["batchId"]), None)
        ledger.append({
            "batch": p["batchId"], "rows": p["numInputRows"],
            "trigger_s": p["durationMs"]["triggerExecution"] / 1000.0,
            "curate_s": (span["end"] - span["start"]) if span else 0.0,
            "py4j": span["py4j"] if span else 0, "jobs": tot["jobs"], "exec_s": tot["job_s"],
            "shuffle_bytes": tot["shuffle_write"] + tot["shuffle_read"],
            "bucket_store_rows": span.get("bucket_store_rows", 0) if span else 0,
        })
    ex = tracing.job_totals(log, jobs_all)
    out = {
        "streaming.decontam.curate_batch_ms": p50(ms(cur)),
        "streaming.neardup.dedup_batch_ms": p50(ms(ded)),
        "streaming.neardup.bucket_store_rows": ledger[-1]["bucket_store_rows"] if ledger else 0,
        "streaming.jobs_per_batch": p50([lg["jobs"] for lg in ledger]),
        "streaming.py4j_calls_per_batch": p50([lg["py4j"] for lg in ledger]),
        "operators.jobs": ex["jobs"],
        "operators.tasks": ex["tasks"],
        "operators.task_s": ex["task_s"],
        "operators.shuffle_write_mb": ex["shuffle_write"] / 2**20,
        "operators.shuffle_read_mb": ex["shuffle_read"] / 2**20,
        "operators.spill_mb": ex["spill"] / 2**20,
        "operators.stage_skew": ex["skew"],
        "operators.python_s": ex["python_s"],
        "trace.overhead_s": tr.overhead_s(),
    }
    for tgt in ("sink", "contam_store", "bucket_store"):
        out[f"streaming.ingest.append_ms.{tgt}"] = p50(ms([s for s in app if s["tags"]["target"] == tgt]))
    loads = tr.named("tables.load_table")
    out["tables.load_ms"] = 1000 * sum(s["end"] - s["start"] for s in loads)
    self_t = stats.self_times(tr.spans)
    out["streaming.decontam.curate_self_ms"] = p50([1000 * self_t[s["id"]] for s in cur])
    ctx.report.append("  ledger: batch rows trigger_s curate_s py4j jobs exec_s shuffle_kb bucket_store_rows")
    for lg in ledger:
        ctx.report.append(
            f"    {lg['batch']:>3} {lg['rows']:5d} {lg['trigger_s']:8.3f} {lg['curate_s']:8.3f} "
            f"{lg['py4j']:6d} {lg['jobs']:4d} {lg['exec_s']:8.3f} {lg['shuffle_bytes'] / 1024:10.1f} "
            f"{lg['bucket_store_rows']:8d}")
    ctx.ledger = ledger
    return out
