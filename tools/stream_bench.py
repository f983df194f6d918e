#!/usr/bin/env python
"""Streaming ingest throughput bench (BASELINE.md bench contract).

Replays the events table through the file-replay source into the
foreachBatch parquet sink and reports sustained events/s. The bar is
>=100x the Wikimedia recentchange SSE rate (~10-40 ev/s publicly
observed => >=4000 ev/s; /root/reference/config.py:10). Then replays
the documents (or embeddings) table through EVERY shipped streaming
dedup/curation mode and reports docs/s per mode — all nine ingest
variants (r18 verdict #4: the r18 artifact covered 5 of ~8, so a
regression in the embedding, cosine-verified, decontam, or one-pass
curate modes was invisible round-over-round):

- neardup / quality / verified / span: document near-dup family
- embedding / embedding_verified: SemDeDup-style sign-bucket dedup
  over the embeddings table (bands nominate; _verified rescoring
  with the exact cosine)
- decontam_shingle / decontam_span: benchmark-decontamination ingest
  against the CONTAM_BENCH_SOURCE slice (the batch `contamination` /
  `span_decontam` rules, streamed)
- curate: the one-pass quality+decontam+neardup curation ingest

Prints one JSON line per measurement. With ``--out PATH`` it also
writes the combined object to PATH — the per-round regression
artifact (STREAMBENCH_r{N}.json at the repo root, r17 verdict #4:
the SCALE.md §8 throughput numbers were session-local prose before
this, so a regression there was invisible to round-over-round diffs).
Metric names for the five r18 modes are unchanged, so r19-vs-r18
diffs line up key-for-key.

Run: python tools/stream_bench.py [sf_dir] [--out PATH]
     [--modes neardup,quality,...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import json
import tempfile
import time

from etl_wikipedia_updates_spark.session import get_spark
from etl_wikipedia_updates_spark.sources.replay import (
    read_replay_stream,
    write_replay_splits,
)
from etl_wikipedia_updates_spark.streaming.decontam import (
    DECONTAM_MODES,
    MODES,
    ingest_with_mode,
)
from etl_wikipedia_updates_spark.streaming.ingest import (
    ingest_with_retention,
    read_sink,
)
from etl_wikipedia_updates_spark.tables import load_table

WIKIMEDIA_EV_S = 40  # upper end of the publicly observed SSE rate
N_SPLITS = 8  # micro-batches; each batch pays trigger+commit overhead
TIMEOUT_S = 600


def bench_runs() -> dict[str, tuple[str, str]]:
    """run name -> (curation mode, veto rule) for every measured
    replay: each MODES entry once, and the veto-only mode once per veto
    rule. Run names keep the STREAMBENCH metric names (``neardup`` is
    the doc mode)."""
    runs = {}
    for mode, spec in MODES.items():
        name = "neardup" if mode == "doc" else mode.replace("-", "_")
        if spec.veto and spec.dedup is None:
            runs.update({f"{name}_{r[:-1]}": (mode, r) for r in DECONTAM_MODES})
        else:
            runs[name] = (mode, "shingles")
    return runs


def _await_or_die(q, what: str) -> None:
    """A timed-out replay must FAIL the bench, not report a partial
    sink as a result (and the still-running query would then race the
    TemporaryDirectory cleanup)."""
    if not q.awaitTermination(TIMEOUT_S):
        q.stop()
        raise SystemExit(
            f"{what}: replay did not finish within {TIMEOUT_S}s; "
            "no benchmark result (partial sink discarded)"
        )


def _replay_frame(spark, frame, key, mode, bench, rule, what: str):
    """Replay ``frame`` (split/ordered on ``key``) through curation
    ``mode``; return (elapsed_sec, rows_kept)."""
    with tempfile.TemporaryDirectory() as tmp:
        replay = f"{tmp}/replay"
        write_replay_splits(frame, replay, N_SPLITS, key)
        stream = read_replay_stream(spark, replay, frame.schema)
        t0 = time.perf_counter()
        q = ingest_with_mode(
            mode, stream, bench, f"{tmp}/sink", f"{tmp}/ckpt",
            decontam_mode=rule,
        )
        _await_or_die(q, what)
        elapsed = time.perf_counter() - t0
        kept = read_sink(spark, f"{tmp}/sink").count()
    return elapsed, kept


def main() -> None:
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.plans.northstar import (
        CONTAM_BENCH_SOURCE,
    )
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out",
        default=None,
        help="also write the combined JSON object here "
        "(STREAMBENCH_r{N}.json per-round artifact)",
    )
    runs = bench_runs()
    ap.add_argument(
        "--modes",
        default=",".join(runs),
        help="comma-separated mode subset — documents modes plus the "
        "embedding/embedding_verified embeddings-table modes "
        "(default: all)",
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir
    selected = [m for m in args.modes.split(",") if m]
    unknown = set(selected) - set(runs)
    if unknown:
        raise SystemExit(f"unknown modes: {sorted(unknown)}")

    results: list[dict] = []

    def emit(obj: dict) -> None:
        print(json.dumps(obj), flush=True)
        results.append(obj)

    spark = get_spark(app_name="stream_bench", shuffle_partitions=8)
    events = load_table(spark, sf_dir, "events")
    n_events = events.count()
    with tempfile.TemporaryDirectory() as tmp:
        replay = f"{tmp}/replay"
        write_replay_splits(events, replay, N_SPLITS, "ts")
        stream = read_replay_stream(spark, replay, events.schema)
        t0 = time.perf_counter()
        q = ingest_with_retention(stream, f"{tmp}/sink", f"{tmp}/ckpt")
        _await_or_die(q, "stream_ingest")
        elapsed = time.perf_counter() - t0
        sunk = read_sink(spark, f"{tmp}/sink").count()
    ev_s = sunk / elapsed
    emit(
        {
            "metric": "stream_ingest_events_per_sec",
            "value": round(ev_s, 1),
            "unit": "events/sec",
            "events": sunk,
            "expected_events": n_events,
            "elapsed_sec": round(elapsed, 2),
            "micro_batches": N_SPLITS,
            "x_wikimedia": round(ev_s / WIKIMEDIA_EV_S, 1),
            "meets_100x_bar": ev_s >= 100 * WIKIMEDIA_EV_S,
            "sf": sf_dir,
        }
    )

    specs = {name: MODES[runs[name][0]] for name in selected}
    frames = {
        table: load_table(spark, sf_dir, table)
        for table in {spec.table for spec in specs.values()}
    }
    counts = {table: f.count() for table, f in frames.items()}
    docs = frames.get("documents")
    # held-out benchmark slice, the same convention the batch
    # contamination query and the CLI --mode decontam default declare;
    # exclude_self=True because the slice shares the stream's ids
    bench = (
        docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
        if docs is not None
        else None
    )
    for name in selected:
        mode, rule = runs[name]
        spec = specs[name]
        elapsed, kept = _replay_frame(
            spark,
            frames[spec.table],
            spec.id_col,
            mode,
            bench if spec.veto else None,
            rule,
            f"{name}_ingest",
        )
        emit(
            {
                "metric": f"{name}_ingest_docs_per_sec",
                "value": round(counts[spec.table] / elapsed, 1),
                "unit": "docs/sec",
                "table": spec.table,
                "docs_in": counts[spec.table],
                "docs_kept": kept,
                "elapsed_sec": round(elapsed, 2),
                "micro_batches": N_SPLITS,
                "mode": mode,
                "sf": sf_dir,
            }
        )

    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {
                    "sf": sf_dir,
                    "micro_batches": N_SPLITS,
                    "measurements": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {args.out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
