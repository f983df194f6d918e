"""CLI — the engine's analog of the reference's ``main.py`` entry point
(/root/reference/main.py:114-175: config from env+args, run the
pipeline, graceful shutdown).

    python -m etl_wikipedia_updates_spark list
    python -m etl_wikipedia_updates_spark run q5 [--sf-dir DIR] [--limit N]
    python -m etl_wikipedia_updates_spark ingest --replay DIR --sink DIR
        [--max-rows N]            # file-replay ingest with retention (R11-R14)
    python -m etl_wikipedia_updates_spark dedup-ingest --replay DIR --sink DIR
        [--mode doc|quality|verified|span|embedding|embedding-verified|
                decontam|curate] [--decontam-mode shingles|spans]
        [--compact-every N]       # near-dup dedup / curation at ingest
    python -m etl_wikipedia_updates_spark index build|append|query|stats
        --root DIR [--vectors PARQUET]  # persistent IVF index lifecycle
                                  # (stats: per-cell balance readout)
    python -m etl_wikipedia_updates_spark pack --out DIR [--verify]
                                  # materialize / verify the packed
                                  # fixed-SEQ_LEN training stream
    python -m etl_wikipedia_updates_spark sse --url URL --sink DIR
        [--max-batches N]         # live SSE ingest (R1-R3, R15)
    python -m etl_wikipedia_updates_spark dashboard --sink DIR
        [--interval S] [--polls N]  # D1-D7 gauges + deltas + velocity

Config precedence mirrors the reference: CLI flag > environment
(SPARK_GRAFT_SF_DIR, ETL_USER_AGENT) > default.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark():
    from etl_wikipedia_updates_spark.session import get_spark

    return get_spark(app_name="etl_wikipedia_updates_spark.cli")


def cmd_list(_args) -> int:
    from etl_wikipedia_updates_spark.registry import REGISTRY

    for name, q in REGISTRY.queries.items():
        oracle = "oracle" if q.oracle else "rows-only"
        print(f"{name:18s} {oracle:9s} {q.doc}")
    return 0


def cmd_run(args) -> int:
    from etl_wikipedia_updates_spark.registry import REGISTRY

    if args.query not in REGISTRY.queries:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark()
    df = REGISTRY.queries[args.query].builder(spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_sql(args) -> int:
    from etl_wikipedia_updates_spark.tables import register_views

    spark = _spark()
    register_views(spark, args.sf_dir)
    spark.sql(args.query).show(args.limit, truncate=False)
    return 0


def cmd_release(args) -> int:
    import json

    from etl_wikipedia_updates_spark.release import (
        verify_release,
        write_release,
    )

    spark = _spark()
    if args.verify:
        out = verify_release(spark, args.out)
        print(json.dumps(out))
        return 0 if out["ok"] else 1
    out = write_release(
        spark,
        args.sf_dir,
        args.out,
        keep_last=args.keep_last,
        remove_spans=args.remove_spans,
        mix_alpha=0.5 if args.temperature_mix else None,
        redact_pii=args.redact_pii,
        quality_classifier=args.quality_classifier,
        decontam_spans=args.decontam_spans,
    )
    print(json.dumps(out))
    return 0


def cmd_pack(args) -> int:
    """Materialize the packed training stream (packed_sequences) as
    parquet partitioned by source, or --verify a written directory
    against the seq_pack audit recomputed from the corpus: per source,
    the written sequence count, token total, and exact-SEQ_LEN body
    lengths must match the audit card — the verify-after-write pattern
    write_sharded/write_release use.

    --shard (r17) routes the stream through the manifest-verified
    snapshot layout instead: write_packed publishes one file per
    (source, seq_id div seqs-per-file) shard with the per-shard
    manifest in the version metadata; --shard --verify recomputes the
    manifest from the produced files (verify_packed)."""
    import json

    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.plans.northstar import (
        SEQ_LEN,
        packed_sequences,
        seq_pack,
    )
    from etl_wikipedia_updates_spark.tables import load_table, spread

    if args.seqs_per_file is not None and not args.shard:
        # a layout dial must apply or fail loudly, never no-op
        print(
            "--seqs-per-file shapes the sharded layout: it requires "
            "--shard",
            file=sys.stderr,
        )
        return 2
    if getattr(args, "from_release", None) and not args.shard:
        print(
            "--from-release packs a published release through the "
            "sharded layout: it requires --shard",
            file=sys.stderr,
        )
        return 2
    if args.verify and (
        getattr(args, "from_release", None) or args.seqs_per_file is not None
    ):
        # verify reads the written snapshot's own metadata; write-side
        # flags would be silently ignored (apply-or-fail-loudly)
        print(
            "--verify recomputes from the written snapshot; "
            "--from-release/--seqs-per-file are write-side flags",
            file=sys.stderr,
        )
        return 2
    spark = _spark()
    if args.shard:
        from etl_wikipedia_updates_spark.release import (
            release_docs,
            verify_packed,
            write_packed,
        )

        if args.verify:
            out = verify_packed(spark, args.out)
            print(json.dumps(out))
            return 0 if out["ok"] else 1
        docs = None
        source_desc = None
        if args.from_release:
            try:
                docs, v = release_docs(spark, args.from_release)
            except (FileNotFoundError, ValueError) as e:
                print(str(e), file=sys.stderr)
                return 2
            source_desc = f"release {args.from_release} v{v}"
        out = write_packed(
            spark,
            args.sf_dir,
            args.out,
            seqs_per_file=args.seqs_per_file,
            docs=docs,
            source_desc=source_desc,
        )
        print(json.dumps(out))
        return 0
    audit = {
        r["source"]: r for r in seq_pack(spark, args.sf_dir).collect()
    }
    if args.verify:
        got = {
            r["source"]: r
            for r in spark.read.parquet(args.out)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_seqs"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                F.sum(
                    F.when(F.col("n_tokens") != SEQ_LEN, 1).otherwise(0)
                ).alias("short_seqs"),
            )
            .collect()
        }
        mismatches = []
        for src, a in audit.items():
            g = got.get(src)
            if (
                g is None
                or g["n_seqs"] != a["n_seqs"]
                or g["total_tokens"] != a["total_tokens"]
                or g["short_seqs"] > 1  # only the final partial sequence
            ):
                mismatches.append(src)
        out = {
            "ok": not mismatches and set(got) == set(audit),
            "sources": len(audit),
            "mismatches": sorted(mismatches),
        }
        print(json.dumps(out))
        return 0 if out["ok"] else 1
    docs = spread(load_table(spark, args.sf_dir, "documents"))
    packed = packed_sequences(docs)
    packed.write.mode("overwrite").partitionBy("source").parquet(args.out)
    print(
        json.dumps(
            {
                "out": args.out,
                "seq_len": SEQ_LEN,
                "sources": {
                    s: {
                        "n_seqs": int(a["n_seqs"]),
                        "total_tokens": int(a["total_tokens"]),
                    }
                    for s, a in audit.items()
                },
            }
        )
    )
    return 0


def cmd_shard(args) -> int:
    import json

    from etl_wikipedia_updates_spark.release import (
        verify_sharded,
        write_sharded,
    )

    spark = _spark()
    if args.verify:
        out = verify_sharded(spark, args.out)
        print(json.dumps(out))
        return 0 if out["ok"] else 1
    docs = None
    source_desc = None
    if args.from_release:
        from etl_wikipedia_updates_spark.release import release_docs

        try:
            docs, v = release_docs(spark, args.from_release)
        except (FileNotFoundError, ValueError) as e:
            print(str(e), file=sys.stderr)
            return 2
        source_desc = f"release {args.from_release} v{v}"
    out = write_sharded(
        spark, args.sf_dir, args.out, keep_last=args.keep_last, docs=docs,
        n_shards=args.n_shards, source_desc=source_desc,
    )
    print(json.dumps(out))
    return 0


def cmd_span_store(args) -> int:
    """Publish / append / probe the persistent span-hash store (r17):
    `span-store --store R` publishes the sf-dir corpus' distinct span
    hashes as the store's next version (--merge unions in the current
    version — the per-recrawl append); `span-store --store R --audit`
    probes the sf-dir corpus as a NEW crawl against the store and
    prints the per-source dup audit; `--stats` prints per-version
    telemetry (n_spans, n_bytes, growth) from snapshot metadata
    without a Spark session. A real recrawl points --sf-dir at the
    new snapshot's tables."""
    import json

    from etl_wikipedia_updates_spark.release import (
        publish_span_store,
        span_store_audit,
        span_store_stats,
    )
    from etl_wikipedia_updates_spark.tables import load_table, spread

    if args.keep_last < 1:
        # validate BEFORE any work: on the publish path this value
        # reaches SnapshotTable.vacuum AFTER the version is published,
        # where a late ValueError would exit with a traceback despite
        # a successful publish (a scripted caller would retry and
        # create a duplicate version — r19 review #2)
        print(
            f"--keep-last must be >= 1, got {args.keep_last}",
            file=sys.stderr,
        )
        return 2
    if args.stats:
        # metadata-only: no SparkSession, no data read
        try:
            stats = span_store_stats(args.store)
        except (FileNotFoundError, ValueError) as e:
            print(str(e), file=sys.stderr)
            return 2
        out = {"store": args.store, "versions": stats}
        # retention advisory (r18 verdict #7): the span store is the
        # one artifact whose footprint is multi-TB by design, and
        # every superseded version still on disk doubles down on that.
        # publish_span_store vacuums to --keep-last (default 2) on
        # each publish, but manually-managed roots (direct
        # SnapshotTable publishes, raised keep_last) can accumulate —
        # surface it where the operator is already looking.
        excess = stats[: max(0, len(stats) - args.keep_last)]
        if excess:
            out["recommendation"] = (
                f"{len(excess)} superseded version(s) beyond "
                f"keep_last={args.keep_last} still on disk "
                f"({sum(s['n_bytes'] for s in excess)} reclaimable "
                f"bytes: v{[s['version'] for s in excess]}) — run "
                "SnapshotTable(root).vacuum(keep_last="
                f"{args.keep_last}) or republish (publish vacuums)"
            )
        print(json.dumps(out))
        return 0
    spark = _spark()
    docs = spread(load_table(spark, args.sf_dir, "documents"))
    if args.audit:
        rows = [
            r.asDict() for r in span_store_audit(spark, docs, args.store).collect()
        ]
        print(json.dumps({"store": args.store, "audit": rows}))
        return 0
    out = publish_span_store(
        spark,
        docs,
        args.store,
        keep_last=args.keep_last,
        merge_prior=args.merge,
        source_desc=f"{args.sf_dir}/documents",
    )
    print(json.dumps({"store": args.store, **out}))
    return 0


def cmd_index(args) -> int:
    import json

    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.tables import load_table
    from etl_wikipedia_updates_spark.vector_index import (
        append_to_ivf_index,
        build_ivf_index,
        index_recall,
        probe_selectivity,
        query_ivf_index,
    )

    if args.action == "stats":
        # driver-side footer reads only — no Spark session needed
        # (unless --recall asks for the measured-accuracy readout)
        out = probe_selectivity(args.root)
        if args.recall:
            from etl_wikipedia_updates_spark.streaming.snapshot import (
                SnapshotTable,
            )

            spark = _spark()
            q = (
                SnapshotTable(args.root)
                .read(spark)
                .select(
                    F.col("vec_id").alias("q_vec_id"),
                    F.col("embedding").alias("q_embedding"),
                )
                .orderBy("q_vec_id")
                .limit(args.recall)
            )
            out["recall"] = index_recall(
                spark, args.root, q, topk=args.topk,
                n_probes=args.n_probes, overfetch=args.overfetch,
            )
        print(json.dumps(out))
        return 0
    spark = _spark()
    if args.action == "build":
        out = build_ivf_index(
            spark, args.sf_dir, args.root, k=args.k, quantize=args.quantize
        )
        print(json.dumps(out))
        return 0
    if args.action == "append":
        if not args.vectors:
            print("append needs --vectors PARQUET_PATH", file=sys.stderr)
            return 2
        out = append_to_ivf_index(
            spark, args.root, spark.read.parquet(args.vectors)
        )
        print(json.dumps(out))
        return 0
    emb = load_table(spark, args.sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(args.vec_ids)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    query_ivf_index(
        spark, args.root, q, topk=args.topk, n_probes=args.n_probes,
        overfetch=args.overfetch,
    ).show(
        args.topk * max(1, len(args.vec_ids)), truncate=False
    )
    return 0


def cmd_dedup_ingest(args) -> int:
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import read_replay_stream
    from etl_wikipedia_updates_spark.streaming.decontam import (
        MODES,
        ingest_with_mode,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import SPAN_DEDUP
    from etl_wikipedia_updates_spark.tables import load_table

    spec = MODES[args.mode]
    # flag -> whether a mode runs the stage it configures. A stage flag
    # must apply or fail loudly, never no-op (a privacy control above
    # all).
    stage_flags = {
        "bench": lambda m: m.veto,
        "decontam_mode": lambda m: m.veto,
        "redact_pii": lambda m: m.redact,
        "temperature_mix": lambda m: m.mix,
        "seed_span_store": lambda m: m.dedup is SPAN_DEDUP,
    }
    for flag, runs in stage_flags.items():
        if getattr(args, flag) not in (None, False) and not runs(spec):
            need = " or ".join(m for m, s in MODES.items() if runs(s))
            print(
                f"--{flag.replace('_', '-')} configures a stage --mode "
                f"{args.mode} does not run: it requires --mode {need}",
                file=sys.stderr,
            )
            return 2
    spark = _spark()
    schema = load_table(spark, args.sf_dir, spec.table).schema
    stream = read_replay_stream(spark, args.replay, schema)
    bench = None
    opts = {}
    if spec.veto:
        # held-out benchmark: an explicit parquet path, else the
        # CONTAM_BENCH_SOURCE slice of the static documents table
        # (the same convention the batch contamination query
        # declares). Self-pair exclusion only applies to the in-table
        # slice, whose rows share the stream's id universe — an
        # external benchmark has its own ids, and an id coincidence
        # must not bypass the veto.
        if args.bench:
            bench = spark.read.parquet(args.bench)
        else:
            from etl_wikipedia_updates_spark.plans.northstar import (
                CONTAM_BENCH_SOURCE,
            )

            bench = load_table(spark, args.sf_dir, "documents").filter(
                F.col("source") == CONTAM_BENCH_SOURCE
            )
        opts["exclude_self"] = args.bench is None
        opts["decontam_mode"] = args.decontam_mode or "shingles"
    if args.redact_pii:
        opts["redact_pii"] = True
    if args.temperature_mix:
        from etl_wikipedia_updates_spark.plans.northstar import (
            static_temp_rates,
        )

        # stream-static model: rates fit once from the declared
        # static table; the stream only applies the thresholds
        opts["temp_rates"] = static_temp_rates(
            load_table(spark, args.sf_dir, "documents").select(
                "source", "n_chars"
            )
        )
    if args.seed_span_store:
        import os as _os

        from etl_wikipedia_updates_spark.streaming.neardup import (
            seed_span_store_from,
            seeded_from,
        )

        # checkpointed-resume friendliness: re-running the same
        # seeded command must resume, not crash — the durable
        # sidecar marker (which survives store compaction, unlike
        # snapshot meta) says whether THIS store already seeded
        # the sink; paths are normalized so a trailing slash or
        # relative form still matches. Any other prior state is a
        # clean usage error, as are a missing / wrong-kind /
        # wrong-span-params source store (r17 review).
        marker = seeded_from(args.sink)
        want = _os.path.normpath(_os.path.abspath(args.seed_span_store))
        if marker is not None and marker.get("store_root") == want:
            print(
                f"span store already seeded (from {want} "
                f"v{marker.get('version')}); resuming"
            )
            # root-only matching can mask drift: the SOURCE store
            # may have advanced (a --merge published v2) since the
            # seed. Resuming is still correct — the seed is
            # creation-time state — but say so loudly instead of
            # letting the print read as "seeded with the newest
            # release" (r17 advice).
            from etl_wikipedia_updates_spark.streaming.snapshot import (
                SnapshotTable as _ST,
            )

            # advisory only: a broken SOURCE store must not stop a
            # healthy sink from resuming (r18 review — resume never
            # touched the source store before this warning existed)
            try:
                _cur = _ST(args.seed_span_store).current_version()
            except (RuntimeError, OSError, ValueError):
                _cur = None
            if _cur is not None and _cur != marker.get("version"):
                print(
                    f"WARNING: source span store is now at v{_cur} "
                    f"but this sink was seeded from "
                    f"v{marker.get('version')}; the newer spans are "
                    "NOT in this sink's store (re-seed a fresh sink "
                    "to pick them up)",
                    file=sys.stderr,
                )
        else:
            try:
                n = seed_span_store_from(
                    spark, args.sink, args.seed_span_store
                )
            except (RuntimeError, FileNotFoundError, ValueError) as e:
                print(str(e), file=sys.stderr)
                return 2
            print(f"seeded {n} span hashes from {args.seed_span_store}")
    q = ingest_with_mode(
        args.mode,
        stream,
        bench,
        args.sink,
        args.checkpoint or args.sink + "_ckpt",
        compact_every=args.compact_every,
        **opts,
    )
    finished = q.awaitTermination(args.timeout)
    if not finished:
        q.stop()
        print(f"TIMEOUT after {args.timeout}s; sink is partial", file=sys.stderr)
        return 1
    print(f"rows kept: {read_sink(spark, args.sink).count()}")
    return 0


def cmd_maintain(args) -> int:
    """One maintenance pass over a sink tree — the operational
    counterpart of the reference's in-loop cleanup (R14,
    /root/reference/pipeline.py:41-51), run OUT of band here because
    at scale maintenance is a scheduled job, not trigger-path work:
    fold the data sink's batch appends into a compacted snapshot
    version, every state store a curation mode keeps under it (bucket,
    shingle, vector and quarantine stores), and optionally the rollup
    partials. Each fold is the same crash-safe SnapshotTable /
    swap publish the streaming path uses, so running this against a
    live sink is safe (replay grace horizons are preserved). Prints
    one JSON line of what happened."""
    import json

    from etl_wikipedia_updates_spark.streaming.decontam import STORES
    from etl_wikipedia_updates_spark.streaming.ingest import (
        compact_rollup,
        compact_sink,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import compact_store

    spark = _spark()
    out: dict = {}
    out["sink"] = compact_sink(spark, args.sink, args.target_files)
    for name, dirname in STORES.items():
        path = os.path.join(args.sink, dirname)
        if os.path.isdir(path):
            folded = compact_store(spark, path, target_files=args.target_files)
            out[name] = folded if folded else "nothing to fold"
    if args.rollup:
        compact_rollup(spark, args.rollup)
        out["rollup"] = "compacted"
    print(json.dumps(out))
    return 0


def cmd_ingest(args) -> int:
    from etl_wikipedia_updates_spark.sources.replay import read_replay_stream
    from etl_wikipedia_updates_spark.streaming.ingest import (
        ingest_with_retention,
        sink_metrics,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    spark = _spark()
    schema = load_table(spark, args.sf_dir, "events").schema
    stream = read_replay_stream(spark, args.replay, schema)
    q = ingest_with_retention(
        stream,
        args.sink,
        args.checkpoint or args.sink.rstrip("/") + ".ckpt",
        max_rows=args.max_rows,
        ts_col="ts",
    )
    finished = q.awaitTermination(args.timeout)
    if not finished:
        # Same contract as cmd_dedup_ingest: a replay that outlives
        # --timeout must stop the query and report the truncation —
        # otherwise sink_metrics races the still-running stream and the
        # command exits 0 over a partial sink.
        q.stop()
        print(f"TIMEOUT after {args.timeout}s; sink is partial", file=sys.stderr)
        return 1
    print(sink_metrics(spark, args.sink, "ts"))
    return 0


def cmd_sse(args) -> int:
    from etl_wikipedia_updates_spark.sources.sse import register_sse_source
    from etl_wikipedia_updates_spark.streaming.ingest import ingest_with_retention

    spark = _spark()
    if not register_sse_source(spark):
        print("SSE source needs the Spark 4 Python Data Source API", file=sys.stderr)
        return 2
    stream = (
        spark.readStream.format("sse")
        .option("url", args.url)
        .option("userAgent", os.environ.get("ETL_USER_AGENT", "etl-wikipedia-updates-spark"))
        .load()
    )
    q = ingest_with_retention(
        stream,
        args.sink,
        args.checkpoint or args.sink.rstrip("/") + ".ckpt",
        available_now=False,
    )
    try:
        # --timeout 0 (the default) = run until Ctrl-C: awaitTermination
        # rejects non-positive timeouts, so 0 maps to the no-timeout call.
        if args.timeout:
            q.awaitTermination(args.timeout)
        else:
            q.awaitTermination()
    except KeyboardInterrupt:  # R16: graceful shutdown
        pass
    finally:
        q.stop()
    return 0


def cmd_dashboard(args) -> int:
    """D1-D7 as a terminal poll loop — the engine's analog of the
    reference's Streamlit dashboard (/root/reference/dashboard.py:
    gauges at :37-74, 5 s refresh at :75, delta 'sparklines' at
    :56,63,70). Prints one JSON line per poll: rows, newest/oldest
    event time, bytes on disk, deltas vs the previous poll, and the
    events/min velocity the reference derives from row-count deltas
    (dashboard.py:47-49)."""
    import json
    import time as _time

    from etl_wikipedia_updates_spark.streaming.ingest import (
        metrics_delta,
        sink_metrics,
    )

    spark = _spark()
    prev: dict | None = None
    prev_t = None
    for _ in range(args.polls) if args.polls else iter(int, 1):
        cur = sink_metrics(spark, args.sink, args.ts_col)
        now = _time.monotonic()
        out = {
            "rows": cur["rows"],
            "max_ts": str(cur["max_ts"]),
            "min_ts": str(cur["min_ts"]),
            "bytes": cur["bytes"],
        }
        if prev is not None:
            delta = metrics_delta(prev, cur)
            out["delta"] = {k: v for k, v in delta.items() if v is not None}
            dt = now - prev_t
            if dt > 0 and delta.get("rows") is not None:
                out["events_per_min"] = round(delta["rows"] / dt * 60.0, 1)
        print(json.dumps(out), flush=True)
        prev, prev_t = cur, now
        if args.polls and _ == args.polls - 1:
            break
        try:
            _time.sleep(args.interval)
        except KeyboardInterrupt:
            break
    return 0


def main(argv: list[str] | None = None) -> int:
    from etl_wikipedia_updates_spark.streaming.decontam import (
        DECONTAM_MODES,
        MODES,
    )

    sf_default = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    p = argparse.ArgumentParser(prog="etl_wikipedia_updates_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list declared queries")

    runp = sub.add_parser("run", help="run a declared query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default=sf_default)
    runp.add_argument("--limit", type=int, default=20)

    sqlp = sub.add_parser(
        "sql", help="run ad-hoc Spark SQL over the registered tables"
    )
    sqlp.add_argument("query")
    sqlp.add_argument("--sf-dir", default=sf_default)
    sqlp.add_argument("--limit", type=int, default=20)

    rel = sub.add_parser(
        "release",
        help="publish a versioned corpus release (dedup + quality filter "
        "+ mix + split) with its audit card",
    )
    rel.add_argument("--out", required=True, help="SnapshotTable root dir")
    rel.add_argument("--sf-dir", default=sf_default)
    rel.add_argument("--keep-last", type=int, default=2)
    rel.add_argument(
        "--remove-spans", action="store_true",
        help="add the span-excision stage: cross-doc duplicated spans "
        "are cut from every released doc but the canonical owner",
    )
    rel.add_argument(
        "--temperature-mix", action="store_true",
        help="mix with the temperature law (alpha=0.5: small sources "
        "upweighted, rate = sqrt(min_chars/chars)) instead of "
        "equalizing every source to the smallest character budget",
    )
    rel.add_argument(
        "--redact-pii", action="store_true",
        help="redact email/IPv4/phone matches (the pii_scrub "
        "expression) from the released text as the final shipping "
        "transform; n_chars keeps accounting the original text, so "
        "--verify still matches the published card",
    )
    rel.add_argument(
        "--quality-classifier", action="store_true",
        help="compose the hashed-n-gram quality classifier "
        "(ngram_quality's fit+score core) into the quality gate as a "
        "strict second stage: docs scoring under NGQ_HI_PPM are "
        "dropped before dedup survivorship and mixing (budgets and "
        "splits recompute over the surviving set, so --verify still "
        "matches the published card)",
    )
    rel.add_argument(
        "--decontam-spans", action="store_true",
        help="compose exact-substring benchmark decontamination (the "
        "span_decontam rule: one verbatim SPAN_W-token run shared with "
        "the CONTAM_BENCH_SOURCE stratum drops the doc) into the same "
        "pre-mixing stage; budgets and splits recompute over the "
        "decontaminated set, so --verify still matches the published "
        "card",
    )
    rel.add_argument(
        "--verify",
        action="store_true",
        help="recompute the current version's audit card from its "
        "materialized data and compare to the published card "
        "(exit 1 on mismatch) instead of publishing",
    )

    shd = sub.add_parser(
        "shard",
        help="write the corpus as N fixed output shards (one file per "
        "shard, manifest in version metadata) or verify a written "
        "version against its manifest",
    )
    shd.add_argument("--out", required=True, help="SnapshotTable root dir")
    shd.add_argument("--sf-dir", default=sf_default)
    shd.add_argument("--keep-last", type=int, default=2)
    shd.add_argument(
        "--from-release", metavar="RELEASE_ROOT",
        help="shard the current version of a published release "
        "(the curated corpus a training run loads) instead of the "
        "raw sf-dir documents table",
    )
    shd.add_argument(
        "--n-shards", type=int, default=None,
        help="shard count (default 16) — one file per shard, so this "
        "is write parallelism AND the file-size divisor; a 100 TB "
        "release raises it so files stay ~10 GB",
    )
    shd.add_argument(
        "--verify",
        action="store_true",
        help="recompute the per-shard manifest from the produced files "
        "and compare to the published manifest (exit 1 on mismatch) "
        "instead of writing",
    )

    pk = sub.add_parser(
        "pack",
        help="materialize the packed training stream (fixed-SEQ_LEN "
        "sequences, parquet partitioned by source) or verify a "
        "written directory against the seq_pack audit",
    )
    pk.add_argument("--out", required=True, help="output parquet dir")
    pk.add_argument("--sf-dir", default=sf_default)
    pk.add_argument(
        "--verify",
        action="store_true",
        help="recompute per-source sequence counts / token totals from "
        "the written files and compare to the audit (exit 1 on "
        "mismatch) instead of writing",
    )
    pk.add_argument(
        "--shard",
        action="store_true",
        help="publish through the manifest-verified snapshot layout "
        "(one file per (source, seq_id div seqs-per-file) shard); "
        "with --verify, recompute the manifest from the files",
    )
    pk.add_argument(
        "--from-release",
        help="pack the current version of a published release "
        "(SnapshotTable root) instead of the raw documents table — "
        "the curated stream a training run actually loads; requires "
        "--shard",
    )
    pk.add_argument(
        "--seqs-per-file",
        type=int,
        default=None,
        help="sequences per output shard file (default 64) — the "
        "packed layout's file-size dial, only with --shard",
    )
    sps = sub.add_parser(
        "span-store",
        help="publish the corpus' distinct span hashes as a versioned "
        "store (--merge appends the current version — the recrawl "
        "update), or --audit a new crawl against it",
    )
    sps.add_argument("--store", required=True, help="store root dir")
    sps.add_argument("--sf-dir", default=sf_default)
    sps.add_argument(
        "--merge",
        action="store_true",
        help="union the current store version into the publish "
        "(per-recrawl append; versions stay immutable)",
    )
    sps.add_argument(
        "--audit",
        action="store_true",
        help="probe the sf-dir corpus as a NEW crawl against the "
        "store and print the per-source span-dup audit",
    )
    sps.add_argument(
        "--stats",
        action="store_true",
        help="print per-version store telemetry (n_spans, n_bytes, "
        "growth vs the superseded version) from snapshot metadata — "
        "no Spark session, no data read; adds a vacuum recommendation "
        "when superseded versions exceed --keep-last",
    )
    sps.add_argument(
        "--keep-last",
        type=int,
        default=2,
        help="retention horizon: on publish it governs the "
        "auto-vacuum (how many versions survive — r19: previously "
        "parsed but ignored there), on --stats the advisory "
        "threshold; must be >= 1 (default 2)",
    )
    idx = sub.add_parser(
        "index", help="build or probe the persistent IVF vector index"
    )
    idx.add_argument(
        "action", choices=["build", "append", "query", "stats"]
    )
    idx.add_argument("--root", required=True, help="SnapshotTable root dir")
    idx.add_argument("--sf-dir", default=sf_default)
    idx.add_argument("--k", type=int, default=8)
    idx.add_argument(
        "--vectors",
        help="append: parquet path of new (vec_id, embedding) rows",
    )
    idx.add_argument(
        "--vec-ids", type=int, nargs="+", default=[0],
        help="query: vec_ids from the embeddings table to probe with",
    )
    idx.add_argument("--topk", type=int, default=5)
    idx.add_argument("--n-probes", type=int, default=1)
    idx.add_argument(
        "--quantize", nargs="?", const="sq8", default=None,
        choices=["sq8", "pq"],
        help="build: store a compressed form beside the floats — "
        "'sq8' (int8 vectors; bare --quantize keeps meaning this) or "
        "'pq' (product-quantized codes + codebooks in metadata, the "
        "IVF-PQ layout)",
    )
    idx.add_argument(
        "--recall", type=int, default=0, metavar="N",
        help="stats: measure recall@topk of the probe vs brute force "
        "using the index's N smallest vec_ids as queries (runs Spark "
        "jobs; 0 = skip, footer-only stats)",
    )
    idx.add_argument(
        "--overfetch", type=int, default=4,
        help="quantized index: rescore topk*overfetch approximate-scan "
        "candidates against the exact floats (the recall dial for "
        "sq8/pq storage; the stats --recall readout records it)",
    )

    ded = sub.add_parser(
        "dedup-ingest",
        help="file-replay ingest with curation at ingest "
        "(doc: MinHash bands; quality: repetition gate + MinHash "
        "bands; verified: bands nominate + sketch-Jaccard decides; "
        "span: exact SPAN_W-token span veto against earlier docs; "
        "embedding: sign-bucket LSH; embedding-verified: sign "
        "buckets nominate + exact cosine decides; decontam: "
        "benchmark veto with quarantine audit table; "
        "curate: quality gate + decontam + near-dup dedup in one "
        "pass)",
    )
    ded.add_argument("--replay", required=True)
    ded.add_argument("--sink", required=True)
    ded.add_argument("--checkpoint")
    ded.add_argument("--mode", choices=list(MODES), default="doc")
    ded.add_argument("--sf-dir", default=sf_default)
    ded.add_argument(
        "--bench",
        help="decontam: parquet path of the held-out benchmark docs "
        "(needs doc_id/lang/text columns; default: the "
        "CONTAM_BENCH_SOURCE slice of sf-dir's documents table)",
    )
    ded.add_argument(
        "--seed-span-store",
        help="span mode: seed a FRESH sink's span store from a prior "
        "release's span-hash store (release.publish_span_store / the "
        "span-store CLI) so the new crawl streams against the prior "
        "release from batch 0",
    )
    ded.add_argument(
        "--decontam-mode",
        choices=list(DECONTAM_MODES),
        default=None,
        help="decontam/curate: the veto rule — 'shingles' (the "
        "default: >= CONTAM_MIN_SHARED shared shingles, the "
        "contamination rule) or 'spans' (one exact SPAN_W-token run, "
        "the span_decontam rule)",
    )
    ded.add_argument(
        "--redact-pii", action="store_true",
        help="curate: redact email/IPv4/phone matches (the pii_scrub "
        "expression) as stage 0, before the quality gate",
    )
    ded.add_argument(
        "--temperature-mix", action="store_true",
        help="curate: temperature-mix the sink (alpha=0.5, the "
        "temperature_mix rule) against rates fit ONCE from the static "
        "sf-dir documents table (stream-static: the stream applies "
        "precomputed per-source thresholds, it never fits on itself)",
    )
    ded.add_argument("--timeout", type=int, default=600)
    ded.add_argument(
        "--compact-every", type=int, default=None,
        help="fold the sink's state stores (LSH bucket, shingle, vector "
        "and quarantine stores) every N batches",
    )

    mnt = sub.add_parser(
        "maintain",
        help="one out-of-band maintenance pass: compact the sink and "
        "every state store under it (LSH bucket, shingle, vector and "
        "quarantine stores); optionally a rollup dir",
    )
    mnt.add_argument("--sink", required=True)
    mnt.add_argument("--target-files", type=int, default=4)
    mnt.add_argument("--rollup", help="rollup partials dir to fold")

    ing = sub.add_parser("ingest", help="file-replay ingest with retention")
    ing.add_argument("--replay", required=True)
    ing.add_argument("--sink", required=True)
    ing.add_argument("--checkpoint")
    ing.add_argument("--sf-dir", default=sf_default)
    ing.add_argument("--max-rows", type=int)
    ing.add_argument("--timeout", type=int, default=600)

    sse = sub.add_parser("sse", help="live SSE ingest")
    sse.add_argument(
        "--url", default="https://stream.wikimedia.org/v2/stream/recentchange"
    )
    sse.add_argument("--sink", required=True)
    sse.add_argument("--checkpoint")
    sse.add_argument("--timeout", type=int, default=0)

    dash = sub.add_parser(
        "dashboard", help="poll sink metrics (D1-D7), one JSON line per poll"
    )
    dash.add_argument("--sink", required=True)
    dash.add_argument("--ts-col", default="ts")
    dash.add_argument("--interval", type=float, default=5.0)
    dash.add_argument("--polls", type=int, default=0, help="0 = until Ctrl-C")

    args = p.parse_args(argv)
    return {
        "list": cmd_list,
        "run": cmd_run,
        "sql": cmd_sql,
        "release": cmd_release,
        "pack": cmd_pack,
        "shard": cmd_shard,
        "span-store": cmd_span_store,
        "index": cmd_index,
        "dedup-ingest": cmd_dedup_ingest,
        "maintain": cmd_maintain,
        "ingest": cmd_ingest,
        "sse": cmd_sse,
        "dashboard": cmd_dashboard,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
