"""CLI surface tests (in-process; the CLI reuses the session via
getOrCreate, so no second JVM is started)."""

from __future__ import annotations

import os

import pytest

from etl_wikipedia_updates_spark.__main__ import main
from etl_wikipedia_updates_spark.registry import REGISTRY


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in REGISTRY.queries:
        assert name in out


def test_cli_run_query(spark, sf_smoke, capsys):
    assert main(["run", "q6", "--sf-dir", sf_smoke]) == 0
    assert "r_name" in capsys.readouterr().out


def test_cli_run_unknown(capsys):
    assert main(["run", "nope"]) == 2


def test_cli_ingest_replay(spark, sf_smoke, tmp_path, capsys):
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    events = load_table(spark, sf_smoke, "events")
    replay = str(tmp_path / "replay")
    write_replay_splits(events, replay, 2, "ts")
    assert (
        main(
            [
                "ingest",
                "--replay", replay,
                "--sink", str(tmp_path / "sink"),
                "--sf-dir", sf_smoke,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert f"'rows': {events.count()}" in out


def test_cli_dashboard(spark, sf_smoke, tmp_path, capsys):
    import json

    from etl_wikipedia_updates_spark.tables import load_table

    events = load_table(spark, sf_smoke, "events")
    sink = str(tmp_path / "sink")
    events.write.mode("overwrite").parquet(sink)
    assert (
        main(
            ["dashboard", "--sink", sink, "--interval", "0", "--polls", "2"]
        )
        == 0
    )
    lines = [
        json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
    ]
    assert len(lines) == 2
    assert lines[0]["rows"] == events.count()
    assert lines[1]["delta"]["rows"] == 0  # static sink between polls
    assert lines[1]["events_per_min"] == 0.0
    assert lines[0]["bytes"] > 0


def test_cli_sql(spark, sf_smoke, capsys):
    assert (
        main(
            [
                "sql",
                "SELECT count(*) AS n FROM region",
                "--sf-dir", sf_smoke,
            ]
        )
        == 0
    )
    assert "n" in capsys.readouterr().out


def test_cli_release_remove_spans_and_index_recall(
    spark, sf_smoke, tmp_path, capsys
):
    """r10 surfaces: `release --remove-spans` records the stage in the
    version metadata, and `index stats --recall N` appends the
    measured-accuracy readout beside the footer stats."""
    import json

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    rel = str(tmp_path / "rel")
    assert (
        main(
            [
                "release", "--out", rel, "--sf-dir", sf_smoke,
                "--remove-spans",
            ]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["audit"]
    assert SnapshotTable(rel).meta_for(1)["remove_spans"] is True

    idx = str(tmp_path / "idx")
    assert (
        main(["index", "build", "--root", idx, "--sf-dir", sf_smoke]) == 0
    )
    capsys.readouterr()
    assert (
        main(
            [
                "index", "stats", "--root", idx,
                "--recall", "4", "--topk", "3",
            ]
        )
        == 0
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    r = stats["recall"]
    assert r["n_queries"] == 4 and 0.0 <= r["recall_at_k"] <= 1.0
    assert len(r["per_query"]) == 4


def test_cli_release_and_index(spark, sf_smoke, tmp_path, capsys):
    import json

    assert (
        main(
            ["release", "--out", str(tmp_path / "rel"), "--sf-dir", sf_smoke]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["audit"]

    assert (
        main(
            [
                "index", "build",
                "--root", str(tmp_path / "idx"),
                "--sf-dir", sf_smoke,
                "--quantize",
            ]
        )
        == 0
    )
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["version"] == 1 and built["k"] == 8 and built["quantized"]
    assert "imbalance" in built and "needs_refit" in built

    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.tables import load_table

    newvecs = str(tmp_path / "newvecs")
    load_table(spark, sf_smoke, "embeddings").limit(10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    ).write.parquet(newvecs)
    assert (
        main(
            [
                "index", "append",
                "--root", str(tmp_path / "idx"),
                "--vectors", newvecs,
            ]
        )
        == 0
    )
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (
        appended["version"],
        appended["base"],
        appended["appended_rows"],
    ) == (2, 1, 10)
    assert (
        main(["index", "stats", "--root", str(tmp_path / "idx")]) == 0
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["version"] == 2 and stats["n_rows"] > 0
    assert stats["cells"] and 0 < stats["expected_probe_fraction"] <= 1
    assert (
        main(
            [
                "index", "query",
                "--root", str(tmp_path / "idx"),
                "--sf-dir", sf_smoke,
                "--vec-ids", "0", "1",
                "--topk", "2",
                "--n-probes", "2",
            ]
        )
        == 0
    )
    shown = capsys.readouterr().out
    assert "q_vec_id" in shown and "cos_sim" in shown


def test_cli_dedup_ingest(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", str(tmp_path / "sink"),
                "--sf-dir", sf_smoke,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "rows kept:" in out


def test_cli_dedup_ingest_quality_mode(spark, sf_smoke, tmp_path, capsys):
    """--mode quality wires the quality-gate + dedup composition
    (corpus_release's streaming twin): the sink must equal the batch
    statement batch_keep('quality') exactly, and --compact-every
    must leave the bucket store folded into a snapshot version."""
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _batch_dirs,
        read_sink,
        sink_snapshot,
    )
    from etl_wikipedia_updates_spark.streaming.decontam import batch_keep
    from etl_wikipedia_updates_spark.streaming.neardup import (
        bucket_store_path,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "quality",
                "--compact-every", "2",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
        return r["n"], r["s"]

    assert checksum(read_sink(spark, sink)) == checksum(
        batch_keep("quality", docs)
    )
    store = bucket_store_path(sink)
    assert sink_snapshot(store).current_version() is not None
    assert len(_batch_dirs(store)) < 5


def test_cli_maintain_compacts_sink_and_bucket_store(
    spark, sf_smoke, tmp_path, capsys
):
    """The maintain subcommand folds a dedup-ingest sink's batch
    appends AND its neardup bucket store in one pass, without changing
    the data; a second pass with nothing new to fold says so."""
    import json

    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 3, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            ["dedup-ingest", "--replay", replay, "--sink", sink,
             "--sf-dir", sf_smoke]
        )
        == 0
    )
    capsys.readouterr()

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
        return r["n"], r["s"]

    before = checksum(read_sink(spark, sink))
    assert main(["maintain", "--sink", sink, "--target-files", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sink"]["files_after"] <= 2
    assert out["bucket_store"]["folded_dirs"] >= 1
    assert checksum(read_sink(spark, sink)) == before

    # second pass: sink re-folds (no new appends is still a rewrite of
    # the published version — cheap), bucket store reports no-op
    assert main(["maintain", "--sink", sink]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["bucket_store"] == "nothing to fold"
    assert checksum(read_sink(spark, sink)) == before


def test_cli_dedup_ingest_verified_mode(spark, sf_smoke, tmp_path, capsys):
    """--mode verified wires the precision pipeline: the sink equals
    batch_keep('verified') exactly."""
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.decontam import batch_keep
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 3, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            ["dedup-ingest", "--replay", replay, "--sink", sink,
             "--sf-dir", sf_smoke, "--mode", "verified"]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
        return r["n"], r["s"]

    assert checksum(read_sink(spark, sink)) == checksum(
        batch_keep("verified", docs)
    )


def test_cli_dedup_ingest_embedding_verified(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    replay = str(tmp_path / "replay")
    write_replay_splits(emb, replay, 2, "vec_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "embedding-verified",
                "--compact-every", "1",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "rows kept:" in out
    import os as _os

    # both stores materialized under the sink
    assert _os.path.isdir(_os.path.join(sink, "_lsh_buckets"))
    assert _os.path.isdir(_os.path.join(sink, "_vector_store"))


def test_cli_dedup_ingest_decontam(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "decontam",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    import os as _os

    assert _os.path.isdir(_os.path.join(sink, "_contaminated"))


def test_cli_dedup_ingest_decontam_external_bench(
    spark, sf_smoke, tmp_path, capsys
):
    """--bench points decontam at an arbitrary held-out parquet
    instead of the in-table source slice."""
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    bench_path = str(tmp_path / "bench")
    # external benchmark: 20 verbatim copies of corpus docs under new
    # ids -> those docs must be vetoed
    docs.limit(20).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "lang", "text"
    ).write.parquet(bench_path)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "decontam",
                "--bench", bench_path,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "rows kept:" in out
    kept = int(out.rsplit("rows kept:", 1)[1].strip())
    assert kept <= docs.count() - 20  # the 20 copied docs were refused


def test_cli_release_verify(spark, sf_smoke, tmp_path, capsys):
    import json

    root = str(tmp_path / "rel")
    assert main(["release", "--out", root, "--sf-dir", sf_smoke]) == 0
    capsys.readouterr()
    assert main(["release", "--out", root, "--verify"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["ok"] and res["mismatches"] == []


def test_cli_dedup_ingest_curate(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "curate",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    import os as _os

    # full pipeline materialized both state stores
    assert _os.path.isdir(_os.path.join(sink, "_contaminated"))
    assert _os.path.isdir(_os.path.join(sink, "_lsh_buckets"))


def test_cli_dedup_ingest_curate_redact_pii(spark, sf_smoke, tmp_path, capsys):
    """--redact-pii threads through to the curation ingest: the flag is
    accepted, the run completes, and the sink equals the redacted
    batch statement (the sf corpus has no PII, so equality with the
    redact_pii batch twin plus a clean exit is the wiring proof)."""
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
    )
    from etl_wikipedia_updates_spark.plans.northstar import (
        CONTAM_BENCH_SOURCE,
    )
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "curate",
                "--redact-pii",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    expected = batch_full_curation_keep(docs, bench, redact_pii=True)
    got = read_sink(spark, sink)
    assert got.count() == expected.count()
    assert (
        got.agg(F.sum("doc_id")).first()[0]
        == expected.agg(F.sum("doc_id")).first()[0]
    )


def test_cli_redact_pii_requires_curate_mode(spark, sf_smoke, tmp_path, capsys):
    """--redact-pii outside --mode curate must fail loudly (exit 2),
    never silently ship raw PII with a clean exit."""
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    rc = main(
        [
            "dedup-ingest",
            "--replay", replay,
            "--sink", str(tmp_path / "sink"),
            "--sf-dir", sf_smoke,
            "--mode", "doc",
            "--redact-pii",
        ]
    )
    assert rc == 2
    assert "requires --mode curate" in capsys.readouterr().err


@pytest.mark.parametrize(
    "flags",
    [["--bench", "unused.parquet"], ["--decontam-mode", "spans"]],
)
def test_cli_veto_flags_require_a_veto_mode(tmp_path, capsys, flags):
    """--bench and --decontam-mode configure the benchmark veto: with a
    mode that runs no veto they exit 2 before any work starts, instead
    of being silently ignored."""
    rc = main(
        [
            "dedup-ingest",
            "--replay", str(tmp_path / "replay"),
            "--sink", str(tmp_path / "sink"),
            "--mode", "doc",
            *flags,
        ]
    )
    assert rc == 2
    assert "requires --mode decontam or curate" in capsys.readouterr().err
    assert not os.path.exists(tmp_path / "sink")


def test_cli_index_build_pq(spark, sf_smoke, tmp_path, capsys):
    """--quantize pq builds the IVF-PQ layout end-to-end through the
    CLI (codes + codebooks in metadata) and stats --recall probes it."""
    import json

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    idx = str(tmp_path / "pq")
    assert (
        main(
            [
                "index", "build", "--root", idx,
                "--sf-dir", sf_smoke, "--quantize", "pq",
            ]
        )
        == 0
    )
    meta = SnapshotTable(idx).meta_for(1)
    assert meta["quantized"] == "pq" and len(meta["pq_books"]) == 4
    capsys.readouterr()
    assert (
        main(
            [
                "index", "stats", "--root", idx,
                "--recall", "3", "--topk", "3",
            ]
        )
        == 0
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0.0 <= stats["recall"]["recall_at_k"] <= 1.0


def test_cli_shard_write_and_verify(spark, sf_smoke, tmp_path, capsys):
    """`shard` writes the fixed-shard layout with its manifest in the
    version metadata; `shard --verify` recomputes from files (exit 0),
    and a tampered version exits 1."""
    import json
    import shutil

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    root = str(tmp_path / "shards")
    assert main(["shard", "--out", root, "--sf-dir", sf_smoke]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["manifest"]
    assert SnapshotTable(root).meta_for(1)["manifest"] == out["manifest"]

    assert main(["shard", "--out", root, "--verify"]) == 0
    capsys.readouterr()

    vdir = SnapshotTable(root).version_path(1)
    victim = sorted(
        d for d in os.listdir(vdir) if d.startswith("shard=")
    )[0]
    shutil.rmtree(os.path.join(vdir, victim))
    assert main(["shard", "--out", root, "--verify"]) == 1


def test_cli_pack_write_and_verify(spark, sf_smoke, tmp_path, capsys):
    """`pack` materializes the packed stream and `pack --verify`
    recomputes the per-source counts from the WRITTEN files against
    the seq_pack audit — then a tampered directory must fail."""
    import json

    out = str(tmp_path / "packed")
    assert main(["pack", "--out", out, "--sf-dir", sf_smoke]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["seq_len"] == 512
    assert summary["sources"]

    assert main(["pack", "--out", out, "--sf-dir", sf_smoke, "--verify"]) == 0
    v = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["ok"] and not v["mismatches"]

    # tamper: drop one source's files entirely
    import shutil

    victim = next(
        d
        for d in __import__("os").listdir(out)
        if d.startswith("source=")
    )
    shutil.rmtree(out + "/" + victim)
    assert main(["pack", "--out", out, "--sf-dir", sf_smoke, "--verify"]) == 1
    v = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not v["ok"]


def test_cli_pack_shard_write_and_verify(spark, sf_smoke, tmp_path, capsys):
    """`pack --shard` (r17) publishes the packed stream through the
    manifest-verified snapshot layout (one file per
    (source, seq_id div seqs-per-file) shard); `pack --shard --verify`
    recomputes the manifest from the files; a removed shard dir fails
    the verify."""
    import json
    import shutil

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    root = str(tmp_path / "packed_shards")
    assert (
        main(
            [
                "pack", "--shard", "--out", root,
                "--sf-dir", sf_smoke, "--seqs-per-file", "4",
            ]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["manifest"]
    assert out["seqs_per_file"] == 4
    meta = SnapshotTable(root).meta_for(1)
    assert meta["manifest"] == out["manifest"]
    assert meta["kind"] == "packed"

    assert main(["pack", "--shard", "--out", root, "--verify"]) == 0
    capsys.readouterr()

    vdir = SnapshotTable(root).version_path(1)
    srcdir = sorted(
        d for d in os.listdir(vdir) if d.startswith("source=")
    )[0]
    victim = sorted(
        b
        for b in os.listdir(os.path.join(vdir, srcdir))
        if b.startswith("seq_block=")
    )[0]
    shutil.rmtree(os.path.join(vdir, srcdir, victim))
    assert main(["pack", "--shard", "--out", root, "--verify"]) == 1


def test_cli_span_store_publish_merge_audit(spark, sf_smoke, tmp_path, capsys):
    """`span-store` (r17): publish the corpus' span hashes, --merge a
    second snapshot in as v2, --audit a crawl against the store —
    audit rows must equal the library path's."""
    import json

    from etl_wikipedia_updates_spark.release import span_store_audit
    from etl_wikipedia_updates_spark.tables import load_table

    root = str(tmp_path / "span_store")
    assert main(["span-store", "--store", root, "--sf-dir", sf_smoke]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1

    assert (
        main(
            ["span-store", "--store", root, "--sf-dir", sf_smoke, "--merge"]
        )
        == 0
    )
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["version"] == 2

    assert (
        main(
            ["span-store", "--store", root, "--sf-dir", sf_smoke, "--audit"]
        )
        == 0
    )
    audit = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lib = [
        r.asDict()
        for r in span_store_audit(
            spark, load_table(spark, sf_smoke, "documents"), root
        ).collect()
    ]
    assert audit["audit"] == lib
    # self-probe against a store containing the same corpus: every
    # span is a prior dup
    assert all(r["dup_prior_spans"] == r["total_spans"] for r in lib)

    # --stats (r18): per-version telemetry from metadata alone; the
    # self-merge appends zero new distinct spans
    assert main(["span-store", "--store", root, "--stats"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    vs = stats["versions"]
    assert [s["version"] for s in vs] == [1, 2]
    assert vs[1]["growth_spans"] == 0  # same corpus merged in
    assert vs[0]["n_spans"] == vs[1]["n_spans"] > 0
    assert all(s["n_bytes"] > 0 for s in vs)
    # retention advisory (r19): 2 on-disk versions is exactly the
    # default keep_last=2 horizon — no recommendation; tightening the
    # horizon to 1 must surface the superseded v1 and its bytes
    assert "recommendation" not in stats
    assert (
        main(["span-store", "--store", root, "--stats", "--keep-last", "1"])
        == 0
    )
    tight = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "v[1]" in tight["recommendation"]
    assert str(vs[0]["n_bytes"]) in tight["recommendation"]

    # --keep-last governs the PUBLISH vacuum too (r19 review: the flag
    # was parsed but silently ignored on the publish path, which
    # vacuumed to the library default and could delete versions the
    # operator asked to keep): keep-last 3 publish retains all three
    # versions; a default publish (keep_last=2) then prunes to two
    assert (
        main(
            ["span-store", "--store", root, "--sf-dir", sf_smoke,
             "--merge", "--keep-last", "3"]
        )
        == 0
    )
    capsys.readouterr()
    assert main(["span-store", "--store", root, "--stats"]) == 0
    three = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [s["version"] for s in three["versions"]] == [1, 2, 3]
    # and a default publish (keep_last=2) prunes back down: the vacuum
    # really runs in the prune direction, versions don't accumulate
    assert (
        main(["span-store", "--store", root, "--sf-dir", sf_smoke,
              "--merge"])
        == 0
    )
    capsys.readouterr()
    assert main(["span-store", "--store", root, "--stats"]) == 0
    pruned = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [s["version"] for s in pruned["versions"]] == [3, 4]
    # keep_last < 1 is rejected up front, BEFORE any publish happens
    # (a post-publish ValueError would strand a published version
    # behind a nonzero exit)
    assert (
        main(["span-store", "--store", root, "--sf-dir", sf_smoke,
              "--keep-last", "0"])
        == 2
    )


def test_cli_dedup_ingest_span_mode(spark, sf_smoke, tmp_path, capsys):
    """--mode span (r17): the kept set must equal the batch span rule
    exactly (replay arrives in doc_id order)."""
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.decontam import batch_keep
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "span",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    assert sorted(
        r["doc_id"] for r in read_sink(spark, sink).collect()
    ) == sorted(r["doc_id"] for r in batch_keep("span", docs).collect())


def test_cli_pack_shard_from_release(spark, sf_smoke, tmp_path, capsys):
    """`pack --shard --from-release` (r17): the packed sharded
    snapshot is built from the CURATED release corpus — its manifest
    token mass equals packed_sequences over the release members, not
    the raw table — and verifies clean. Without --shard the flag
    fails loudly."""
    import json

    from etl_wikipedia_updates_spark.plans.northstar import (
        packed_sequences,
    )
    from etl_wikipedia_updates_spark.release import write_release
    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable
    from pyspark.sql import functions as F

    rel_root = str(tmp_path / "release")
    write_release(spark, sf_smoke, rel_root)
    capsys.readouterr()

    root = str(tmp_path / "packed_rel")
    assert (
        main(
            [
                "pack", "--shard", "--out", root,
                "--sf-dir", sf_smoke,
                "--from-release", rel_root,
                "--seqs-per-file", "4",
            ]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    meta = SnapshotTable(root).meta_for(out["version"])
    assert meta["source"].startswith(f"release {rel_root} v")
    rel_docs = SnapshotTable(rel_root).read(spark)
    want = packed_sequences(rel_docs).agg(
        F.sum("n_tokens").alias("s")
    ).first()["s"]
    assert sum(r["n_chars_total"] for r in out["manifest"]) == want

    assert main(["pack", "--shard", "--out", root, "--verify"]) == 0
    capsys.readouterr()

    assert (
        main(
            [
                "pack", "--out", str(tmp_path / "x"),
                "--sf-dir", sf_smoke, "--from-release", rel_root,
            ]
        )
        == 2
    )
