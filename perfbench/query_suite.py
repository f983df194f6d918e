"""query_suite: fresh-built registry queries, one closed-loop client.

Each pass runs every query of QUERIES once, in a fixed order, over its
own seeded tables in the TESTDATA.md schemas (gen.query_tables). The
order is fixed because the pass includes first-run costs that queries
share (operator classes, code generation): a seed-permuted order moves
those costs from query to query, and in five seeds it spread the
per-query median by 45 % of its value. Each query is built with ``DeclaredQuery.builder``
— as ``cmd_run`` does, bypassing ``_PLAN_CACHE`` — then executed into
the noop sink. One pass per SECONDS_PER_PASS of --seconds (at least
one). The pass includes each query's first run in the JVM, as a
one-shot ``cmd_run`` pays it.

QUERIES is a fixed subset of the registry: a full pass of all 90
queries takes about 46 s warm and 94 s cold on 4 cores at these table
sizes, more than a benchmark run can afford. The subset keeps the
eager, builder-heavy near-dup and quality builders (dedup_clusters,
incremental_dedup, ccnet_buckets), a star join, the pandas-UDF
surface and the wiki transform.

Outside the timed passes, the DataFrame each query's builder returned
in the first pass is collected and checked against the query's DuckDB
oracle over the same tables through ``oracle.compare_frames``.
"""

from __future__ import annotations

import time

import gen
import stats
from harness import CheckFailed, peak_rss_mb

QUERIES = (
    "dedup_clusters", "incremental_dedup", "ccnet_buckets", "q5", "q28",
    "wiki_pipeline",
)
SECONDS_PER_PASS = 8  # one timed pass per 8 s of --seconds
WARMUP_QUERIES = ("q5", "q28")
WARMUP_SEED = 0  # the warm-up tables are the same for every run


def _install_spans(tracer) -> None:
    import sys

    from etl_wikipedia_updates_spark import tables

    orig = tables.load_table
    for name, mod in list(sys.modules.items()):
        if name.startswith("etl_wikipedia_updates_spark") and getattr(mod, "load_table", None) is orig:
            tracer.wrap(mod, "load_table", "tables.load_table")


def _run_query(spark, tracer, q, sf: str, tag: str):
    """Build then execute one query; (DataFrame, build s, exec s,
    catalyst ms)."""
    import tracing

    sc = spark.sparkContext
    sc.setJobGroup(f"query_suite:{q.name}:build", tag)
    t0 = time.time()
    if tracer is None:
        df = q.builder(spark, sf)
        phases = {}
    else:
        with tracer.span("plans.build", query=q.name, tag=tag):
            df = q.builder(spark, sf)
        phases = tracing.phase_ms(df)
    t1 = time.time()
    sc.setJobGroup(f"query_suite:{q.name}:exec", tag)
    df.write.format("noop").mode("overwrite").save()
    return df, t1 - t0, time.time() - t1, phases


def _tables(ctx, name: str, seed: int) -> str:
    d = ctx.path(name)
    gen.write_tables(gen.query_tables(seed), d)
    return d


def run(ctx) -> dict:
    n_passes = max(1, ctx.seconds // SECONDS_PER_PASS)
    # Each pass reads its own tables, so the session's per-table memos
    # (keyed by table directory) start cold in every pass, as a one-shot
    # ``cmd_run`` finds them. The warm-up runs WARMUP_QUERIES over fixed
    # tables of their own: it starts the JVM's SQL machinery and the
    # Python workers; the other queries' first-run costs stay in the pass.
    warm_sf = _tables(ctx, "warm_tables", WARMUP_SEED)
    sfs = [_tables(ctx, f"tables{k}", ctx.seed * 1000 + k) for k in range(n_passes)]
    spark = ctx.start_spark()
    from etl_wikipedia_updates_spark.registry import REGISTRY

    tracer = ctx.tracer
    t_warm = time.time()
    for name in WARMUP_QUERIES:
        _run_query(spark, None, REGISTRY.queries[name], warm_sf, "warmup")
    warmup_s = time.time() - t_warm
    ctx.mark_ready()
    if tracer is not None:
        _install_spans(tracer)

    rows = []  # one ledger row per query per pass
    passes = []
    built = {}  # the first pass's DataFrames, checked after the passes
    for k, sf in enumerate(sfs):
        t_pass = time.time()
        for name in QUERIES:
            df, b, e, ph = _run_query(spark, tracer, REGISTRY.queries[name], sf, f"pass{k}")
            built.setdefault(name, df)
            rows.append({"query": name, "pass": k, "build_s": b, "exec_s": e, **ph})
        passes.append(time.time() - t_pass)
    elapsed = sum(passes)

    spark.sparkContext.setJobGroup("query_suite:check:oracle", "check")
    checked = _check(REGISTRY, sfs[0], built)
    per_query = stats.summarize([r["build_s"] + r["exec_s"] for r in rows])
    m = {
        "setup_s": ctx.setup_s,
        "session.peak_rss_mb": peak_rss_mb(spark),
        "throughput_per_s": len(rows) / elapsed,
        "lat_p50_s": per_query["p50"],
        "lat_tail_s": per_query["tail"],
    }
    named = {
        "suite_s": (stats.percentile(passes, 50), "s"),
        "query_p50_s": (per_query["p50"], "s"),
        f"query_tail_s (p{per_query['tail_pct']:g}, n={per_query['n']})": (per_query["tail"], "s"),
        "queries_per_s": (m["throughput_per_s"], "1/s"),
        "error_rate": (0.0, "fraction"),
        "setup_s": (ctx.setup_s, "s"),
        "session.start_s": (ctx.session_start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "peak_rss_mb": (m["session.peak_rss_mb"], "MB"),
    }
    ctx.add_report(f"workload query_suite  seed {ctx.seed}  seconds {ctx.seconds}  "
                   f"trace {int(ctx.trace)}  passes {len(passes)}  queries {len(QUERIES)}  "
                   f"checked {checked}", named)
    layer = {
        "session.start_s": ctx.session_start_s,
        "session.warmup_s": warmup_s,
        "plans.build_s": sum(r["build_s"] for r in rows),
        "operators.exec_s": sum(r["exec_s"] for r in rows),
        "trace.throughput_per_s": m["throughput_per_s"],
        "trace.lat_p50_s": m["lat_p50_s"],
        "trace.setup_s": ctx.setup_s,
    }
    if tracer is not None:
        layer.update(_traced(ctx, rows))
    return {"correct": True, "attempted": len(rows), "failed": 0, "metrics": {**m, **layer}}


def _check(registry, sf: str, built: dict) -> int:
    """Every query's built DataFrame against its DuckDB oracle over
    the tables in ``sf``."""
    from etl_wikipedia_updates_spark.oracle import compare_frames, duckdb_connection

    duck = duckdb_connection(sf)
    try:
        for name in QUERIES:
            q = registry.queries[name]
            res = compare_frames(name, built[name].toPandas(), duck.sql(q.oracle).df())
            if not res.ok:
                raise CheckFailed(f"{name}: {res.detail}")
    finally:
        duck.close()
    return len(QUERIES)


def _traced(ctx, rows: list[dict]) -> dict:
    import tracing

    tr = ctx.tracer
    tr.unwrap_all()
    builds = tr.named("plans.build")
    loads = tr.named("tables.load_table")
    ctx.spark.stop()
    ctx.spark = None
    log = tracing.read_event_log(ctx.path("eventlog"))

    def group_jobs(name, phase, tag):
        return tracing.jobs_where(
            log, lambda j: j["group"] == f"query_suite:{name}:{phase}" and j["desc"] == tag)

    ledger = []
    for r, sp in zip(rows, builds):
        tag = f"pass{r['pass']}"
        bj = tracing.job_totals(log, group_jobs(r["query"], "build", tag))
        ej = tracing.job_totals(log, group_jobs(r["query"], "exec", tag))
        ledger.append({**r, "py4j": sp["py4j"], "builder_jobs": bj["jobs"],
                       "builder_job_s": bj["job_s"], "exec_jobs": ej["jobs"],
                       "shuffle_bytes": ej["shuffle_write"] + ej["shuffle_read"], "_exec": ej})
    ex = [lg["_exec"] for lg in ledger]
    tot = lambda k: sum(e[k] for e in ex)  # noqa: E731
    out = {
        "plans.py4j_calls": sum(lg["py4j"] for lg in ledger),
        "plans.builder_jobs": sum(lg["builder_jobs"] for lg in ledger),
        "plans.builder_job_s": sum(lg["builder_job_s"] for lg in ledger),
        "tables.load_ms": 1000 * sum(s["end"] - s["start"] for s in loads),
        "catalyst.analysis_ms": sum(r.get("analysis", 0) for r in rows),
        "catalyst.optimization_ms": sum(r.get("optimization", 0) for r in rows),
        "catalyst.planning_ms": sum(r.get("planning", 0) for r in rows),
        "operators.jobs": tot("jobs"),
        "operators.tasks": tot("tasks"),
        "operators.task_s": tot("task_s"),
        "operators.shuffle_write_mb": tot("shuffle_write") / 2**20,
        "operators.shuffle_read_mb": tot("shuffle_read") / 2**20,
        "operators.spill_mb": tot("spill") / 2**20,
        "operators.stage_skew": max((e["skew"] for e in ex), default=0.0),
        "operators.python_s": tot("python_s"),
        "trace.overhead_s": tr.overhead_s(),
    }
    ctx.report.append("  ledger: query pass build_s py4j builder_jobs builder_job_s exec_s exec_jobs shuffle_kb")
    for lg in ledger:
        ctx.report.append(
            f"    {lg['query']:<20} {lg['pass']:>2} {lg['build_s']:8.3f} {lg['py4j']:6d} "
            f"{lg['builder_jobs']:4d} {lg['builder_job_s']:8.3f} {lg['exec_s']:8.3f} "
            f"{lg['exec_jobs']:4d} {lg['shuffle_bytes'] / 1024:10.1f}")
    ctx.ledger = [{k: v for k, v in lg.items() if k != "_exec"} for lg in ledger]
    return out
