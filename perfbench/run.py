"""Repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload wiki_live --seed 1 --seconds 20 --trace 0

Workloads (perfbench/METRICS.md has the full definition):
  wiki_live      open-loop Wikimedia-shaped SSE feed through the v2 ingest path
  curate_replay  availableNow document replay through the full curation ingest
  query_suite    fresh-built registry queries into the noop sink

Every run builds its inputs from --seed, sets up a Spark session,
warms up, measures for about --seconds, then checks the engine's
output against a batch or DuckDB reference. It prints a readable
report, then as its LAST line one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the same workload runs with span wrappers, a py4j call
counter and the Spark event log enabled, and the metrics are the
per-layer metrics (0 where the workload does not exercise the layer);
the traced run also writes its spans and its per-query or per-batch
ledger to .bench_run/<workload>-trace.json.
A failed output check prints the report, no JSON line, and exits 1.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from harness import (  # noqa: E402
    ROOT,
    CheckFailed,
    Context,
    adopt_orphans,
    exit_on_sigterm,
    set_environment,
    shutdown,
)

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
RUN_DIR = os.path.join(ROOT, ".bench_run")
WORKLOADS = ("wiki_live", "curate_replay", "query_suite")


def load_metric_specs() -> tuple[dict, dict]:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    return e2e, layer


def write_trace(ctx: Context) -> None:
    """The traced run's spans and ledger, kept after the run."""
    path = os.path.join(RUN_DIR, f"{ctx.workload}-trace.json")
    with open(path, "w") as fh:
        json.dump({"workload": ctx.workload, "seed": ctx.seed, "ledger": ctx.ledger,
                   "spans": ctx.tracer.spans}, fh)
    ctx.report.append(f"  spans and ledger: {os.path.relpath(path, ROOT)}")


def emit(ctx: Context, result: dict) -> None:
    """Readable report, then the JSON result as the last stdout line."""
    e2e, layer = load_metric_specs()
    specs = layer if ctx.trace else e2e
    got = result["metrics"]
    metrics = {}
    for name, spec in specs.items():
        # every workload measures every end-to-end metric; a layer it
        # does not exercise reads 0
        value = got.get(name, 0.0) if ctx.trace else got[name]
        metrics[name] = {"value": float(value), "unit": spec["unit"]}
    for line in ctx.report:
        print(line)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }), flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    exit_on_sigterm()

    if not os.path.isdir(os.path.join(ROOT, "etl_wikipedia_updates_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    adopt_orphans()
    workdir = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    set_environment(workdir)
    ctx = Context(args, workdir, T_PROCESS)
    if ctx.trace:
        import tracing

        ctx.tracer = tracing.Tracer(ctx.workload)
    import importlib

    mod = importlib.import_module(args.workload)
    code = 1
    try:
        result = mod.run(ctx)
        code = 0
    except CheckFailed as exc:
        print("\n".join(ctx.report), flush=True)
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
    except Exception:  # noqa: BLE001 - any failure ends the run without a result
        print("\n".join(ctx.report), flush=True)
        traceback.print_exc()
    finally:
        shutdown(ctx.spark)
        shutil.rmtree(workdir, ignore_errors=True)
    if code == 0:
        if ctx.trace:
            write_trace(ctx)
        emit(ctx, result)
    return code


if __name__ == "__main__":
    sys.exit(main())
