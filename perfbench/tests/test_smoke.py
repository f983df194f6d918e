"""Short end-to-end runs of each workload through the command line.

Each run starts its own Spark session (about 40 s apiece on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")
ROOT = os.path.dirname(os.path.dirname(RUN))


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=300)


def _survivors(workload: str) -> list[int]:
    """Pids of processes still running with a run directory of
    ``workload`` in their environment (SPARK_LOCAL_DIRS, TMPDIR)."""
    mark = os.path.join(ROOT, ".bench_run", workload + "-").encode()
    out = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if mark in fh.read():
                    out.append(int(name))
        except (OSError, ValueError):
            continue
    return out


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", ["wiki_live", "curate_replay", "query_suite"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_prints_every_metric(workload, trace):
    trace_file = os.path.join(ROOT, ".bench_run", f"{workload}-trace.json")
    if os.path.exists(trace_file):
        os.remove(trace_file)
    p = _run("--workload", workload, "--seed", "1", "--seconds", "3", "--trace", trace)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    assert _survivors(workload) == []
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] >= 1 and out["failed"] == 0
    spec = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        with open(trace_file) as fh:
            written = json.load(fh)
        assert written["workload"] == workload and written["ledger"] and written["spans"]


def test_fails_without_the_engine(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(os.path.dirname(RUN)):
        src = os.path.join(os.path.dirname(RUN), name)
        if os.path.isfile(src):
            (bench_dir / name).write_bytes(open(src, "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_spec()))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wiki_live", "--seed", "1",
         "--seconds", "3", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert not p.stdout.strip()
