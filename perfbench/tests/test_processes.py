"""stop_processes: a run waits for every process it started, orphaned
grandchildren included. No Spark: the children are shell sleeps."""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The shell exits at once; its background sleep is orphaned, so without
# the subreaper it would belong to init and outlive the script.
SCRIPT = """
import subprocess, sys, time
sys.path.insert(0, sys.argv[1])
import harness
harness.adopt_orphans()
sh = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True,
                    text=True)
orphan = int(sh.stdout)
child = subprocess.Popen(["sleep", "60"], stdout=subprocess.DEVNULL)
print(orphan, child.pid, flush=True)
t0 = time.time()
harness.stop_processes()
print(harness._children(), round(time.time() - t0, 1), flush=True)
"""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_stop_processes_ends_children_and_orphans():
    p = subprocess.run([sys.executable, "-c", SCRIPT, HERE], capture_output=True, text=True,
                       timeout=60)
    assert p.returncode == 0, p.stderr
    first, second = p.stdout.splitlines()
    orphan, child = map(int, first.split())
    left, seconds = second.rsplit(" ", 1)
    assert left == "[]"
    assert float(seconds) < 5  # SIGTERM ends a sleep; no wait for the SIGKILL deadline
    assert not _alive(orphan) and not _alive(child)
