"""A run waits for every process it started, orphaned grandchildren
(the JVM's Python workers) included."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# runs in its own interpreter: it adopts orphans and reaps every child
_SCRIPT = """
import subprocess, time
from perfbench.run import _adopt_orphans, _children, _end_processes

_adopt_orphans()
# the shell exits at once and leaves its sleep behind as an orphan
subprocess.run(["sh", "-c", "sleep 1 &"], stdout=subprocess.DEVNULL)
t = time.monotonic()
_end_processes(grace_s=20)
print(round(time.monotonic() - t, 2), _children())
"""


def test_the_run_waits_for_an_orphaned_grandchild():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.split()
    waited, left = float(out[0]), out[1]
    assert left == "[]"
    assert 0.5 < waited < 5  # it waited for the sleep, and did not need to kill it
