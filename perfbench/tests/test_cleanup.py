"""The runner leaves no process behind: orphaned descendants are adopted
and reaped, and multiprocessing's resource tracker is stopped."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# Run in a child interpreter, so the test process itself never becomes a
# subreaper.  It starts a resource tracker and an orphaned grandchild
# (``sh`` exits at once and leaves ``sleep`` behind), reaps, and prints
# the children it still has.
_SCRIPT = """
import multiprocessing, subprocess, time
from perfbench import harness

harness.become_subreaper()
multiprocessing.get_context("spawn").Lock()   # starts the tracker
subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
time.sleep(0.2)
before = harness._children()
harness.reap_children(timeout_s=0.5)
print(len(before), len(harness._children()))
"""


def test_reap_children_leaves_no_child():
    out = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=ROOT,
                         capture_output=True, text=True, timeout=60,
                         check=True).stdout.split()
    before, after = int(out[0]), int(out[1])
    assert before >= 2   # the tracker and the adopted sleep
    assert after == 0
