import subprocess
import sys

from perfbench import harness

# allocates and touches 200 MB, frees it, then waits for a line on stdin
CHILD = """
import sys
block = bytearray(200 * 1024 * 1024)
del block
print("freed", flush=True)
sys.stdin.readline()
"""


def test_peak_rss_sees_a_child_and_resets():
    child = subprocess.Popen([sys.executable, "-c", CHILD], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "freed"
        assert child.pid in harness.child_pids()
        assert harness.peak_rss_mb() >= 200
        harness.reset_peak_rss()
        assert harness.peak_rss_mb() < 100
    finally:
        child.stdin.close()
        child.wait(timeout=30)
