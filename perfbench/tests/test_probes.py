"""/proc readers that need no Spark."""

import os
import subprocess
import sys
import time

from perfbench import probes


def _spin(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_tree_cpu_counts_own_cpu():
    before = probes.tree_cpu_s(os.getpid())
    _spin(0.3)
    assert probes.tree_cpu_s(os.getpid()) - before >= 0.2


def test_tree_cpu_keeps_cpu_of_a_child_that_ended():
    before = probes.tree_cpu_s(os.getpid())
    code = "import time\nend = time.process_time() + 0.3\nwhile time.process_time() < end: pass"
    subprocess.run([sys.executable, "-c", code], check=True)
    assert probes.tree_cpu_s(os.getpid()) - before >= 0.2
