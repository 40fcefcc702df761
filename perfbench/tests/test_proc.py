"""Process-tree CPU time counts children, ended ones included."""

import subprocess
import sys
import time

from perfbench.proc import tree_cpu_s, tree_pids, vm_hwm_mb

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_counts_a_live_child():
    p = subprocess.Popen([sys.executable, "-c", BUSY.format(s=5)])
    try:
        time.sleep(1.0)
        assert str(p.pid) in tree_pids()
        c0 = tree_cpu_s()
        time.sleep(1.0)
        assert tree_cpu_s() - c0 >= 0.3
    finally:
        p.kill()
        p.wait()


def test_tree_keeps_the_time_of_an_ended_child():
    c0 = tree_cpu_s()
    subprocess.run([sys.executable, "-c", BUSY.format(s=0.5)], check=True)
    assert tree_cpu_s() - c0 >= 0.45


def test_peak_rss_is_positive():
    assert vm_hwm_mb() > 1.0
