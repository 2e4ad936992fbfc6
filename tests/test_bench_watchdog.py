"""bench.py watchdog + sampling helpers — pure-Python, no Spark.

Round 5 hardening: a fixed 1800 s wall-clock watchdog killed a HEALTHY
local[2] scaling level twice on a slow host (each frontier run ~200 s →
2 warmups + 5 runs > 30 min), crashing the whole bench. The watchdog now
kills on sustained CPU idleness (the dead-python-worker hang signature:
load flat at ~0 with one parked JVM) and the per-level sample count
adapts to a time budget instead of assuming the host's speed.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _noop_reap() -> None:
    """Test stand-in for _reap_spark_orphans — the real one pkills
    pyspark-shell, which would murder the test suite's own session."""


# --------------------------------------------------------------------------
# _budgeted_runs / _warmups


def test_budgeted_runs_stops_at_min_when_over_budget():
    calls = []
    out = bench._budgeted_runs(
        lambda: calls.append(time.sleep(0.05)) or len(calls),
        max_runs=5,
        budget_s=0.01,
        min_runs=2,
    )
    assert out == [1, 2]  # budget exceeded after run 1, but min_runs=2 honored


def test_budgeted_runs_takes_all_when_budget_allows():
    out = bench._budgeted_runs(lambda: 1.0, max_runs=5, budget_s=60.0)
    assert out == [1.0] * 5


def test_warmups_skip_second_on_slow_host():
    calls = []
    bench._warmups(
        lambda: calls.append(time.sleep(0.05)), full_warmups=2, slow_run_s=0.01
    )
    assert len(calls) == 1  # first warmup already "slow" → second skipped


def test_warmups_run_both_when_fast():
    calls = []
    bench._warmups(lambda: calls.append(None), full_warmups=2, slow_run_s=10.0)
    assert len(calls) == 2


# --------------------------------------------------------------------------
# _tree_cpu_jiffies


def test_tree_cpu_jiffies_sees_busy_descendants():
    import subprocess

    # grandchild spinner: the busy process is NOT the direct child, so a
    # pass proves the ppid-tree walk (java under python under the bench).
    # start_new_session puts child AND grandchild in one process group so
    # teardown can killpg them atomically — TERMing the middle process
    # first reparents the spinner to init before any pkill -P can match
    # it, orphaning a core-burning loop that poisons every later benchmark
    # on the host (observed three times before this fix).
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import subprocess,sys;"
            "p=subprocess.Popen([sys.executable,'-c','\\nwhile True: pass']);"
            "p.wait()",
        ],
        start_new_session=True,
    )
    try:
        time.sleep(0.3)
        j0 = bench._tree_cpu_jiffies(child.pid)
        time.sleep(0.5)
        j1 = bench._tree_cpu_jiffies(child.pid)
        assert j1 - j0 >= 10  # ~0.5 s of one spinning core (HZ>=100 → ~50)
    finally:
        import os
        import signal

        os.killpg(child.pid, signal.SIGKILL)  # pgid == child.pid (new session)
        child.wait()


def test_tree_cpu_jiffies_idle_process_near_zero():
    import subprocess

    child = subprocess.Popen(["sleep", "5"])
    try:
        time.sleep(0.2)
        j0 = bench._tree_cpu_jiffies(child.pid)
        time.sleep(0.5)
        j1 = bench._tree_cpu_jiffies(child.pid)
        assert j1 - j0 <= 2
    finally:
        child.kill()
        child.wait()


# --------------------------------------------------------------------------
# _run_watchdogged


def test_watchdog_passes_through_healthy_output():
    out = bench._run_watchdogged(
        [sys.executable, "-c", "print('ok-line')"],
        idle_kill_s=30,
        poll_s=0.5,
        reap=_noop_reap,
    )
    assert out.returncode == 0
    assert "ok-line" in out.stdout


def test_watchdog_kills_idle_process_and_raises_after_retry():
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="failed twice"):
        bench._run_watchdogged(
            ["sleep", "60"], idle_kill_s=1, poll_s=0.3, reap=_noop_reap
        )
    # both attempts idle-killed promptly — nowhere near the sleep duration
    assert time.monotonic() - t0 < 30


def test_watchdog_tolerates_slow_but_busy_process():
    # busy-spins ~2.5 s then prints: far past idle_kill_s=1, but never idle
    out = bench._run_watchdogged(
        [
            sys.executable,
            "-c",
            "import time;"
            "t=time.monotonic()\n"
            "while time.monotonic()-t<2.5: pass\n"
            "print('survived')",
        ],
        idle_kill_s=1,
        poll_s=0.3,
        reap=_noop_reap,
    )
    assert "survived" in out.stdout


def test_watchdog_retries_nonzero_exit_then_raises():
    with pytest.raises(RuntimeError, match="failed twice"):
        bench._run_watchdogged(
            [sys.executable, "-c", "import sys; sys.exit(3)"],
            idle_kill_s=30,
            poll_s=0.5,
            reap=_noop_reap,
        )
