"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload crawl_cached --seed 1 --seconds 10 --trace 0

Checks the host, runs the workload in its own process (``workload.py``)
under an idle-CPU watchdog, makes sure that process tree left nothing
running, and prints the result as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it is an ``info`` record: host, sizing, versions, inputs,
sample counts. See ``perfbench/README.md`` for every metric.

Run it from the root of a source tree that holds ``doonop_spark``; it
writes only under ``.perfbench_work/`` there and removes what it wrote.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from procs import HZ, TreeMeter, alive, host_check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_cached", "crawl_scale", "text_dedup")
IDLE_KILL_S = 30.0  # a healthy Spark tree is never this long below 5% of a core
DEADLINE_S = 170.0  # the whole benchmark must end within 180 s
ORPHAN_GRACE_S = 10.0


def source_identity() -> dict:
    """The git commit when the tree is a checkout, and always a digest of
    the engine's sources, so every result names the code it measured."""
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(path):
                with open(path) as fh:
                    commit = fh.read().strip()
        else:
            commit = ref
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "doonop_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def watch(cmd: list[str], env: dict, out_path: str, err_path: str) -> dict:
    """Run ``cmd`` and kill its whole tree when it has been CPU-idle for
    IDLE_KILL_S (a Python worker that died under a blocked executor thread)
    or runs past the deadline. Returns the exit code, why it was killed and
    every process the tree held, with their start times."""
    with open(out_path, "w") as out, open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, env=env, cwd=ROOT)
    meter = TreeMeter(proc.pid)
    seen: set[tuple[int, int]] = set()
    start = last_busy = time.monotonic()
    last_cpu, killed = 0.0, None
    while proc.poll() is None:
        time.sleep(1.0)
        s = meter.sample()
        seen.update(s["pids"])
        now = time.monotonic()
        if s["total"] - last_cpu >= 0.05:
            last_busy = now
        last_cpu = s["total"]
        if now - last_busy > IDLE_KILL_S:
            killed = f"idle for {IDLE_KILL_S:.0f} s"
        elif now - start > DEADLINE_S:
            killed = f"past the {DEADLINE_S:.0f} s deadline"
        if killed:
            for pid, st in seen:
                if alive(pid, st):
                    os.kill(pid, signal.SIGKILL)
            break
    proc.wait()
    return {"code": proc.returncode, "killed": killed, "pids": seen}


def reap(pids: set[tuple[int, int]]) -> int:
    """Wait for the tree's processes to exit; kill what is left after the
    grace period. Returns how many were left (orphans)."""
    deadline = time.monotonic() + ORPHAN_GRACE_S
    while time.monotonic() < deadline:
        left = [(p, s) for p, s in pids if alive(p, s)]
        if not left:
            return 0
        time.sleep(0.2)
    for pid, st in left:
        if alive(pid, st):
            os.kill(pid, signal.SIGKILL)
    for pid, st in left:
        while alive(pid, st):
            time.sleep(0.05)
    return len(left)


def median(vals: list[float]) -> float:
    return statistics.median(vals)


def summarize(records: list[dict], layer_units: dict[str, str] | None) -> dict:
    """End-to-end metrics, or per-layer ones when ``layer_units`` is given:
    medians over the measured runs that passed their check."""
    setup = next(r for r in records if r["kind"] == "setup")
    runs = [r for r in records if r["kind"] == "run"]
    plain = [r for r in runs if r["ok"] and not r["traced"]]
    if layer_units is None:
        return {
            "run_s": (median([r["run_s"] for r in plain]), "s"),
            "items_per_sec": (median([r["items"] / r["run_s"] for r in plain]), "1/s"),
            "cpu_s": (median([r["cpu_s"] for r in plain]), "s"),
            "peak_rss_mb": (median([r["peak_rss_mb"] for r in plain]), "MB"),
            "setup_s": (setup["setup_s"], "s"),
        }
    traced = [r for r in runs if r["ok"] and r["traced"]]
    layers = {}
    for name, unit in layer_units.items():
        vals = [r["layers"][name] for r in traced if name in r["layers"]]
        layers[name] = (median(vals) if vals else 0.0, unit)
    layers["trace.overhead_s"] = (
        median([r["run_s"] for r in traced]) - median([r["run_s"] for r in plain]),
        "s",
    )
    return layers


def layer_units() -> dict[str, str]:
    """Per-layer metric units from BENCHMARK.json; ``trace.overhead_s`` is
    computed here from traced and untraced runs, not by a run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"] if m["name"] != "trace.overhead_s"}


def counts_repeat(records: list[dict]) -> bool:
    """Every run, traced or not, made the same number of Spark jobs and
    waves and reported the same engine counts; integer layer metrics are
    identical across traced runs."""
    ok = [r for r in records if r["kind"] == "run" and r["ok"]]
    counts = [r["counts"] for r in ok]
    ints = [
        {k: v for k, v in r["layers"].items() if isinstance(v, int)}
        for r in ok
        if r["traced"]
    ]
    return all(c == counts[0] for c in counts) and all(c == ints[0] for c in ints)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "doonop_spark")):
        print(f"no doonop_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = layer_units() if a.trace else None
    host = host_check()
    for key in ("busy_processes", "foreign_spark_processes"):
        if host[key]:
            print(f"host check: {key}: {host[key]}", file=sys.stderr)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ)
    # Spark's Python workers import the engine from here
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
    ]
    out_path, err_path = os.path.join(work, "stdout"), os.path.join(work, "stderr")
    try:
        w = watch(cmd, env, out_path, err_path)
        orphans = reap(w["pids"])
        with open(out_path) as fh:
            records = [json.loads(ln) for ln in fh if ln.startswith('{"kind"')]
        with open(err_path) as fh:
            err_tail = fh.read()[-4000:]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    runs = [r for r in records if r["kind"] == "run"]
    setup = [r for r in records if r["kind"] == "setup"]
    # a process that died or was killed after its last record was mid-run
    cut = w["killed"] is not None or w["code"] != 0
    failed = sum(not r["ok"] for r in runs) + cut
    attempted = len(runs) + cut
    measured_ok = [r for r in runs if r["ok"]]
    if cut or failed:
        print(f"workload process: exit {w['code']}, killed: {w['killed']}", file=sys.stderr)
        for r in runs:
            if not r["ok"]:
                print(f"failed run: {r['problems']}", file=sys.stderr)
        print(err_tail, file=sys.stderr)
    needed = [r for r in measured_ok if not r["traced"]]
    if a.trace:
        needed = needed and [r for r in measured_ok if r["traced"]]
    if not setup or not needed:
        print("no completed run to report", file=sys.stderr)
        return 1
    metrics = summarize(records, units)
    info = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "host": host,
        "source": source_identity(),
        "orphans_left": orphans,
        "failed_share": failed / attempted if attempted else 1.0,
        "counts_repeat": counts_repeat(records),
        "samples": {
            "untraced": sum(not r["traced"] for r in measured_ok),
            "traced": sum(r["traced"] for r in measured_ok),
        },
        **{k: v for k, v in setup[0].items() if k != "kind"},
        "cpu_hz": HZ,
    }
    if not info["counts_repeat"]:
        print("counts differ between runs: " + json.dumps([r["counts"] for r in measured_ok]), file=sys.stderr)
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and orphans == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
