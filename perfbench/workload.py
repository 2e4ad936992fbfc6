"""One workload in one process: start a host-sized Spark session, set the
workload up, warm it (JIT, code generation, Python workers), then run it until ``--seconds`` have passed, writing
one JSON record per run to stdout. ``run.py`` starts this process, watches
it and turns the records into the benchmark's result.

With ``--trace 1`` runs alternate between traced and untraced (traced,
untraced, traced, ...), at least one of each. Every run counts its Spark
jobs, so job counts can be compared across traced and untraced runs.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from procs import TreeMeter, mem_total_bytes  # noqa: E402

# input set-ups per process. setup_s is the process's real set-up time
# with the PREP_REPS prepare calls counted once, at their median: session
# start + median prepare + warm-up
PREP_REPS = 3


def emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def host_sizing() -> dict:
    """local[n] from the CPUs this process may run on; the driver heap (the
    whole of Spark in local mode) is an eighth of RAM, 1 to 4 GiB, leaving
    the rest to Python workers and other tenants."""
    n = len(os.sched_getaffinity(0))
    mem = mem_total_bytes()
    heap_mb = max(1024, min(4096, mem // 8 // 2**20))
    return {"nproc": n, "mem_total_mb": mem // 2**20, "driver_memory_mb": heap_mb}


def start_session(work: str, sizing: dict):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = sizing["nproc"]
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", f"{sizing['driver_memory_mb']}m")
        # a heap fixed and touched at start: otherwise the JVM's resident
        # size follows when G1 grows the heap, and peak_rss_mb varies by a
        # quarter between runs of the same work
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{sizing['driver_memory_mb']}m -XX:+AlwaysPreTouch",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class PeakRss(threading.Thread):
    """Samples the tree's resident memory every 0.2 s; ``take()`` returns
    the peak since the previous call."""

    def __init__(self, meter: TreeMeter):
        super().__init__(daemon=True)
        self.meter = meter
        self.peak = 0.0
        self.stop = threading.Event()
        self.lock = threading.Lock()

    def run(self) -> None:
        while not self.stop.wait(0.2):
            rss = self.meter.sample()["rss_mb"]
            with self.lock:
                self.peak = max(self.peak, rss)

    def take(self) -> float:
        rss = self.meter.sample()["rss_mb"]
        with self.lock:
            peak, self.peak = max(self.peak, rss), 0.0
        return peak


def crawl_layers(tr, out: dict, run_s: float) -> dict:
    c, g = tr.counts, tr.get
    waves = tr.get("wave_fetched", "calls") + tr.get("wave_missed", "calls")
    jobs = sum(s["jobs"] for s in tr.spans.values())
    named = sum(s["s"] for s in tr.spans.values())
    engine_s = run_s - tr.bookkeeping_s
    links_in = c.get("wave_fetched.links", 0) + c.get("wave_missed.links", 0)
    new_rows = c.get("new_links.rows", 0)
    scheduled = c.get("wave.kept", c.get("wave.rows", 0))
    flagged = c.get("links_flagged.rows", 0)

    def fetch(k):
        return c.get(f"wave_fetched.{k}", 0) + c.get(f"wave_missed.{k}", 0)

    def py(*names):
        return sum(g(n, "py_s") for n in names)

    return {
        "loop.waves": waves,
        "loop.jobs": jobs,
        "loop.jobs_per_wave": jobs / waves if waves else 0.0,
        "loop.driver_s": engine_s - named,
        "loop.driver_jobs": tr.get("driver", "jobs"),
        "schedule.s": g("wave"),
        "schedule.rows": scheduled,
        "schedule.deferred_rows": c.get("wave.rows", 0) - scheduled,
        "fetch.s": g("wave_fetched") + g("wave_missed"),
        "fetch.rows": fetch("rows"),
        "fetch.ok": fetch("ok"),
        "fetch.error": fetch("error"),
        "fetch.timeout": fetch("timeout"),
        "fetch.peak_rows_per_s": max(tr.fetch_rates, default=0.0),
        "fetch.py_cpu_s": py("wave_fetched", "wave_missed"),
        "expand.s": g("new_links"),
        "expand.links_in": links_in,
        "expand.new_rows": new_rows,
        "expand.yield": new_rows / links_in if links_in else 0.0,
        "expand.py_cpu_s": py("new_links"),
        "bloom.build_s": g("bloom_build"),
        "bloom.probe_s": g("links_flagged"),
        "bloom.fold_s": g("bloom_fold"),
        "bloom.maybe_share": c.get("links_flagged.maybe", 0) / flagged if flagged else 0.0,
        "bloom.py_cpu_s": py("bloom_build", "links_flagged", "bloom_fold"),
        "commit.frontier_s": g("frontier"),
        "commit.frontier_rows": c.get("frontier.rows", 0),
        "commit.seen_s": g("append:seen"),
        "commit.results_s": g("append:results") + g("append:metrics") + g("results"),
        "trace.coverage": named / engine_s,
    }


def dedup_layers(tr, out: dict, run_s: float) -> dict:
    g = tr.get
    named = sum(s["s"] for s in tr.spans.values())
    return {
        "textdedup.minhash_pairs_s": g("minhash_pairs"),
        "textdedup.candidates": out["candidates"],
        "textdedup.keep_s": g("keep"),
        "textdedup.kept": out["kept"],
        "textdedup.jaccard_s": g("jaccard"),
        "textdedup.jaccard_pairs": out["jaccard_pairs"],
        "textdedup.py_cpu_s": sum(g(n, "py_s") for n in ("minhash_pairs", "keep", "jaccard")),
        "trace.coverage": named / (run_s - tr.bookkeeping_s),
    }


def reconcile(layers: dict, out: dict) -> list[str]:
    """Trace counts must agree with the engine's own Statistics."""
    if "stats" not in out:
        return []
    s = out["stats"]
    problems = []
    if layers["fetch.rows"] != s["count_visited"]:
        problems.append(f"trace fetch.rows {layers['fetch.rows']} != count_visited")
    if layers["fetch.ok"] != s["count_collected"]:
        problems.append(f"trace fetch.ok {layers['fetch.ok']} != count_collected")
    return problems


def measure(wl, spark, meter: TreeMeter, rss: PeakRss, traced: bool, tag: str) -> dict:
    from spans import Trace
    from workloads import NoTrace

    rec = {"kind": "run", "traced": traced}
    c0 = meter.sample()
    rss.take()
    sc = spark.sparkContext
    if traced:
        tr = Trace(spark, meter, tag)
    else:
        # one job group for the whole run: its job count must equal the
        # traced runs' loop.jobs
        tr = NoTrace()
        sc.setJobGroup(tag, tag)
    t0 = time.monotonic()
    try:
        out = wl.run(tr)
    except Exception as e:  # a failed run is counted, the process goes on
        traceback.print_exc()
        rec.update(ok=False, problems=[f"{type(e).__name__}: {e}"[:500]])
        return rec
    finally:
        run_s = time.monotonic() - t0
        if traced:
            tr.finish()
            jobs = sum(s["jobs"] for s in tr.spans.values())
        else:
            jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
            sc.setJobGroup("untraced", "untraced")
        c1 = meter.sample()
        rec.update(
            run_s=run_s,
            cpu_s=c1["total"] - c0["total"],
            py_cpu_s=c1["py"] - c0["py"],
            peak_rss_mb=rss.take(),
        )
        # after the timing: crawl_scale also removes its snapshots here
        state_mb = wl.state_mb() if hasattr(wl, "state_mb") else 0.0
    rec.update(ok=out["ok"], problems=out["problems"], items=out["items"])
    rec["counts"] = {
        "jobs": jobs,
        **{k: v for k, v in out.items() if k in ("stats", "waves", "candidates", "kept", "jaccard_pairs")},
    }
    if traced:
        layers = (dedup_layers if wl.name == "text_dedup" else crawl_layers)(tr, out, run_s)
        if wl.name != "text_dedup":
            layers["tables.state_mb"] = state_mb
        layers["py.cpu_share"] = rec["py_cpu_s"] / rec["cpu_s"] if rec["cpu_s"] else 0.0
        problems = reconcile(layers, out)
        rec["problems"] += problems
        rec["ok"] = rec["ok"] and not problems
        rec["layers"] = layers
        rec["trace_bookkeeping_s"] = tr.bookkeeping_s
    return rec


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work", required=True)
    a = p.parse_args()

    from workloads import WORKLOADS

    sizing = host_sizing()
    spark = start_session(a.work, sizing)
    session_s = time.monotonic() - T0
    meter = TreeMeter(os.getpid())
    rss = PeakRss(meter)
    rss.start()
    try:
        wl = WORKLOADS[a.workload](spark, a.seed, a.work)
        prep_s = []
        for _ in range(PREP_REPS):
            t = time.monotonic()
            wl.prepare()
            prep_s.append(time.monotonic() - t)
        t = time.monotonic()
        wl.warm()
        warmup_s = time.monotonic() - t
        ready = time.monotonic() - T0
        import pyarrow
        import pyspark

        emit(
            {
                "kind": "setup",
                "setup_s": ready - sum(prep_s) + statistics.median(prep_s),
                "session_s": session_s,
                "prep_s": prep_s,
                "warmup_s": warmup_s,
                "sizing": sizing,
                "inputs": wl.sizes(),
                "versions": {
                    "python": sys.version.split()[0],
                    "spark": pyspark.__version__,
                    "pyarrow": pyarrow.__version__,
                },
            }
        )
        t_start = time.monotonic()
        n_traced = n_untraced = i = 0
        while True:
            traced = bool(a.trace) and i % 2 == 0
            emit(measure(wl, spark, meter, rss, traced, f"run{i}"))
            n_traced += traced
            n_untraced += not traced
            i += 1
            done = time.monotonic() - t_start >= a.seconds
            if done and n_untraced >= wl.min_runs:
                break
    finally:
        rss.stop.set()
        spark.stop()


if __name__ == "__main__":
    main()
