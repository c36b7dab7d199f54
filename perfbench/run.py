"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload pit_backfill --seed 1 --seconds 12 --trace 0

Run from the repository root.  The engine runs at ``local[N]``, N = the
usable cores, closed-loop (one pass, unit or micro-batch in flight).  With
``--trace 0`` the run measures the end-to-end metrics; with ``--trace 1`` it
first measures untraced throughput, then restarts the Spark context with the
event log on, repeats the loop under spans, probes every layer, and prints
the per-layer metrics and the tracing overhead.

stdout: one report line (JSON: host probe, versions, every metric with its
unit, tails with percentile and sample count), then the result line
``{"correct", "attempted", "failed", "metrics"}``.  Progress goes to stderr.
Everything the run writes stays under ``.perfbench/`` in the working
directory: inputs and oracles are cached in ``.perfbench/cache``, the
run's working files live in ``.perfbench/work/<run>`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
UNITS = {
    "setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
SETUP_ROUNDS = 1
WARM_OPS = 2
# the JVM heap is committed and touched up front: resident memory then
# holds a fixed heap and moves only with off-heap, Arrow and Python-worker
# memory, not with the JVM's adaptive heap growth
HEAP = "2g"


class Env:
    """Per-run state: paths, the Spark session, the DuckDB oracle connection."""

    def __init__(self, workload: str, seed: int, cores: int):
        from perfbench import oracle

        self.seed = seed
        self.cores = cores
        base = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.work = os.path.join(base, "work", f"{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        for d in (self.cache, self.tmp):
            os.makedirs(d, exist_ok=True)
        self.con = oracle.connect(cores, os.path.join(self.work, "duckdb"))
        self.spark = None
        self.jvm_pid = None
        self.report: dict = {}

    def start_spark(self, event_log: str | None = None) -> float:
        """Start (or restart) the session; returns the seconds it took."""
        from deep_ner_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        return dt

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, the JVM and its Python workers; wait for all to end."""
        from pyspark import SparkContext

        from perfbench import host

        self.stop_spark()
        gw = SparkContext._gateway
        if gw is None:
            return
        pids = host.descendants(gw.proc.pid)
        gw.shutdown()
        if gw.proc.stdin:
            gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a wedged JVM is killed below
            gw.proc.kill()
            gw.proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 20
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, 9)
                    time.sleep(0.1)
                    break
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def setup_round(env, wl):
    """Session start + package ship + WARM_OPS warm-up ops at full shape.

    The op count is fixed, not "until settled", so set-up time does not
    jump by a whole op between runs; the report's ``warm_last_over_p50``
    (last warm op over the measured median) shows how settled the loop
    started.  Returns (timings, resident-memory sampler started with the
    JVM)."""
    from perfbench import host

    t0 = time.perf_counter()
    start_s = env.start_spark()
    sampler = host.RssSampler(env.jvm_pid).start()
    wl.start()
    warm = [wl.op() for _ in range(WARM_OPS)]
    setup = {
        "setup_s": time.perf_counter() - t0, "start_s": start_s,
        "warm_ops_s": [sum(s.seconds for s in op) for op in warm],
        "warm_last_sample_s": statistics.median(s.seconds for s in warm[-1]),
    }
    return setup, sampler


def end_to_end(wl, samples, setup, op_peaks) -> tuple[dict, dict]:
    from perfbench import stats

    lat = [s.seconds for s in samples]
    tail, pct, n = stats.tail(lat)
    metrics = {
        "setup_s": setup["setup_s"],
        "items_per_s": wl.summary(samples),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "peak_rss_mb": statistics.median(op_peaks),
    }
    detail = {
        "items": wl.items,
        "op": {"pit_backfill": "pass", "pit_units": "unit", "near_dup": "pass",
               "stream_asof": "micro-batch"}[wl.name],
        "op_tail_pct": pct,
        "op_samples": n,
        "op_s": lat,
        "op_peak_rss_mb": op_peaks,
        f"{wl.items}_per_s": metrics["items_per_s"],
    }
    if wl.name == "pit_units":
        detail.update(unit_p50_s=metrics["op_p50_s"], unit_tail_s=tail)
    if wl.name == "stream_asof":
        detail.update(batch_p50_s=metrics["op_p50_s"], batch_tail_s=tail)
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "deep_ner_spark", "__init__.py")):
        print("perfbench: run from the repository root (deep_ner_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.host import log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    cores = host.usable_cores()
    env = Env(args.workload, args.seed, cores)
    # pin the host: explicit local[N]; nothing inherits a 32-core default
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(env.work, "local")
    os.environ["TMPDIR"] = env.tmp
    # every JVM started from here (java -version, spark-submit's launcher,
    # Spark itself) keeps its temp files in the run dir and writes no
    # hsperfdata into the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env.tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = env.tmp

    wl = WORKLOADS[args.workload](env)
    try:
        result, report = run(env, wl, args)
    finally:
        wl.close()
        env.shutdown()
        env.con.close()
        shutil.rmtree(env.work, ignore_errors=True)
    print(json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(result), flush=True)
    return 0


def run(env, wl, args):
    from perfbench import host
    from perfbench.host import log
    from perfbench.workloads import closed_loop

    report = env.report
    report.update(workload=wl.name, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, host=host.probe(env.cores),
                  master=f"local[{env.cores}]", jvm_heap=HEAP)
    wl.prepare()
    report.update(gen_s=wl.gen_s, oracle_s=wl.oracle_s)
    log(f"perfbench: {wl.name} seed={args.seed} inputs ready "
        f"(gen {wl.gen_s:.2f}s, oracle {wl.oracle_s:.2f}s)")

    steal0 = host.cpu_steal_s()
    setup, sampler = setup_round(env, wl)
    report["setup"] = setup
    log(f"perfbench: setup: {setup}")
    wl.begin_measure()
    samples, wall, op_peaks = closed_loop(wl, args.seconds, sampler=sampler)
    extra_attempted, extra_failed = wl.check()
    sampler.stop()
    attempted = len(samples) + extra_attempted
    failed = sum(not s.ok for s in samples) + extra_failed
    metrics, detail = end_to_end(wl, samples, setup, op_peaks)
    setup["warm_last_over_p50"] = setup["warm_last_sample_s"] / metrics["op_p50_s"]
    report.update(detail, loop_wall_s=wall, rss_samples=sampler.samples,
                  cpu_steal_s=host.cpu_steal_s() - steal0,
                  run_peak_rss_mb=sampler.peak_mb,
                  error_rate=failed / attempted, attempted=attempted, failed=failed)
    report["end_to_end"] = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    out_metrics = report["end_to_end"]
    if args.trace:
        from perfbench import layers

        wl.end_session()
        per_layer, t_attempted, t_failed = layers.traced_run(
            env, wl, args.seconds, metrics["items_per_s"]
        )
        attempted += t_attempted
        failed += t_failed
        report.update(per_layer=per_layer, attempted=attempted, failed=failed,
                      error_rate=failed / attempted)
        out_metrics = {
            k: {"value": per_layer[k], "unit": unit}
            for k, (unit, _) in layers.PER_LAYER.items()
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }
    return result, report


if __name__ == "__main__":
    sys.exit(main())
