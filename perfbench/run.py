"""Benchmark entry point: generate a workload's inputs from a seed, run it,
check the outputs against independent oracles and print one JSON line.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same workload with per-layer spans and
reports the per-layer metrics instead. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0
only when every operation succeeded and matched its oracle.

Every file the run makes (inputs, lake, Spark scratch, warehouse, JVM
temp files) lives under ``.perfbench_work/`` in the checkout and is
removed at the end. See README.md beside this file for the workloads and
the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_incremental", "adhoc_queries")
SETUP_ROUNDS = 3
SPARK_MEMORY = "2g"
# daily_incremental input sizes (see README.md)
LAKE_WALLETS = 1000
LAKE_EVENTS_PER_WALLET = 3.0
LAKE_POSITIONS_PER_DAY = 50
ADHOC_CUSTOMERS = 1500


def _git_status() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return None
    return subprocess.run(
        ["git", "-C", ROOT, "status", "--porcelain"],
        capture_output=True, text=True, check=True,
    ).stdout


def _isolate(work: str, cores: int) -> dict[str, str]:
    """Point every scratch location at ``work``; returns extra Spark conf."""
    for sub in ("spark-local", "tmp", "warehouse", "derby", "splits"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SPLITS_DIR": os.path.join(work, "splits"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": SPARK_MEMORY,
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    os.chdir(work)  # anything written to a relative path lands here
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # a fixed-size heap: peak RSS then follows the program, not
            # the collector's heap-resizing decisions
            f"-Xms{SPARK_MEMORY}"
        ),
        # the traced run reads jobs back per group after each pipeline run;
        # set in both modes so that both run the same configuration
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _setup(workload: str, work: str, seed: int) -> tuple[str, object, list[tuple[float, float]]]:
    """Generate the workload's inputs ``SETUP_ROUNDS`` times (the last copy
    is kept); returns (input dir, lake or None, (wall s, CPU s) per round)."""
    from counters import cpu_seconds
    from lake import DefiLake, LakeSpec
    from tpch import write_tables

    took, lake, path = [], None, None
    for i in range(SETUP_ROUNDS):
        if path:
            shutil.rmtree(path)
        path = os.path.join(work, f"inputs-{i}")
        cpu, start = cpu_seconds(), time.perf_counter()
        if workload == "daily_incremental":
            lake = DefiLake(LakeSpec(wallets=LAKE_WALLETS,
                                     events_per_wallet=LAKE_EVENTS_PER_WALLET,
                                     positions_per_day=LAKE_POSITIONS_PER_DAY), seed)
            lake.write_history(path)
        else:
            write_tables(path, seed, ADHOC_CUSTOMERS)
        took.append((time.perf_counter() - start, cpu_seconds() - cpu))
    return path, lake, took


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the cleanup in `finally` blocks


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test and its oracle come from the checkout
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")]
    try:
        import check_correctness  # noqa: F401
        import defi_oracle_sql  # noqa: F401
        import defi_features_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"run.py: not a checkout of the repository ({exc})", file=sys.stderr)
        return 2

    git_before = _git_status()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        conf = _isolate(work, cores)
        from counters import cpu_seconds, peak_rss_mb
        from defi_features_data_pipeline_spark.session import get_spark
        import workloads

        cpu, start = cpu_seconds(), time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        session = (time.perf_counter() - start, cpu_seconds() - cpu)
        workloads.log(f"spark session: {session[0]:.2f}s, {session[1]:.1f} CPU s")
        inputs, lake, gen = _setup(args.workload, work, args.seed)
        workloads.log("inputs generated: " + ", ".join(f"{w:.2f}s" for w, _ in gen))
        trace = bool(args.trace)
        if args.workload == "daily_incremental":
            out = workloads.daily_incremental(spark, inputs, lake, args.seconds, trace)
        else:
            out = workloads.adhoc_queries(spark, inputs, args.seed, args.seconds, trace)
        rss = peak_rss_mb()
        workloads.log(f"peak RSS: python {rss[0]:.0f} MiB, JVM {rss[1]:.0f} MiB")
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if _git_status() != git_before:
        out.fail("the run changed `git status` of the checkout", ops=0)

    def median(values):
        return statistics.median(values) if values else 0.0

    if trace:
        metrics = {name: 0 for name in workloads.per_layer_names()}
        metrics.update(out.layers)
        metrics.update({
            "session.get_spark_s": session[0],
            "wall.setup_s": session[0] + median([w for w, _ in gen]),
            "wall.cold_s": out.cold_s,
            "wall.warm_ms_p50": median(out.warm_s) * 1000,
            "traced.warm_cpu_s_p50": median(out.warm_cpu_s),
        })
        units = {}
    else:
        metrics = {
            "setup_s": session[1] + median([c for _, c in gen]),
            "cold_cpu_s": out.cold_cpu_s,
            "warm_cpu_s_p50": median(out.warm_cpu_s),
            "peak_rss_mb": sum(rss),
        }
        units = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s_p50": "s", "peak_rss_mb": "MiB"}
    for problem in out.problems:
        print(f"run.py: {problem}", file=sys.stderr)
    correct = out.failed == 0 and not out.problems
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units.get(k, _unit(k))} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_s_p50"):
        return "s"
    if name.endswith("_s"):
        return "s"
    if "bytes_per_raw_byte" in name or name.endswith("_ratio"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
