"""The benchmark's workloads. Each runs a closed loop with one client: the
next operation starts when the previous one has finished.

``daily_incremental``: a cold ``run_pipeline`` over the generated history
(the backfill), then one simulated day after another, each appending a
day of raw data and running the pipeline with ``now`` a day later, until
``seconds`` have passed (at least one day).

``adhoc_queries``: rounds of twelve analyst queries, in a seeded order
per round. The cold round collects every result for the oracle check;
warm rounds materialize each query through the ``noop`` sink until
``seconds`` have passed (at least one round). One round is the timed
operation: per-query times are in the traced run.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from counters import LAYERS, cpu_seconds, layer_totals, snapshot, written

ADHOC_QUERIES = (
    "pricing_summary", "regional_revenue", "customer_feature_spine", "asof_price",
    "latest_event_per_user", "agg_of_agg", "two_role_union", "top3_orders_per_customer",
    "disjunctive_join", "union_distinct_spine", "range_join_windows", "sessionize_events",
)
PHASES = ("backfill", "daily")
_T0 = time.perf_counter()
# per-run figures of the traced pipeline, reported once per phase
RUN_LAYER_METRICS = (
    "stage.insert_s", "stage.wall_s", "stage.rows_appended", "stage.jobs", "stage.tasks",
    "stage.bytes_written", "stage.files_written",
    "analytics.insert_s", "analytics.wall_s", "analytics.merge_s",
    "analytics.current_positions_s", "analytics.rows_appended", "analytics.jobs",
    "analytics.tasks", "analytics.bytes_written", "analytics.files_written",
    "features.plan_s", "features.write_s", "features.jobs", "features.tasks", "features.rows",
    "quality.gate_s", "quality.jobs", "fsutil.publish_s",
    "sinks.upsert_s", "sinks.upsert_bytes_rewritten", "sinks.upsert_rows_changed_ratio",
    "runner.self_s", "spark.jobs_per_run", "spark.tasks_per_run",
)


def log(message: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:6.1f}s] {message}", file=sys.stderr, flush=True)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in order."""
    names = ["session.get_spark_s", "wall.setup_s", "wall.cold_s", "wall.warm_ms_p50",
             "traced.warm_cpu_s_p50"]
    names += [f"{p}.{m}" for p in PHASES for m in RUN_LAYER_METRICS]
    names += [f"lake.{kind}.{layer}" for kind in ("bytes", "files") for layer in LAYERS]
    names += [f"lake.bytes_per_raw_byte.{layer}" for layer in LAYERS[1:]]
    names += [f"adhoc.{q}.{m}" for q in ADHOC_QUERIES for m in ("build_s", "exec_s", "jobs")]
    return names


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    cold_s: float = 0.0
    cold_cpu_s: float = 0.0
    warm_s: list[float] = field(default_factory=list)
    warm_cpu_s: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, problem: str, ops: int = 1) -> None:
        self.failed += ops
        self.problems.append(problem)


# --- daily_incremental ------------------------------------------------------
def _serving_rows(con, lake: str):
    path = f"{lake}/features/defi_features_serving"
    if not os.path.isdir(path):
        return None
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").arrow()


def _traced_extras(con, lake: str, old_serving) -> dict[str, float]:
    """Rows of the features table, and the share of served rows the upsert
    actually changed (new or different values)."""
    rows = sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(f"{lake}/analytics/defi_features/*.parquet"))
    new = _serving_rows(con, lake)
    if old_serving is None:
        ratio = 1.0
    else:
        con.register("old_serving", old_serving)
        con.register("new_serving", new)
        changed = con.execute(
            "SELECT count(*) FROM (SELECT * FROM new_serving EXCEPT ALL SELECT * FROM old_serving)"
        ).fetchone()[0]
        ratio = changed / max(1, new.num_rows)
    return {"features.rows": rows, "sinks.upsert_rows_changed_ratio": ratio}


def daily_incremental(spark, lake_dir: str, lake, seconds: float, trace: bool) -> Outcome:
    import duckdb

    from check import check_serving
    from defi_features_data_pipeline_spark.pipelines.defi import runner
    from defi_oracle_sql import build_oracle_sql
    from spans import PipelineTracer, layer_metrics

    out = Outcome()
    tracer = PipelineTracer(spark, lake_dir) if trace else None
    con = duckdb.connect()
    per_run: dict[str, list[dict]] = {p: [] for p in PHASES}

    def run(phase: str, now: int) -> tuple[float, float] | None:
        """One pipeline run; (wall seconds, CPU seconds), None if it failed."""
        if tracer:
            before, old_serving = snapshot(lake_dir), _serving_rows(con, lake_dir)
            tracer.begin(f"{phase}-{now}")
        out.attempted += 1
        cpu, start = cpu_seconds(), time.perf_counter()
        try:
            runner.run_pipeline(spark, lake_dir, now_epoch=now)
        except Exception as exc:  # noqa: BLE001 - a failed run is a counted result
            out.fail(f"{phase} run failed: {type(exc).__name__}: {exc}"[:500])
            return None
        finally:
            took = time.perf_counter() - start
            cpu = cpu_seconds() - cpu
            if tracer:
                rt = tracer.finish()
        if tracer:
            m = layer_metrics(rt, tracer.job_stats(rt), written(before, snapshot(lake_dir)))
            m.update(_traced_extras(con, lake_dir, old_serving))
            per_run[phase].append(m)
        return took, cpu

    def check(what: str, now: int) -> None:
        problems = check_serving(lake_dir, now, build_oracle_sql)
        if problems:
            out.fail(f"{what} does not match the oracle: " + "; ".join(problems))

    if tracer:
        tracer.install()
    try:
        day = lake.spec.history_days - 1
        took = run("backfill", lake.now_after(day))
        if took is None:
            return out
        out.cold_s, out.cold_cpu_s = took
        log(f"backfill: {took[0]:.2f}s, {took[1]:.1f} CPU s")
        check("backfill", lake.now_after(day))
        log("backfill checked")
        start = time.perf_counter()
        while not out.warm_s or time.perf_counter() - start < seconds:
            day += 1
            lake.write_day(lake_dir, day)
            took = run("daily", lake.now_after(day))
            if took is None:
                return out
            out.warm_s.append(took[0])
            out.warm_cpu_s.append(took[1])
            log(f"day {day}: {took[0]:.2f}s, {took[1]:.1f} CPU s")
        check(f"day {day}", lake.now_after(day))
        log(f"day {day} checked")
    finally:
        if tracer:
            tracer.uninstall()
        con.close()
    if trace:
        for phase, runs in per_run.items():
            for name in RUN_LAYER_METRICS:
                out.layers[f"{phase}.{name}"] = statistics.median(r[name] for r in runs)
        totals = layer_totals(snapshot(lake_dir))
        for layer, (b, f) in totals.items():
            out.layers[f"lake.bytes.{layer}"] = b
            out.layers[f"lake.files.{layer}"] = f
            if layer != "raw":
                out.layers[f"lake.bytes_per_raw_byte.{layer}"] = b / max(1, totals["raw"][0])
    return out


# --- adhoc_queries ----------------------------------------------------------
def adhoc_queries(spark, data_dir: str, seed: int, seconds: float, trace: bool) -> Outcome:
    from check import AdhocOracle
    from defi_features_data_pipeline_spark.queries import ALL_ORACLES, ALL_QUERIES

    out = Outcome()
    sc = spark.sparkContext
    rng = np.random.default_rng([seed, 4])
    timings: dict[str, list[tuple[float, float, int]]] = {q: [] for q in ADHOC_QUERIES}
    results: dict[str, tuple[list[str], list[tuple]]] = {}

    def one_round(r: int) -> float:
        """Build and materialize every query once; the cold round (0)
        collects the rows for the oracle check, warm rounds use ``noop``."""
        total = 0.0
        for q in rng.permutation(ADHOC_QUERIES):
            if r > 0 and q not in results:
                continue  # failed in the cold round
            group = f"adhoc|{q}|{r}"
            if trace:
                sc.setJobGroup(group, q)
            out.attempted += 1
            start = time.perf_counter()
            try:
                df = ALL_QUERIES[q](spark, data_dir)
                built = time.perf_counter()
                if r == 0:
                    results[q] = (df.columns, [tuple(row) for row in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a failed query is a counted result
                out.fail(f"{q} failed: {type(exc).__name__}: {exc}"[:500])
                results.pop(q, None)
                continue
            finally:
                if trace:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            done = time.perf_counter()
            total += done - start
            if r > 0:
                jobs = len(sc.statusTracker().getJobIdsForGroup(group)) if trace else 0
                timings[q].append((built - start, done - built, jobs))
        return total

    cpu = cpu_seconds()
    out.cold_s = one_round(0)
    out.cold_cpu_s = cpu_seconds() - cpu
    log(f"cold round: {out.cold_s:.2f}s, {out.cold_cpu_s:.1f} CPU s")
    oracle = AdhocOracle(data_dir)
    try:
        for q, (cols, rows) in list(results.items()):
            problem = oracle.check(ALL_ORACLES[q], cols, rows)
            if problem:
                out.fail(f"{q} does not match its oracle: {problem}")
                del results[q]
    finally:
        oracle.close()
    log("cold round checked")
    start, rounds = time.perf_counter(), 0
    while rounds < 1 or time.perf_counter() - start < seconds:
        rounds += 1
        cpu = cpu_seconds()
        out.warm_s.append(one_round(rounds))
        out.warm_cpu_s.append(cpu_seconds() - cpu)
        log(f"warm round {rounds}: {out.warm_s[-1]:.2f}s, {out.warm_cpu_s[-1]:.1f} CPU s")
    if trace:
        for q, runs in timings.items():
            for i, m in enumerate(("build_s", "exec_s", "jobs")):
                out.layers[f"adhoc.{q}.{m}"] = statistics.median(x[i] for x in runs) if runs else 0
    return out
