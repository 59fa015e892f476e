"""Span tracing for the traced run, from outside the package.

``PipelineTracer.install`` swaps the pipeline's layer entry points for
wrappers that record a span (name, thread, start, end, return value) in
memory and tag the Spark jobs the call submits with a job group, so jobs
are attributed per layer even though the runner fans out over five
threads. Nothing inside the package is edited; ``uninstall`` restores it.

Where each name is patched:

- ``runner.py`` binds ``incremental_insert``, ``upsert_parquet``,
  ``run_quality_gate``, the ``view_*`` functions,
  ``assemble_defi_features``, ``merge_market_positions`` and
  ``current_collateral_positions`` at import time, so they are replaced in
  the runner's namespace;
- ``snapshot_publish`` is imported inside ``run_pipeline`` at call time,
  so it is replaced on ``sources.fsutil``.

Job groups are thread-local. A wrapper sets its own group on entry; on
exit a pool thread clears it, and the main thread switches to
``after:<span>``, which attributes the jobs of the runner's inline code
that follows (the features write after the gate, the current-positions
write after its plan is built). Jobs are read back per group through the
status tracker after each run; ``getJobIdsForGroup(None)`` would miss
every grouped job, and the tracker keeps only ``spark.ui.retainedJobs``
jobs (1000 by default), which the benchmark raises.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from dataclasses import dataclass, field

RUN = "run"
AFTER = "after:"


@dataclass
class Span:
    name: str
    main: bool
    start: float
    end: float
    result: object = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class RunTrace:
    """Spans and job groups of one ``run_pipeline`` call."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    groups: set[str] = field(default_factory=set)
    start: float = 0.0
    end: float = 0.0


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class PipelineTracer:
    """Records spans around the pipeline layers of one Spark session."""

    def __init__(self, spark, lake: str):
        self.sc = spark.sparkContext
        self.lake = lake
        self.run: RunTrace | None = None
        self._saved: list[tuple[object, str, object]] = []

    # --- patching ---------------------------------------------------------
    def install(self) -> None:
        from defi_features_data_pipeline_spark.pipelines.defi import runner
        from defi_features_data_pipeline_spark.sources import fsutil

        def insert_name(args, kwargs):
            target = kwargs.get("target_path", args[2] if len(args) > 2 else "")
            layer, table = os.path.relpath(target, self.lake).split(os.sep)[:2]
            return f"{layer}.insert:{table}"

        self._patch(runner, "incremental_insert", insert_name)
        self._patch(runner, "upsert_parquet", "sinks.upsert")
        self._patch(runner, "run_quality_gate", "quality.gate")
        self._patch(runner, "merge_market_positions", "analytics.merge_plan")
        self._patch(runner, "current_collateral_positions", "analytics.current_positions_plan")
        self._patch(runner, "assemble_defi_features", "features.assemble")
        for name in dir(runner):
            if name.startswith("view_"):
                self._patch(runner, name, f"features.plan:{name}")
        self._patch(fsutil, "snapshot_publish", "fsutil.publish")

    def uninstall(self) -> None:
        for module, name, original in reversed(self._saved):
            setattr(module, name, original)
        self._saved.clear()

    def _patch(self, module, name: str, label) -> None:
        original = getattr(module, name)
        self._saved.append((module, name, original))

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span_name = label(args, kwargs) if callable(label) else label
            return self._call(span_name, original, args, kwargs)

        setattr(module, name, wrapper)

    def _call(self, name: str, fn, args, kwargs):
        run = self.run
        if run is None:
            return fn(*args, **kwargs)
        main = threading.current_thread() is threading.main_thread()
        self._set_group(run, name)
        start = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            if main:
                self._set_group(run, AFTER + name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        run.spans.append(Span(name, main, start, end, result))
        return result

    def _set_group(self, run: RunTrace, label: str) -> None:
        group = f"{run.run_id}|{label}"
        run.groups.add(group)
        self.sc.setJobGroup(group, label)

    # --- one traced run ---------------------------------------------------
    def begin(self, run_id: str) -> None:
        self.run = RunTrace(run_id)
        self._set_group(self.run, RUN)
        self.run.start = time.perf_counter()

    def finish(self) -> RunTrace:
        run, self.run = self.run, None
        run.end = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return run

    def job_stats(self, run: RunTrace) -> dict[str, tuple[int, int]]:
        """{span label: (jobs, completed tasks)} for the jobs of ``run``."""
        tracker = self.sc.statusTracker()
        out = {}
        for group in run.groups:
            jobs = tasks = 0
            for job_id in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    tasks += stage.numCompletedTasks if stage else 0
            out[group.split("|", 1)[1]] = (jobs, tasks)
        return out


def layer_metrics(run: RunTrace, jobs: dict[str, tuple[int, int]],
                  written: dict[str, tuple[int, int]]) -> dict[str, float]:
    """Per-layer figures of one run.

    ``jobs``: {span label: (jobs, tasks)} from ``job_stats``; ``written``:
    {table dir relative to the lake: (bytes, files)} created or changed by
    the run."""
    spans = run.spans

    def pick(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    def count(*prefixes, index=0):
        return sum(v[index] for k, v in jobs.items()
                   if any(k.startswith(p) or k.startswith(AFTER + p) for p in prefixes))

    def next_main_start(after: float) -> float:
        return min((s.start for s in spans if s.main and s.start >= after), default=run.end)

    def bytes_files(select):
        hits = [v for k, v in written.items() if select(k)]
        return sum(b for b, _ in hits), sum(f for _, f in hits)

    stage = pick("stage.insert")
    inserts = pick("analytics.insert")
    merge_plan = pick("analytics.merge_plan")
    ccp = pick("analytics.current_positions_plan")
    merged = [s for s in inserts if "market_data_and_account_positions" in s.name]
    ccp_end = next_main_start(ccp[0].end) if ccp else 0.0
    ccp_interval = [(ccp[0].start, ccp_end)] if ccp else []
    gate, publish, upsert = pick("quality.gate"), pick("fsutil.publish"), pick("sinks.upsert")
    write_s = (next_main_start(gate[0].end) - gate[0].end) if gate else 0.0
    st_b, st_f = bytes_files(lambda k: k.startswith("stage/"))
    an_b, an_f = bytes_files(
        lambda k: k.startswith("analytics/") and not k.startswith("analytics/defi_features"))
    up_b, _ = bytes_files(lambda k: k.startswith("features/defi_features_serving"))
    all_jobs = sum(v[0] for v in jobs.values())
    all_tasks = sum(v[1] for v in jobs.values())
    return {
        "stage.insert_s": sum(s.seconds for s in stage),
        "stage.wall_s": union_seconds((s.start, s.end) for s in stage),
        "stage.rows_appended": sum(s.result or 0 for s in stage),
        "stage.jobs": count("stage."),
        "stage.tasks": count("stage.", index=1),
        "stage.bytes_written": st_b,
        "stage.files_written": st_f,
        "analytics.insert_s": sum(s.seconds for s in inserts),
        "analytics.wall_s": union_seconds(
            [(s.start, s.end) for s in inserts + merge_plan] + ccp_interval),
        "analytics.merge_s": sum(s.seconds for s in merge_plan + merged),
        "analytics.current_positions_s": sum(e - s for s, e in ccp_interval),
        "analytics.rows_appended": sum(s.result or 0 for s in inserts),
        "analytics.jobs": count("analytics."),
        "analytics.tasks": count("analytics.", index=1),
        "analytics.bytes_written": an_b,
        "analytics.files_written": an_f,
        "features.plan_s": sum(s.seconds for s in pick("features.")),
        "features.write_s": write_s,
        "features.jobs": count("features.") + jobs.get(AFTER + "quality.gate", (0, 0))[0],
        "features.tasks": (count("features.", index=1)
                           + jobs.get(AFTER + "quality.gate", (0, 0))[1]),
        "quality.gate_s": sum(s.seconds for s in gate),
        "quality.jobs": jobs.get("quality.gate", (0, 0))[0],
        "fsutil.publish_s": sum(s.seconds for s in publish),
        "sinks.upsert_s": sum(s.seconds for s in upsert),
        "sinks.upsert_bytes_rewritten": up_b,
        "runner.self_s": (run.end - run.start) - union_seconds((s.start, s.end) for s in spans),
        "spark.jobs_per_run": all_jobs,
        "spark.tasks_per_run": all_tasks,
    }
