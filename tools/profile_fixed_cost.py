"""Fixed-cost decomposition for the <1.5 s bench tail (r12 verdict
item 2): where does a small query's wall time actually go at sf0.1 —
Python-side construction, driver-side analysis/optimization, or job
execution (and how many jobs/stages/tasks does one noop run schedule)?

Usage: python tools/profile_fixed_cost.py [sf_dir] query [query ...]

Per query, after one warm-up execution, reports (median of --runs):
- construct_s: fn(spark, sf_dir) — plan building + analysis trigger
- plan_s:      force physical planning via explainString (no jobs)
- exec_s:      noop write of the pre-built frame
- jobs/stages/tasks: of the exec, read from the status tracker

Each phase of each run submits its jobs under its own job group and
reads that group back (``getJobIdsForGroup(None)`` sees only jobs
outside every group). Jobs a query submits under a group of its own,
such as streaming micro-batches, are not counted.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv[1:]
    runs = 3
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    if argv and os.path.isdir(argv[0]):
        sf_dir, names = argv[0], argv[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", argv

    import __spark_entry__ as mod
    from defi_features_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="profile_fixed_cost")
    spark.sparkContext.setLogLevel("ERROR")
    qs = mod.queries()
    jvm = spark._sc._jvm
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_stage_task_count(group):
        ids = tracker.getJobIdsForGroup(group)
        n_jobs = len(ids)
        n_stages = 0
        n_tasks = 0
        for jid in ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
        return n_jobs, n_stages, n_tasks

    # warm-up
    try:
        qs["pricing_summary"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass

    out = {}
    for name in names:
        if name not in qs:
            print(f"SKIP unknown {name}", file=sys.stderr)
            continue
        fn = qs[name]
        # warm-up run (codegen caches, artifact builds)
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        cons, plan, execs, jobs, stages, tasks, cjobs = [], [], [], [], [], [], []
        for i in range(runs):
            group = f"profile_fixed_cost:{name}:{i}"
            sc.setJobGroup(f"{group}:construct", name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            t2 = time.time()
            sc.setJobGroup(f"{group}:exec", name)
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            n_jobs, n_stages, n_tasks = job_stage_task_count(f"{group}:exec")
            cons.append(t1 - t0)
            plan.append(t2 - t1)
            execs.append(t3 - t2)
            cjobs.append(job_stage_task_count(f"{group}:construct")[0])
            jobs.append(n_jobs)
            stages.append(n_stages)
            tasks.append(n_tasks)
        out[name] = {
            "construct_s": round(statistics.median(cons), 3),
            "construct_jobs": int(statistics.median(cjobs)),
            "plan_s": round(statistics.median(plan), 3),
            "exec_s": round(statistics.median(execs), 3),
            "total_s": round(
                statistics.median(c + p + e for c, p, e in zip(cons, plan, execs)),
                3,
            ),
            "jobs": int(statistics.median(jobs)),
            "stages": int(statistics.median(stages)),
            "tasks": int(statistics.median(tasks)),
        }
        print(json.dumps({name: out[name]}), flush=True)
    outfile = os.environ.get("PROFILE_OUT")
    if outfile:
        with open(outfile, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
