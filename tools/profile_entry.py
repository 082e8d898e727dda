#!/usr/bin/env python
"""Profile one or more catalog entries: noop-sink timings (median of N)
plus per-stage metrics (duration, shuffle bytes, input bytes, spill) of
the last timed run, read from the status tracker and the status store —
so it works with the Spark UI off, the engine default. Each timed run is
its own job group, the way ``perfbench`` attributes executor work.

    python tools/profile_entry.py ngram_jaccard_neardups --sf /root/testdata/sf0.1
    python tools/profile_entry.py a b c --runs 3 --plan-dir /tmp/plans
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError  # noqa: E402

from perfbench.common import job_group_stats  # noqa: E402


def _stage_attempts(spark, group: str) -> list:
    """The last attempt (status-store ``StageData``) of every stage of the
    jobs run under ``group``; call after ``job_group_stats``, which waits
    for the listener bus to drain."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = []
    for sid in sorted(stage_ids):
        try:
            out.append(store.lastStageAttempt(sid))
        except Py4JJavaError:  # skipped stages never reach the store
            continue
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-dir", default=None,
                    help="write <name>.formatted.txt (pre-exec plan) and "
                         "<name>.stages.txt (per-stage metrics of the last "
                         "timed run) per entry")
    args = ap.parse_args()

    from windowsession_using_kafka_flink_docker_spark import get_spark
    from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
    from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
        clear_stage_caches,
    )
    from windowsession_using_kafka_flink_docker_spark.plans import llm_pipeline

    def resolve(n):
        if n in CATALOG:
            return CATALOG[n].spark
        return getattr(llm_pipeline, n)

    spark = get_spark("profile-entry")
    sc = spark.sparkContext

    for name in args.name:
        fn = resolve(name)
        label = f"profile:{name}"
        sc.setJobGroup(f"{label}:warm", label)
        clear_stage_caches()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        times = []
        for i in range(args.runs):
            clear_stage_caches()
            sc._jvm.System.gc()
            group = f"{label}:{i}"
            sc.setJobGroup(group, label)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        med = statistics.median(times)
        print(f"PROFILE {name} median={med:.3f} "
              f"runs={[round(t, 3) for t in times]}", flush=True)
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            sc.setJobGroup(f"{label}:plan", label)
            df2 = fn(spark, args.sf)
            fp = df2._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(args.plan_dir,
                                   f"{name}.formatted.txt"), "w") as f:
                f.write(fp)
            total = job_group_stats(spark, group)
            lines = [f"stages of the final timed run of {name} "
                     f"(job group {group}: {total['jobs']} jobs, "
                     f"{total['task_run_ms']} task ms, "
                     f"{total['task_cpu_ms']:.0f} task cpu ms)",
                     f"{'stage':>5} {'ms':>7} {'tasks':>5} {'input':>10} "
                     f"{'sh_read':>10} {'sh_write':>10} {'spill':>9}  name"]
            rows = [sd for sd in _stage_attempts(spark, group)
                    if str(sd.status()) in ("COMPLETE", "FAILED")]
            for sd in sorted(rows, key=lambda sd: (sd.executorRunTime(),
                                                   sd.stageId()),
                             reverse=True):
                lines.append(
                    f"{sd.stageId():>5} {sd.executorRunTime():>7} "
                    f"{sd.numCompleteTasks():>5} "
                    f"{sd.inputBytes():>10} "
                    f"{sd.shuffleReadBytes():>10} "
                    f"{sd.shuffleWriteBytes():>10} "
                    f"{sd.diskBytesSpilled():>9}  "
                    f"{sd.name()[:90]}")
            with open(os.path.join(args.plan_dir,
                                   f"{name}.stages.txt"), "w") as f:
                f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
