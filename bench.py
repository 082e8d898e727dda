#!/usr/bin/env python
"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from windowsession_using_kafka_flink_docker_spark import get_spark
from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
    ivf_ann_topk,
    minhash_lsh_neardups,
    pq_ann_topk,
    simhash_neardups,
)

#: Heavy pipelines retired from the catalog (VERDICT r7 item 3: their
#: rows-only registrations were consolidated into hash-green audit twins
#: that run the same code paths) but kept in the headline bench set under
#: their original names, so BENCH_r{N} stays query-for-query comparable
#: with BASELINE.md's sealed 44-query run.
EXTRA_BENCH = {
    "minhash_lsh_neardups": minhash_lsh_neardups,
    "simhash_neardups": simhash_neardups,
    "ivf_ann_topk": ivf_ann_topk,
    "pq_ann_topk": pq_ann_topk,
}


def _tpch_names() -> list[str]:
    """All 22 TPC-H shapes, in query-number order. Benched as their own
    anchored group (VERDICT r11 item 3): the family completed in r11 but
    only the 6 headline members had sealed per-query numbers. Reported
    under a separate "tpch" key so the 45-query headline total stays
    query-for-query comparable with the r8 BASELINE anchor."""
    import re

    return sorted((n for n in CATALOG if re.match(r"q\d+_", n)),
                  key=lambda n: int(n[1:].split("_")[0]))

#: Repetitions per query. The r3→r4 driver comparison showed 1.3-1.4×
#: swings on 1-2 s queries from single-shot timing in a shared warm JVM
#: (GC / codegen-cache state left by whichever heavy query ran before).
#: Median-of-N makes the per-query number a property of the PLAN again;
#: the max/median spread is reported so regressions can be told from
#: noise. Override with SPARK_GRAFT_BENCH_RUNS=1 for a quick pass.
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def _calibrate(spark) -> float:
    """Fixed CPU-bound probe (median of 3): sum over a 200M-row range
    with a little arithmetic — constant work, no I/O, no shuffle, all
    32 cores. Recorded as ``calibration_sec`` so cross-round totals can
    divide out HOST speed objectively: rounds 12 and 13 both lost their
    quiet-host windows to external load waves, and per-query ratios vs
    an anchor could not distinguish "plan regressed 1.2x" from "host is
    1.2x slower today". Compare this number across BENCH_r{N} files
    before comparing any query number."""
    times = []
    for i in range(4):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(id * 2 + (id % 7)) AS s").collect()
        if i:  # drop the first: it pays the probe's own codegen compile
            times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 3)


def _calibrate_scaling(spark) -> float:
    """Core-SENSITIVE probe (median of 3): the same arithmetic sum but
    over a FIXED 64-partition split, so the task count never follows
    ``defaultParallelism``. At 32 cores this is 2 task waves; at 8 cores
    it is 8 — the wall ratio tracks the core ratio, unlike
    ``_calibrate`` whose range splits into exactly one wave at any core
    count (that core-blindness is what made the driver's r17 scaling
    block flag ``suspect_cpus_ignored`` on a bench that DOES honor
    $SPARK_GRAFT_CPUS — VERDICT r17 item 2b). Emitted as
    ``calibration_scaling_sec`` next to the core-blind host-speed probe,
    which keeps its name and meaning for cross-round comparability."""
    times = []
    for i in range(4):
        t0 = time.perf_counter()
        spark.range(0, 320_000_000, 1, 64).selectExpr(
            "sum(id * 2 + (id % 7)) AS s").collect()
        if i:
            times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 3)


def _cpus(sc) -> int:
    """Cores the bench ran on: N of a ``local[N]`` master, else the
    default parallelism (``local[*]`` or a cluster's executor cores)."""
    m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", sc.master)
    return int(m.group(1)) if m else sc.defaultParallelism


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("windowsession-bench")

    fns = {n: s.spark for n, s in CATALOG.items() if s.bench}
    fns.update(EXTRA_BENCH)
    headline = list(fns)
    tpch = _tpch_names()
    for n in tpch:  # the non-headline family members ride the same passes
        fns.setdefault(n, CATALOG[n].spark)
    names = list(fns)

    samples: dict[str, list[float]] = {n: [] for n in names}
    # Round-robin over the whole set rather than back-to-back repeats:
    # back-to-back reuses whatever JVM state the query itself just
    # created, which is exactly the warm-vs-cold flattery the median is
    # supposed to defeat.
    from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
        clear_stage_caches,
    )

    # Full warm-up pass over EVERY query, excluded from the medians
    # (VERDICT r5 item 4): first-touch classloading, codegen compilation,
    # and the one-off Arrow/BLAS native init (which alone put a 3.7×
    # max/median spread on cosine_topk in r5) land here instead of inside
    # some measured sample — the residual ±30% total-level variance traced
    # to exactly these one-offs ramping inside pass 1.
    clear_stage_caches()
    calib_pre = _calibrate(spark)
    calib_scale_pre = _calibrate_scaling(spark)
    for name in names:
        fns[name](spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()

    for _ in range(RUNS):
        # Release memoized pipeline stages between passes: within one pass,
        # cross-query stage sharing is the engine's real shared-scan
        # behavior (and was measured that way in rounds 1-4), but letting a
        # pass N>1 query hit pass N-1's persisted shingle table would turn
        # its median into a cache-hit time (~0.01 s), not a query time.
        clear_stage_caches()
        # Nudge the JVM to collect between passes so pass N's numbers do
        # not pay for pass N-1's allocation ramp (old-gen pressure was the
        # other suspect behind the same-code 45.6 s vs 32.9 s totals).
        spark.sparkContext._jvm.System.gc()
        for name in names:
            t0 = time.perf_counter()
            df = fns[name](spark, sf_dir)
            # foreach-noop forces full materialization w/o driver collect
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)

    # statistics.median averages the middle pair for even N — the naive
    # sorted(v)[len(v)//2] is the upper-middle element, biasing even-N
    # figures upward (SPARK_GRAFT_BENCH_RUNS allows any N).
    medians = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    timings = {n: medians[n] for n in headline}
    spread = {n: round(max(v) / statistics.median(v), 2)
              for n, v in samples.items()}
    total = round(sum(timings.values()), 3)
    tpch_timings = {n: medians[n] for n in tpch}
    sc = spark.sparkContext
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "tpch": tpch_timings,
        "tpch_total": round(sum(tpch_timings.values()), 3),
        "runs_per_query": RUNS,
        "spread_max_over_median": spread,
        # host-speed probes bracketing the measured passes; see
        # _calibrate. post >> pre means a load wave arrived mid-run.
        "calibration_sec": {"pre": calib_pre, "post": _calibrate(spark)},
        # core-sensitive probe (fixed 64-task split; see
        # _calibrate_scaling): its 8-vs-32-core ratio verifies that the
        # bench really ran at $SPARK_GRAFT_CPUS.
        "calibration_scaling_sec": {"pre": calib_scale_pre,
                                    "post": _calibrate_scaling(spark)},
        "cpus": str(_cpus(sc)),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    _persist_full_result(result, sf)
    # The one-line result contract, printed LAST and kept SHORT: the
    # driver archives only a 2,000-char tail of this process's output,
    # and the r16 line (full per-query + tpch + spread dicts, >2,000
    # chars) was truncated past parseability, losing the r16->r17
    # per-query comparison (VERDICT r17 item 2a). The headline "queries"
    # dict (the contract) plus scalars is ~1.7k chars; the tpch/spread
    # per-query dicts live in BENCH_LOCAL_r{N}.json (path printed above),
    # which keeps every number previously printed.
    compact = {k: v for k, v in result.items()
               if k not in ("tpch", "spread_max_over_median")}
    print(json.dumps(compact), flush=True)


def _persist_full_result(result: dict, sf: str) -> None:
    """Write the COMPLETE result to BENCH_LOCAL_r{N}.json at the repo
    root (VERDICT r10 "what's wrong" item 2: the driver's BENCH_r{N}
    artifact keeps only a 2,000-char tail, truncating the first ~25
    per-query medians out of the record). N = latest on-disk
    CORRECTNESS round + 1 (the round in progress); only driver-scale
    (sf0.1) runs persist, so a quick sf0.01 iteration never overwrites
    the round's evidence. Override the round with
    SPARK_GRAFT_BENCH_ROUND."""
    if sf != "0.1" and "SPARK_GRAFT_BENCH_ROUND" not in os.environ:
        return
    root = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if rnd is None:
        import glob
        rounds = [int(os.path.basename(p).split("_r")[1].split(".")[0])
                  for p in glob.glob(os.path.join(root,
                                                  "CORRECTNESS_r*.json"))]
        rnd = f"{(max(rounds) if rounds else 0) + 1:02d}"
    else:
        # r12 ADVICE: an unpadded env value ("5") would split one round's
        # evidence across BENCH_LOCAL_r5 / BENCH_LOCAL_r05 — normalize to
        # the same :02d format the computed path uses.
        rnd = f"{int(rnd):02d}" if rnd.isdigit() else rnd
    # Reduced-core runs (the driver's scaling pass) persist under a
    # _c{cpus} suffix so they can never squat on the round's sealed
    # 32-core evidence slot (VERDICT r17 item 2c: the driver's 8-core
    # r17 run landed in BENCH_LOCAL_r18.json, the next round's slot).
    cpus = result["cpus"]
    suffix = "" if cpus == "32" else f"_c{cpus}"
    out = os.path.join(root, f"BENCH_LOCAL_r{rnd}{suffix}.json")
    if os.path.exists(out):
        # r12 ADVICE: a second sf0.1 run in the same round silently
        # replaced the sealed evidence. Keep the newest run (it reflects
        # the code being committed) but say so loudly.
        print(f"WARNING: overwriting existing {out} "
              "(prior round evidence replaced by this run)",
              file=sys.stderr)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"full per-query result -> {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
