"""One benchmark run in a fresh process: set up Spark, warm up, run the
timed passes that fit in the window, check the output, and
(``--trace 1``) run one traced pass. Writes a JSON report to
``--report``; ``run.py`` launches it and turns the report into metrics.

    python3 perfbench/worker.py --workload curation --seed 1 \
        --seconds 20 --trace 0 --t0 <epoch s> --inputs meta.json \
        --work .bench_build/work/curation --report out.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def envelope(spark) -> dict:
    import pyarrow
    import pyspark

    from nuclei_feature_extraction_spark.lineage import kernel_backend

    conf = dict(spark.sparkContext.getConf().getAll())
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 2),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "kernel_backend": kernel_backend(),
        "conf": {k: v for k, v in sorted(conf.items())
                 if k.startswith(("spark.sql.", "spark.driver.memory",
                                  "spark.master", "spark.default.parallelism",
                                  "spark.local.dir"))},
        "env": {k: os.environ.get(k) for k in
                ("NFX_DRIVER_MEM", "SPARK_GRAFT_CPUS", "NFX_LOCAL_DIR")},
    }


def traced_pass(spark, wl, smp, warm_walls: list[float], report: dict) -> dict:
    """One pass with spans and status-store snapshots, then the
    workload's isolating pass with kernel timers. The pass's overhead is
    measured against the warm timed passes (every pass but the first) of
    the same process."""
    from nuclei_feature_extraction_spark.lineage import (
        executor_stage_totals,
        stage_metrics_delta,
    )
    from nuclei_feature_extraction_spark.plans.fused import (
        kernel_timing_accumulators,
    )
    from perfbench import sparkstats
    from perfbench.spans import (
        Tracer,
        blocking_path,
        self_time_by_name,
        self_times,
    )
    from perfbench.workloads import LAYER_UNITS, attach_stages

    timers = kernel_timing_accumulators(spark)
    tracer = Tracer(f"{wl.name}-s{wl.seed}")
    keys0 = sparkstats.stage_keys(spark)
    totals0 = executor_stage_totals(spark)
    smp.heap_probe = sparkstats.heap_used_mb(spark)
    smp.window()
    i = len(report["passes"])
    with tracer.span("pass") as root:
        wl.run_pass(i, tracer=tracer)
    _, heap_peak, _ = smp.window()
    smp.heap_probe = None
    totals = stage_metrics_delta(totals0, executor_stage_totals(spark))
    # after the pass, in its own root span: the pass's wall, totals and
    # blocking path stay the pass's alone
    wl.isolate(tracer, timers)
    recs = sparkstats.new_stages(spark, keys0)
    report["trace_errors"] = wl.check_pass(i)
    attach_stages(tracer, recs, wl.stage_name)
    report["stages"] = recs
    layers = dict.fromkeys(LAYER_UNITS, 0.0)
    layers.update(wl.layers(tracer, recs, totals, timers))
    spans = tracer.spans
    wall = spans[root]["end"] - spans[root]["start"]
    st = self_times(spans)
    path_self = sum(st[sid] for sid in blocking_path(spans, root))
    layers.update({
        "session.start_s": report["session_start_s"],
        "session.driver_heap_peak_mb": heap_peak,
        "trace.wall_s": wall,
        "trace.overhead_s":
            wall - statistics.median(warm_walls) if warm_walls else 0.0,
        "trace.blocking_self_s": path_self,
        "trace.blocking_share": path_self / wall,
    })
    tracer.write(os.path.join(wl.work, "spans.json"))
    report["self_time_by_span"] = self_time_by_name(spans)
    return layers


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t0", type=float, required=True,
                   help="epoch seconds just before this process was spawned")
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--report", required=True)
    args = p.parse_args(argv)

    from nuclei_feature_extraction_spark.session import get_spark
    from perfbench.procstat import Sampler, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    with open(args.inputs) as fh:
        meta = json.load(fh)
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "passes": []}
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    report["session_start_s"] = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, meta, args.work, args.seed)
        t = time.perf_counter()
        wl.warm_up()
        report["warm_up_s"] = time.perf_counter() - t
        report["setup_s"] = time.time() - args.t0
        report["envelope"] = envelope(spark)
        pid = os.getpid()
        with Sampler(pid) as smp:
            deadline = time.perf_counter() + args.seconds
            # a traced run needs a warm timed pass to compare with
            min_passes = 1 + args.trace
            i = 0
            while True:
                smp.window()
                cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
                smp_cpu0 = smp.cpu_s()
                rec: dict = {"pass": i}
                try:
                    rec.update(wl.run_pass(i))
                    rec["wall_s"] = time.perf_counter() - t0
                    # the sampler's own CPU is the benchmark's, not the job's
                    rec["sampler_cpu_s"] = smp.cpu_s() - smp_cpu0
                    rec["cpu_s"] = tree_cpu_s(pid) - cpu0 - rec["sampler_cpu_s"]
                    rec["peak_rss_mb"], _, rec["rss_by_command_mb"] = smp.window()
                    rec["errors"] = wl.check_pass(i)
                except Exception:
                    rec["errors"] = [traceback.format_exc()]
                report["passes"].append(rec)
                i += 1
                # The window holds whole passes only: another starts only
                # if one as long as the last would still end inside it.
                # The first pass is slower (code generation, JIT); with
                # passes about as long as the window, starting a pass
                # whenever time was left gave one or two passes by chance
                # and bimodal medians.
                if i >= min_passes and (
                    time.perf_counter() + rec.get("wall_s", 0.0) > deadline
                ):
                    break
            t = time.perf_counter()
            try:
                report["check_errors"], report["check_info"] = wl.check(
                    parity=bool(args.trace)
                )
            except Exception:
                report["check_errors"] = [traceback.format_exc()]
            report["check_s"] = time.perf_counter() - t
            if args.trace:
                warm = [r["wall_s"] for r in report["passes"][1:] if "wall_s" in r]
                report["layers"] = traced_pass(spark, wl, smp, warm, report)
    finally:
        with open(args.report, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
