"""The repo benchmark: one command, two workloads, end-to-end metrics
(``--trace 0``) or per-layer metrics from a traced pass (``--trace 1``).

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
and cached under ``.bench_build/``; a fresh worker process (see
``worker.py``) does the Spark work. The last line of stdout is one JSON
object ``{correct, attempted, failed, metrics}``; the lines before it
print every metric by name and unit, the error rate, the input
generation time and the host envelope. See perfbench/README.md.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
WORKER_TIMEOUT_S = 165  # the whole run must end within 180 s

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "CPU-s",
    "peak_rss_mb": "MB", "resume_s": "s",
}


def driver_mem() -> str:
    """JVM heap for the driver, an eighth of physical memory (the
    engine's 48g default gets the driver killed on a small host)."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return f"{max(512, mem_kb // 1024 // 8)}m"


def worker_env() -> dict:
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "NFX_DRIVER_MEM": driver_mem(),
        "NFX_LOCAL_DIR": os.path.join(BUILD, "spark-local"),
        # Python temp files and the compiled-kernel cache stay in the checkout
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    return env


def _session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        if int(f[3]) == sid and f[0] != "Z":
            out.append(int(name))
    return out


def stop_session(sid: int) -> None:
    """Stop every process left in the worker's session and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while pids and time.monotonic() < deadline:
            time.sleep(0.1)
            pids = _session_pids(sid)
        if not pids:
            return


def run_worker(args, meta_path: str, work: str, report_path: str) -> dict | None:
    # a run starts from an empty work dir: earlier passes' tables are large
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(report_path):
        os.remove(report_path)
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", meta_path, "--work", work, "--report", report_path,
    ]
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], cwd=ROOT, env=worker_env(),
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        stop_session(proc.pid)
        proc.wait()
    if not os.path.exists(report_path):
        return None
    with open(report_path) as fh:
        return json.load(fh)


def summarize(report: dict, meta: dict, trace: int) -> dict:
    passes = report["passes"]
    ok = [p for p in passes if not p["errors"]]
    failed = len(passes) - len(ok)
    if report.get("check_errors") or report.get("trace_errors"):
        failed = len(passes)  # a wrong result condemns every pass that made it
    if trace:
        from perfbench.workloads import LAYER_UNITS

        layers = report.get("layers") or {}
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u}
            for k, u in LAYER_UNITS.items()
        }
    else:
        def med(key: str) -> float:
            vals = [p[key] for p in ok if key in p]
            return statistics.median(vals) if vals else 0.0

        wall = med("wall_s")
        values = {
            "setup_s": report.get("setup_s", 0.0),
            "wall_s": wall,
            "rows_per_s": meta["rows"] / wall if wall else 0.0,
            "cpu_s": med("cpu_s"),
            "peak_rss_mb": med("peak_rss_mb"),
            # without a checkpoint a job that failed half-way reruns in full
            "resume_s": med("resume_s") if any("resume_s" in p for p in ok) else wall,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    return {"correct": failed == 0 and bool(passes), "attempted": len(passes),
            "failed": failed, "metrics": metrics}


def cli(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["backfill_checkpointed", "curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [d for d in ("nuclei_feature_extraction_spark", "jobs")
               if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"not a checkout of the engine: {missing} missing under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen

    meta = gen.ensure_inputs(os.path.join(BUILD, "inputs"), args.workload, args.seed)
    meta_path = os.path.join(meta["dir"], "meta.json")
    work = os.path.join(BUILD, "work", args.workload)
    report_path = os.path.join(BUILD, "work", f"{args.workload}.report.json")
    report = run_worker(args, meta_path, work, report_path)
    if report is None or not report.get("passes"):
        print("worker ended without a report of a pass", file=sys.stderr)
        return 1
    result = summarize(report, meta, args.trace)
    errors = [e for p in report["passes"] for e in p["errors"]]
    errors += report.get("check_errors", []) + report.get("trace_errors", [])
    for e in errors:
        print(f"FAILED: {e.strip()}", file=sys.stderr)

    print(f"workload {args.workload} seed {args.seed} rows {meta['rows']} "
          f"passes {result['attempted']} (inputs generated in "
          f"{meta['generated_s']:.2f} s, not timed)")
    for name, m in result["metrics"].items():
        print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
    print(f"  {'error_rate':40s} {result['failed'] / result['attempted']:14.4f} fraction")
    print(f"  check: {json.dumps(report.get('check_info', {}), default=str)}")
    print(f"  envelope: {json.dumps(report.get('envelope', {}))}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(cli())
