#!/usr/bin/env python3
"""KG query benchmark for knovexlite_spark.

Run from the repository root:

    python3 perfbench/run.py --workload efo_interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload neural_eval --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload all --smoke

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a fuller report (every metric, sample counts,
provenance).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
WORKLOAD_NAMES = ("efo_interactive", "neural_eval")


def pin_environment() -> None:
    """Everything the run writes stays under WORK; Spark runs local[4]."""
    for d in ("spark-local", "tmp", "data"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata, temp files under WORK
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def provenance(args, data_dir: Path) -> dict:
    import duckdb
    import numpy
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha1()
    for p in sorted((ROOT / "knovexlite_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "cpus_visible": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "spark_master": "local[4]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "sf_dir": data_dir.relative_to(ROOT).as_posix(),
        "git_commit": commit,
        "package_sha1": h.hexdigest(),
    }


def _pct(values, q: float) -> float:
    return float(statistics.quantiles(values, n=100, method="inclusive")[q - 1]) if len(values) > 1 else float(values[0])


def items_per_s(res) -> float:
    """Items per second of operation time over the window's successful
    operations.  The window holds whole cycles (one query per EFO shape,
    or one neural batch), so every run weighs the EFO shapes alike."""
    ok = [o for o in res.ops if o.error is None]
    return sum(o.items for o in ok) / sum(o.latency for o in ok) if ok else 0.0


def end_to_end(res) -> dict:
    """The BENCHMARK.json end-to-end metrics; 0 when every operation failed."""
    lat = [o.latency for o in res.ops if o.error is None]
    return {
        "setup_s": (statistics.median(res.setup_s), "s"),
        "op_latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "items_per_s": (items_per_s(res), "1/s"),
    }


def report_extras(res, name: str) -> dict:
    """Report-line figures beyond BENCHMARK.json: failures, memory, and
    each workload's own latency and throughput names."""
    ops = [o for o in res.ops if o.error is None]
    lat = [o.latency for o in ops]
    out = {
        "failed_frac": (res.failed / res.attempted, "ratio"),
        "peak_rss_mb": (res.peak_rss_mb, "MB"),
    }
    if not lat:
        return out
    if name == "efo_interactive":
        out["efo_latency_p50_s"] = (statistics.median(lat), "s")
        out["efo_latency_p90_s"] = (_pct(lat, 90), "s")
        out["efo_qps"] = (items_per_s(res), "queries/s")
    else:
        for k in ("qaa_exact_ips", "cqd_ips", "lmpnn_ips"):
            out[k] = (res.extra[k], "instances/s")
    return out


def run_one(args, name: str) -> tuple[dict, dict]:
    from perfbench import datagen, layers, workloads
    from perfbench.tracing import Tracer, read_event_log

    cfg = (workloads.SMOKE if args.smoke else workloads.CONFIGS)[name]
    data_dir = datagen.dataset_dir(WORK / "data", cfg.sf)
    event_log = None
    if args.trace:
        event_log = WORK / "eventlog" / f"{name}-{os.getpid()}"
        shutil.rmtree(event_log, ignore_errors=True)
        event_log.mkdir(parents=True)
    tracer = Tracer(enabled=bool(args.trace))
    res = workloads.run_workload(
        name, args.seed, args.seconds, cfg, data_dir, WORK, tracer, event_log, corrupt=args.corrupt
    )
    e2e = end_to_end(res)
    report = {
        "provenance": provenance(args, data_dir),
        "samples": {
            "setup_reps": len(res.setup_s),
            "warmup_ops": len(res.warmup),
            "ops": len(res.ops),
            "items_per_op": res.ops[0].items if res.ops else 0,
            "setup_s": [round(x, 4) for x in res.setup_s],
            "op_latency_s": [round(o.latency, 4) for o in res.ops],
        },
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **report_extras(res, name)}.items()},
    }
    if args.trace:
        groups = read_event_log(event_log)
        per_layer = layers.per_layer(res, tracer, groups)
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        report["layer_self_s"] = layers.self_times(tracer, res)
        shutil.rmtree(event_log, ignore_errors=True)
        metrics = per_layer
    else:
        metrics = e2e
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny batches at sf0.001, one set-up, no warm-up")
    args = p.parse_args(argv)
    args.corrupt = False
    if args.workload == "all" and not args.smoke:
        p.error("--workload all is only for --smoke")

    if not (ROOT / "knovexlite_spark" / "__init__.py").is_file():
        print(f"no knovexlite_spark package under {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    pin_environment()
    from perfbench.procs import become_subreaper, stop_descendants

    become_subreaper()
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    t0 = time.perf_counter()
    results = []
    try:
        for name in names:
            report, result = run_one(args, name)
            print(json.dumps({"report": name, **report}), flush=True)
            results.append(result)
    finally:
        stop_descendants()
    if len(results) == 1:
        final = results[0]
    else:
        final = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{n}.{k}": v for n, r in zip(names, results) for k, v in r["metrics"].items()},
        }
    print(f"total {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
