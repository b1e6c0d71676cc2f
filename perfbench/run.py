"""Tick-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload day_file --seed 1 --seconds 20 --trace 0

Run from the repository root. The seed alone determines the generated
inputs; the engine sees only the generated files. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Earlier lines print every metric
by name with its unit, plus the figures the JSON line leaves out.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from context import Ctx, Outcome  # noqa: E402
from measure import RssSampler, Tracer  # noqa: E402

WORKLOADS = ("day_file", "live_feed")

# (name, unit) of the metrics the JSON line carries, as BENCHMARK.json lists them
_SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def pin_environment(work: Path) -> None:
    """Every core of this machine, and scratch space inside the checkout
    for Spark, the JVM and Python temp files."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -Dspark.ui.showConsoleProgress=false").strip()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)


def report(name: str, out: Outcome, trace: bool, peak_rss_mb: float,
           steal: float | None) -> dict:
    metrics = dict(out.metrics)
    metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
    for k, (v, unit) in metrics.items():
        print(f"{name} {k} = {v:.6g} {unit}")
    failed = out.failed + len(out.mismatches)
    attempted = out.attempted + len(out.mismatches)
    print(f"{name} failed_share = {failed / attempted:.6g} ratio "
          f"({failed} failed of {attempted} attempted; {len(out.mismatches)} output mismatches)")
    for m in out.mismatches:
        print(f"{name} MISMATCH {m}")
    for line in out.notes:
        print(f"{name} {line}")
    if steal is not None:
        print(f"{name} host_steal_share = {steal:.4f} ratio (CPU time taken by other "
              "guests during the timed region; timings under a high share are not comparable)")
    if trace:
        for k, (v, unit) in out.layers.items():
            print(f"{name} layer {k} = {v:.6g} {unit}")
        layers = out.layers | {"process.peak_rss_mb": metrics["peak_rss_mb"]}
        chosen = {k: (layers.get(k, (0, u))[0], u) for k, u in PER_LAYER.items()}
    else:
        chosen = {k: metrics[k] for k in END_TO_END}
    return {
        "correct": not out.mismatches and out.failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "tickdatapipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no tickdatapipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    pin_environment(work)

    module = importlib.import_module(args.workload)
    ctx = Ctx(seed=args.seed, seconds=args.seconds, work=work, tracer=Tracer(bool(args.trace)))
    with RssSampler() as rss:
        ctx.rss = rss
        try:
            out = module.run(ctx)
        except Exception:
            traceback.print_exc()
            return 1
        finally:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
    if ctx.traced:
        trace_path = work.parent / f"trace-{args.workload}-{args.seed}.json"
        ctx.tracer.dump(trace_path)
        print(f"{args.workload} spans written to {trace_path.relative_to(ROOT)}")
    result = report(args.workload, out, ctx.traced, rss.peak_mb, ctx.steal)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
