"""Benchmark of the PySpark full-text engine.

    python3 perfbench/run.py --workload bulk-index --seed 1 --seconds 15 \\
        --trace 0

Run from the root of a checkout.  It generates its inputs from ``--seed``
(cached under ``perfbench/_work/inputs``), starts a Spark session on
``local[<cores>]`` through the engine's own session factory, runs the
workload (see ``workloads.py``) for ``--seconds``, checks the engine's
outputs, and prints one JSON line last::

    {"correct": true, "attempted": 9, "failed": 0,
     "metrics": {"docs_per_s": {"value": 1790.2, "unit": "1/s"}, ...}}

``--trace 0`` reports the end-to-end metrics, with times scaled to the
reference machine speed ``CALIB_REF_S``; ``--trace 1`` reports the
per-layer metrics, unscaled, and writes the spans to
``perfbench/_work/trace-<workload>-s<seed>.jsonl`` (format in
``spans.py``).  Exit status is 0 only when every operation and every
check passed.  Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
ENGINE = "elasticsearch_nlp_classifier_spark"
DRIVER_MEM = "2g"   # pre-touched driver heap: JVM + 4 workers fit 15 GiB
#: seconds ``workloads.calibrate`` takes on the machine the benchmark was
#: sized on (a 4-vCPU Xeon VM on a shared host, quiet)
CALIB_REF_S = 0.15


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(run_dir: str) -> None:
    """Session settings, identical on every commit measured."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    # forked UDF workers import the engine from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_SANDBOX"] = "1"
    env["SPARK_GRAFT_CPUS"] = str(_cores())
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    env["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    env["TMPDIR"] = tmp
    env.pop("SPARK_GRAFT_FUSED", None)  # the engine's default plan
    env.pop("SPARK_GRAFT_MASTER", None)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from spans import descendants

    gateway = spark.sparkContext._gateway
    spark.stop()
    pids = descendants()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def run(workload: str, seed: int, seconds: float, trace: bool,
        tiny: bool = False) -> dict:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure_env(run_dir)
    sys.path.insert(0, ROOT)

    import workloads
    from spans import MemorySampler, Tracer

    from elasticsearch_nlp_classifier_spark.session import get_spark

    tracer = Tracer(trace)
    # The host's speed drifts by up to 2x over minutes with its other
    # tenants' load; end-to-end times are scaled by a fixed kernel's time
    # measured just before the session starts and just after it stops.
    calib = workloads.calibrate(_cores())
    with MemorySampler() as mem:
        t = time.perf_counter()
        spark = get_spark(master=f"local[{_cores()}]", app_name="perfbench")
        start_s = time.perf_counter() - t
        workloads.log(f"session started in {start_s:.1f}s")
        ctx = workloads.Ctx(
            spark=spark, seed=seed, seconds=seconds,
            sizes=workloads.SIZES["tiny" if tiny else "full"],
            inputs=os.path.join(WORK, "inputs"), run_dir=run_dir,
            tracer=tracer)
        try:
            measured = workloads.WORKLOADS[workload](ctx)
            measured["setup_s"] += start_s
            if trace:
                metrics = workloads.layer_metrics(ctx, measured)
                units = {k: v[0] for k, v in workloads.LAYER_METRICS.items()}
        finally:
            _stop(spark)
    calib = (calib + workloads.calibrate(_cores())) / 2
    workloads.log(f"stopped; calibration {calib:.4f}s")
    if trace:
        tracer.write(os.path.join(WORK, f"trace-{workload}-s{seed}.jsonl"))
    else:
        metrics = dict(measured, peak_pss_mb=mem.peak_kb / 1024)
        units = workloads.E2E_UNITS
        speed = CALIB_REF_S / calib  # below 1 on a slower machine
        for k, unit in units.items():
            if k in metrics and unit in ("s", "ms"):
                metrics[k] *= speed
            elif k in metrics and unit == "1/s":
                metrics[k] /= speed
    shutil.rmtree(run_dir, ignore_errors=True)
    for problem in ctx.check_failures:
        print(f"check failed: {problem}", file=sys.stderr)
    missing = [k for k in units if k not in metrics]
    return {
        "correct": not ctx.check_failures and not missing,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units if k in metrics},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk-index", "ingest-search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small inputs, for the benchmark's self-test")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"{ENGINE}/ not found next to perfbench/: run from a full "
              "checkout", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.tiny)
    print(json.dumps(result))
    ok = result["correct"] and result["failed"] == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
