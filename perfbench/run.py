"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process on
``local[<cores>]``: it writes its seeded inputs under
``.perfbench_work/`` (before the clock starts), sets up the engine,
measures for ``--seconds``, checks the engine's outputs, and prints one
JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` makes the traced run and
reports the per-layer metrics. The line before it carries the run's
detail (planted input shares, per-op samples, the check results).
"""

from __future__ import annotations

import time

T_PROCESS0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ml_with_spark_streaming_spark"

WORKLOADS = ("tweets-1k", "analytics-sf0.01", "door-1k")
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s"}


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a live process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between
    two readings: context for a run that reads slow."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _isolate(work: str, cores: int) -> None:
    """Every file the run writes stays inside the checkout, and Spark's
    Python workers (children of the JVM this process launches) import
    the package from the checkout root."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "ivf")
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort: kill and reap
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ next to {os.path.basename(HERE)}/: run from a full checkout",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    _isolate(work, cores)

    import layers
    import spans
    import stats
    import workloads

    cpu0 = _cpu_times()
    tracer = spans.Tracer() if args.trace else None
    ctx = workloads.Ctx(ROOT, work, args.seed, args.seconds, tracer, cores)
    spark = None
    try:
        name = args.workload
        if name == "tweets-1k":
            res = workloads.tweets(ctx, workloads.TWEETS_PER_FILE)
        elif name == "door-1k":
            res = workloads.door(ctx, workloads.DOOR_PER_FILE)
        else:
            res = workloads.analytics(ctx)
        spark = res["spark"]
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        setup_s = res["t_measure0"] - T_PROCESS0 - res["gen_s"]
        ops = res["ops"]
        e2e = {"setup_s": setup_s, "items_per_s": res["items"] / res["measure_s"]}
        detail = {
            "workload": name, "seed": args.seed, "cores": cores, "trace": args.trace,
            "gen_s": res["gen_s"], "steal_pct": _steal_pct(cpu0, _cpu_times()),
            "ops": len(ops), "op_s": ops, "op_s_p50": stats.median(ops),
            "op_s_tail": stats.tail(ops),
            "cpu_ms_per_item": 1000.0 * res["cpu_s"] / res["items"], **res["info"],
            "end_to_end": e2e, "peak_rss_mb": peak_rss,
            "checks": ctx.checks,
        }
        if tracer is not None:
            _stop(spark)
            spark = None
            from eventlog import read_jobs

            jobs = read_jobs(os.path.join(work, "eventlog"))
            lm = layers.per_layer(tracer, jobs, res, ctx)
            lm["peak_rss_mb"] = peak_rss
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{name}-seed{args.seed}-spans.json"))
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in lm.items()}
            detail["jobs"] = len(jobs)
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        correct = all(c["ok"] for c in ctx.checks) and ctx.failed == 0
        print(json.dumps(detail, default=str))
        print(json.dumps({"correct": correct, "attempted": max(1, ctx.attempted),
                          "failed": ctx.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
