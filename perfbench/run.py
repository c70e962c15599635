"""Benchmark entry point for the funding engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout: the program is imported from
there. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
Everything the run writes goes under ``.perfbench_work/`` in the
current directory, which is removed before the result is printed, and
the Spark JVM (with its Python workers) has exited by then.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import uuid  # noqa: E402

WORK_DIR = ".perfbench_work"


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temp and Spark-local location at the work dir, turn off
    bytecode writing, and fix the driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"


def log(t0: float, what: str) -> None:
    print(f"perfbench: {time.perf_counter() - t0:7.2f}s {what}", file=sys.stderr)


def run(args, work: str, t0: float) -> dict:
    from perfbench import engine as engine_mod
    from perfbench import eventlog
    from perfbench.workloads import PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    os.environ[engine_mod.MARKER] = uuid.uuid4().hex
    t_gen = time.perf_counter()
    workload = WORKLOADS[args.workload](args.seed, work)
    gen_s = time.perf_counter() - t_gen
    log(t0, f"inputs generated in {gen_s:.2f}s")

    eng = engine_mod.Engine(work, trace=bool(args.trace))
    try:
        eng.start()
        setup_s = time.perf_counter() - t0 - gen_s
        log(t0, "session up")
        out = workload.run(eng, args.seconds, traced=bool(args.trace))
        log(t0, "workload done")
    finally:
        eng.stop()
        log(t0, "session stopped")

    log(t0, f"latency_ms {out.latency_ms:.1f} cpu_ms {out.cpu_ms:.1f}")
    for problem in out.problems:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    if args.trace:
        workload.layers_from_log(out, eventlog.read_jobs(eng.event_log_dir))
        metrics = {
            name: {"value": float(out.layers.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
    else:
        metrics = {
            "latency_ms": {"value": out.latency_ms, "unit": "ms"},
            "cpu_ms": {"value": out.cpu_ms, "unit": "ms"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    return {
        "correct": not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    t0 = time.perf_counter() - process_age_s()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "funding_monitoring_spark")):
        print(
            "perfbench: run from the root of a checkout that holds "
            "funding_monitoring_spark/",
            file=sys.stderr,
        )
        return 2
    # import from the checkout root, not from this script's directory
    sys.path[0] = root
    work = os.path.join(root, WORK_DIR, f"run-{os.getpid()}")
    isolate(work)
    try:
        result = run(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
