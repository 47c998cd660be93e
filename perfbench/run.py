"""Mail-log pipeline benchmark.

    python3 perfbench/run.py --workload batch_ingest --seed 1 --seconds 25 --trace 0

Run from the repository root.  Workloads (``BENCHMARK.json`` says why
each was chosen):

* ``batch_ingest`` — the CLI batch path over one generated log (batch.py);
* ``events_table`` — reads and maintenance writes on an events table
  (table.py).

``--trace 0`` measures with tracing off and prints the end-to-end
metrics; ``--trace 1`` runs the traced layer sweep (trace_sweep.py) and prints
the per-layer metrics.  Inputs come from ``--seed`` alone.  Outputs are
checked against ground truth outside the timed region; any mismatch
sets ``correct`` to false, counts in ``failed`` and makes the exit code 1.

Every file the run makes (logs, parquet, checkpoints, spans, Spark's
warehouse and scratch space) lives under one directory in
``.perfbench_tmp/`` that is removed at exit.  The last line of standard
output is the result JSON; the line before it records the environment,
the workload's input properties and the sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170
WORKLOADS = ("batch_ingest", "events_table")
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


class Stopped(Exception):
    """Raised by SIGALRM (the run's deadline) or SIGTERM, so the ``finally``
    blocks stop Spark and remove the run's files."""


def _on_signal(signum, frame):
    raise Stopped(f"stopped by signal {signum} (deadline {DEADLINE_S} s)")


def pin_environment(tmp: str) -> dict:
    """Engine settings for a small shared box, recorded in the output."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        # the engine default (16g) exceeds small machines' RAM
        "SPARK_DRIVER_MEM": f"{max(1, min(4, int(mem_gb / 4)))}g",
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # every JVM (the launcher and Spark itself): temp files in the run's directory,
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(env)
    return {"nproc": cpus, "mem_gb": round(mem_gb, 1), "python": sys.version.split()[0],
            **{k: v for k, v in env.items() if k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")}}


def make_workload(name: str, spark, root: str, seed: int):
    if name == "batch_ingest":
        from batch import BatchIngest

        return BatchIngest(spark, root, seed)
    from table import EventsTable

    return EventsTable(spark, root, seed)


def measure(name: str, seed: int, seconds: float, root: str) -> tuple:
    """Untraced run: returns (result, detail)."""
    import engine
    import stats

    with engine.RssSampler() as rss:
        spark, start_s = engine.start_session()
        try:
            wl = make_workload(name, spark, root, seed)
            t0 = time.perf_counter()
            setup = wl.setup()
            setup_s = start_s + time.perf_counter() - t0
            out = wl.run(seconds)
        finally:
            engine.stop_session(spark)
    lat = stats.summarize(out["latencies"])
    values = {
        "setup_s": setup_s,
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "throughput_per_s": out["throughput"],
        "peak_rss_mb": rss.peak,
    }
    detail = {
        "workload": name, "seed": seed, "seconds": seconds,
        "setup": {"session_start_s": start_s, **setup},
        "latency": {**lat, "samples": out["latencies"]}, "inputs": wl.describe(),
    }
    if "maint_latencies" in out:
        detail["maint_latency"] = {**stats.summarize(out["maint_latencies"]),
                                   "samples": out["maint_latencies"]}
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()},
    }
    return result, detail


def check_metric_names(result: dict, trace: int) -> None:
    """The printed metrics must be exactly those ``BENCHMARK.json`` lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise RuntimeError(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "postfix_log_parser_spark")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    cwd = os.getcwd()
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(DEADLINE_S)
    try:
        env = pin_environment(tmp)
        os.chdir(tmp)  # Spark's derby/warehouse side files land here
        sys.path[:0] = [ROOT, HERE]
        if args.trace:
            import trace_sweep

            result, detail = trace_sweep.run(args.workload, args.seed, args.seconds, tmp)
        else:
            result, detail = measure(args.workload, args.seed, args.seconds, tmp)
        check_metric_names(result, args.trace)
    finally:
        signal.alarm(0)
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it
    print(json.dumps({"environment": env, **detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
