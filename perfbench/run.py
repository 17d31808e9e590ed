"""Repo benchmark: the day-job pipeline and the LLM operator queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload day_large --seed 1 --seconds 10 --trace 0

Workloads: ``day_large``, ``backfill_small`` (perfbench/pipeline.py) and
``llm_queries`` (perfbench/queries.py). Every input is generated from
``--seed`` under ``.perfbench_work/`` in the checkout; nothing outside the
checkout is read or written. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the gated
end-to-end metrics with ``--trace 0``, the Spark-session layer metrics with
``--trace 1``. The line before it is the full report (every end-to-end
metric that applies to the workload, set-up parts, input sizes, versions,
and with ``--trace 1`` every per-layer metric under ``layers``).
With ``--trace 1`` the spans are written to
``.perfbench_work/results/<workload>-seed<n>-spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("day_large", "backfill_small", "llm_queries")


def result_metrics() -> tuple[list[str], list[str]]:
    """The names of the result line's metrics, from BENCHMARK.json: the
    gated end-to-end metrics (``--trace 0``) and the per-layer ones
    (``--trace 1``). Their units come from the report and ``layer_units``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]]


class Ctx:
    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool):
        from harness import StatusStore, Tracer

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.store = StatusStore(spark)


def _versions() -> dict:
    import pyspark

    def cmd(args: list[str]) -> str:
        try:
            out = subprocess.run(args, capture_output=True, text=True, timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            return ""
        return (out.stdout or out.stderr).strip().splitlines()[0] if (
            out.stdout or out.stderr
        ) else ""

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": cmd(["java", "-version"]),
        "git_commit": cmd(["git", "-C", ROOT, "rev-parse", "HEAD"]) or "unknown",
    }


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (BENCHMARK.json "per_layer")."""
    import pipeline
    import queries
    from harness import SPARK_UNITS

    return {**pipeline.LAYER_UNITS, **SPARK_UNITS, **queries.LAYER_UNITS}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_gardener_spark", "session.py")):
        print(
            "perfbench: run from the root of a checkout that holds the "
            "etl_gardener_spark package",
            file=sys.stderr,
        )
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    results = os.path.join(base, "results")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)

    # Launch set-up: the package and this directory on the driver's and the
    # Python workers' path, all scratch space inside the work directory.
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(path))
    sys.path[:0] = [ROOT, HERE]

    load_start = os.getloadavg()
    t0 = time.perf_counter()
    from etl_gardener_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace))
        if args.workload == "llm_queries":
            from queries import run_queries

            res = run_queries(ctx)
        else:
            from pipeline import run_pipeline

            res = run_pipeline(ctx, args.workload)
        from harness import peak_rss_mb

        rss = peak_rss_mb(spark)
    finally:
        _stop(spark)

    setup_s = session_s + sum(res["setup"].values())
    report = {
        "setup_s": (setup_s, "s"),
        **res["report"],
        "peak_rss_mb": (rss, "MB"),
    }
    gated, per_layer = result_metrics()
    e2e = {k: {"value": report[k][0], "unit": report[k][1]} for k in gated}
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": int(cpus),
        "load_avg_start": load_start,
        "load_avg_end": os.getloadavg(),
        **_versions(),
        "setup_parts_s": {"session_s": session_s, **res["setup"]},
        **res["info"],
    }
    record = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "info": info,
    }
    key = f"{args.workload}-seed{args.seed}"
    if args.trace:
        spans_path = os.path.join(results, f"{key}-spans.json")
        with open(spans_path, "w") as f:
            json.dump(
                {"spans": ctx.tracer.to_json(), "self_s": ctx.tracer.self_times()}, f
            )
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
        untraced = os.path.join(results, f"{key}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_report = json.load(f)["report"]
            record["tracing_overhead"] = {
                k: record["report"][k]["value"] - base_report[k]["value"]
                for k in record["report"]
                if k in base_report
            }
        # a layer the workload does not reach did no work: 0
        layers = {**res["layers"], "spark.session_s": session_s}
        record["layers"] = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u}
            for k, u in layer_units().items()
        }
        metrics = {k: record["layers"][k] for k in per_layer}
    else:
        metrics = e2e
    with open(os.path.join(results, f"{key}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, default=float))
    print(
        json.dumps(
            {
                "correct": record["correct"],
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


if __name__ == "__main__":
    sys.exit(main())
