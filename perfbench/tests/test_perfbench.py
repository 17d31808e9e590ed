"""Self-test of the benchmark.

* Each workload, at the tiny size ``PERFBENCH_TINY=1`` selects, prints every
  end-to-end metric of BENCHMARK.json (``--trace 0``) and every per-layer
  metric of BENCHMARK.json (``--trace 1``) by name and unit, plus the full
  report line with every end-to-end and per-layer metric the workloads have.
* Corrupted outputs fail the output checks: a pipeline warehouse built with
  pyarrow, then damaged, and a query result that no longer equals its oracle.

Run from the repository root (a few minutes; every workload starts Spark):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import date

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import pipeline  # noqa: E402
import run  # noqa: E402
from queries import oracle_mismatch  # noqa: E402

from etl_gardener_spark.orchestrator import job as J  # noqa: E402

PIPELINE_REPORT = {
    "setup_s": "s",
    "drain_s": "s",
    "job_s.p50": "s",
    "job_s.p90": "s",
    "api_s.p50": "s",
    "api_s.p95": "s",
    "task_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "failed_ratio": "ratio",
}
REPORT = {
    "day_large": PIPELINE_REPORT,
    "backfill_small": PIPELINE_REPORT,
    "llm_queries": {
        "setup_s": "s",
        "drain_s": "s",
        "job_s.p50": "s",
        "queries_s": "s",
        "emb_s": "s",
        "doc_s": "s",
        "corpus_s": "s",
        "stream_s": "s",
        "parity_s": "s",
        "task_s": "s",
        "cpu_s": "s",
        "peak_rss_mb": "MB",
        "failed_ratio": "ratio",
    },
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT,
        env=dict(os.environ, PERFBENCH_TINY="1"),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(REPORT))
def test_workload_emits_every_metric(workload):
    spec = _spec()
    report, last = _run(workload, 0)
    assert last["correct"] and last["failed"] == 0, report["info"].get("errors")
    assert last["attempted"] >= 1
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == e2e
    assert all(v["value"] > 0 for v in last["metrics"].values())
    for name, unit in REPORT[workload].items():
        assert report["report"][name]["unit"] == unit, name
    for key in ("nproc", "load_avg_start", "load_avg_end", "python", "pyspark",
                "java", "git_commit", "input_size", "input_bytes", "input_sha256"):
        assert key in report["info"], key

    traced_report, traced = _run(workload, 1)
    assert traced["correct"], traced_report["info"].get("errors")
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == layers
    assert all(v["value"] > 0 for k, v in traced["metrics"].items()), traced
    full = {k: v["unit"] for k, v in traced_report["layers"].items()}
    assert full == run.layer_units() and set(layers) <= set(full)
    assert set(traced_report["tracing_overhead"]) >= set(e2e)
    with open(os.path.join(ROOT, traced_report["spans_file"])) as f:
        spans = json.load(f)["spans"]
    assert any(s["name"] == "workload.run" for s in spans)


# -- corrupted outputs -------------------------------------------------------


def _warehouse(tmp_path, day: date, ids: int, annotated: int):
    """A correct warehouse for one day, as the chain would leave it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = str(tmp_path / "wh")
    part = f"date={day.isoformat()}"
    names = [f"d0000-{i:07d}" for i in range(ids)]
    client = [{"ASN": 1, "Country": "A"} if i < annotated else None for i in range(ids)]
    tables = {
        f"raw_{gen.EXPERIMENT}/ndt7": pa.table({"id": names, "copy": [3] * ids}),
        f"join_{gen.EXPERIMENT}/ndt7": pa.table({"id": names, "client": client}),
        f"raw_{gen.EXPERIMENT}/annotation2": pa.table({"id": names[:annotated]}),
    }
    for path, t in tables.items():
        os.makedirs(f"{wh}/{path}/{part}")
        pq.write_table(t, f"{wh}/{path}/{part}/part-0.parquet")
    spec = gen.DaySpec(day, ids * 4, ids, annotated)
    keys = [f"{gen.BUCKET}/{gen.EXPERIMENT}/{dt}/{day:%Y%m%d}"
            for dt in ("annotation2", "ndt7")]
    attempts = [pipeline.Attempt(k, 0.0, 1.0, 2.0, J.COMPLETE) for k in keys]
    r = pipeline.Round(attempts, 0.0, 1.0, {}, 0, 0, 0.0, 2.0, {}, [], wh)
    return wh, spec, r


def test_pipeline_checks_catch_corruption(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    day = date(2024, 3, 1)
    wh, spec, r = _warehouse(tmp_path, day, ids=10, annotated=6)
    assert pipeline.check_round(wh, [spec], r, copies=4) == []

    raw = f"{wh}/raw_{gen.EXPERIMENT}/ndt7/date={day.isoformat()}"
    # a duplicate survived dedup
    pq.write_table(pa.table({"id": ["d0000-0000000"], "copy": [3]}),
                   f"{raw}/part-1.parquet")
    assert any("raw rows" in e for e in pipeline.check_round(wh, [spec], r, 4))
    os.remove(f"{raw}/part-1.parquet")
    # an older copy kept
    pq.write_table(pa.table({"id": [f"d0000-{i:07d}" for i in range(10)],
                             "copy": [3] * 9 + [1]}), f"{raw}/part-0.parquet")
    assert any("older copy" in e for e in pipeline.check_round(wh, [spec], r, 4))
    # a tmp partition and a staging dir left behind, a failed job
    wh2, spec2, r2 = _warehouse(tmp_path / "b", day, ids=10, annotated=6)
    os.makedirs(f"{wh2}/tmp_{gen.EXPERIMENT}/ndt7/date={day.isoformat()}")
    os.makedirs(f"{wh2}/_staging/raw_{gen.EXPERIMENT}/ndt7/date=x.__upserting__")
    r2.attempts[1].state = J.FAILED
    errs = pipeline.check_round(wh2, [spec2], r2, 4)
    assert any("tmp partition" in e for e in errs)
    assert any("staging" in e for e in errs)
    assert any("ended in failed" in e for e in errs)


def test_pipeline_checks_catch_lost_annotations(tmp_path):
    day = date(2024, 3, 1)
    wh, spec, r = _warehouse(tmp_path, day, ids=10, annotated=6)
    wrong = gen.DaySpec(day, spec.ndt7_rows, spec.ndt7_ids, 7)
    assert any("annotated" in e for e in pipeline.check_round(wh, [wrong], r, 4))


def test_query_oracle_catches_corruption():
    import duckdb

    duck = duckdb.connect()
    duck.execute("CREATE TABLE t AS SELECT range AS k, range * 0.5 AS v FROM range(5)")
    sql = "SELECT k, v FROM t"
    rows = duck.execute(sql).fetchall()
    assert oracle_mismatch(list(reversed(rows)), ["k", "v"], duck, sql) == ""
    assert oracle_mismatch(rows[:-1], ["k", "v"], duck, sql).startswith("rows")
    assert oracle_mismatch(
        rows[:-1] + [(4, 9.0)], ["k", "v"], duck, sql
    ) == "values differ"
    assert oracle_mismatch(rows, ["k", "w"], duck, sql).startswith("columns")


def test_timed_units_depend_on_arguments_only():
    from harness import timed_units

    assert timed_units(10, pipeline.ROUND_S["backfill_small"]) == 1
    assert timed_units(1, 25.0) == 1
    assert timed_units(60, 12.0) == 5
