"""The ``llm_queries`` workload: registry queries over the LLM operators.

Each query is built from ``plans.queries.REGISTRY`` on seeded tables and
executed into the ``noop`` sink, as ``bench.py`` does. The seed varies the
generated tables, which have the row counts of the sf0.1 test data. The warm
pass collects every result once and compares it with the query's DuckDB
oracle (``QueryDef.oracle``) by row count, column set and the test suite's
order-insensitive value hash; DuckDB's own time is kept out of ``setup_s``.
The timed passes then run the queries in a fixed order; their number follows
from ``--seconds`` alone (``harness.timed_units``), never from host speed.
"""

from __future__ import annotations

import os
import time

import gen
from harness import median, spark_layer, stage_totals, timed_units

from etl_gardener_spark.plans import queries as Q
from tests.conftest import value_hash  # the test suite's oracle comparison

# family -> queries. Each family loads the operator modules it is named for:
# emb (pq: the recall-report instrument runs its arms together), doc
# (neardup), corpus (the char-LM quality model), stream (streaming.sessions)
# and parity (operators.dedup / operators.join, shared with the day job).
FAMILIES = {
    "parity": ("dedup_keep_best", "join_annotation_window"),
    "doc": ("doc_jaccard_pairs",),
    "corpus": ("doc_charlm_quality",),
    "stream": ("stream_session_window",),
    "emb": ("emb_pq_recall_report",),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)
# the row counts of the sf0.1 test data (events, documents, embeddings)
TABLES = dict(events=100_000, users=1500, docs=5000, vectors=2000)
# the warm pass and the oracle check run on smaller tables: DuckDB's
# doc_jaccard_pairs oracle alone takes 53 s at TABLES (0.1 s here)
WARM_TABLES = dict(events=5000, users=100, docs=300, vectors=250)
TINY_TABLES = dict(events=1000, users=30, docs=120, vectors=120)  # self-test
PLAN_METRICS = {
    "s": "s",
    "build_s": "s",
    "spark_jobs": "count",
    "task_s": "s",
    "shuffle_bytes": "bytes",
}
PASS_S = 25.0  # nominal pass time at TABLES on a 4-core VM
LAYER_UNITS = {f"plans.{q}.{m}": u for q in QUERIES for m, u in PLAN_METRICS.items()}


# -- oracle comparison -------------------------------------------------------


def oracle_mismatch(rows: list[tuple], cols: list[str], duck, sql: str) -> str:
    """'' when the Spark result equals the DuckDB oracle, else the reason."""
    rel = duck.execute(sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"rows {len(rows)} != {len(d_rows)}"
    if value_hash(rows, cols) != value_hash(d_rows, d_cols):
        return "values differ"
    return ""


# -- the workload ------------------------------------------------------------


def run_queries(ctx) -> dict:
    import duckdb

    tiny = os.environ.get("PERFBENCH_TINY") == "1"
    tables = TINY_TABLES if tiny else TABLES
    warm_tables = TINY_TABLES if tiny else WARM_TABLES
    sf_dir = os.path.join(ctx.work, "tables")
    warm_dir = os.path.join(ctx.work, "warm-tables")
    gen.make_tables(sf_dir, ctx.seed, **tables)
    gen.make_tables(warm_dir, ctx.seed, **warm_tables)
    # a fixed order, cheapest first: the first query after the warm pass pays
    # a switch-over cost, which a shuffled order moved between queries
    order = list(QUERIES)
    spark, sc = ctx.spark, ctx.spark.sparkContext

    # warm pass on the small tables, checked against the oracles; DuckDB
    # time is not set-up
    duck = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{warm_dir}/{t}.parquet'")
    errors: list[str] = []
    warm: dict[str, float] = {}
    for name in order:
        t0 = time.perf_counter()
        try:
            df = Q.REGISTRY[name].fn(spark, warm_dir)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - a failing query is counted
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        finally:
            warm[name] = time.perf_counter() - t0
        why = oracle_mismatch(rows, df.columns, duck, Q.REGISTRY[name].oracle)
        if why:
            errors.append(f"{name}: oracle mismatch: {why}")
    duck.close()

    mark_stage, mark_job = ctx.store.max_stage_id(), ctx.store.max_job_id()
    passes: list[dict[str, float]] = []
    walls: list[float] = []
    builds: dict[str, list[float]] = {q: [] for q in QUERIES}
    groups: dict[str, list[tuple[str, object]]] = {q: [] for q in QUERIES}
    t_run = time.time()
    with ctx.tracer.span("workload.run", trace="llm_queries"):
        for _ in range(timed_units(ctx.seconds, PASS_S)):
            lat: dict[str, float] = {}
            p0 = time.perf_counter()
            for name in order:
                group = f"perfbench:q:{name}:{len(passes)}"
                if ctx.trace:
                    sc.setJobGroup(group, name)
                try:
                    with ctx.tracer.span(f"query.{name}", trace=name) as sp:
                        t0 = time.perf_counter()
                        with ctx.tracer.span("query.build"):
                            df = Q.REGISTRY[name].fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        with ctx.tracer.span("query.execute"):
                            df.write.mode("overwrite").format("noop").save()
                        lat[name] = time.perf_counter() - t0
                    builds[name].append(t1 - t0)
                    groups[name].append((group, sp))
                except Exception as e:  # noqa: BLE001
                    errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            walls.append(time.perf_counter() - p0)
            passes.append(lat)
    t_end = time.time()
    if ctx.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stages = ctx.store.stages(mark_stage)
    n = len(passes)
    totals = stage_totals(stages)

    def fam(qs) -> float:
        return median([sum(p.get(q, 0.0) for q in qs) for p in passes])

    samples = [v for p in passes for v in p.values()]
    report = {
        "drain_s": (median(walls), "s"),
        "job_s.p50": (median(samples), "s"),
        "queries_s": (fam(QUERIES), "s"),
        **{f"{f}_s": (fam(qs), "s") for f, qs in FAMILIES.items()},
        "task_s": (totals["task_s"] / n, "s"),
        "cpu_s": (totals["cpu_s"] / n, "s"),
    }
    attempted = len(QUERIES) * (n + 1)
    failed = len(errors)
    report["failed_ratio"] = (failed / attempted, "ratio")
    layers = {}
    if ctx.trace:
        layers = query_layers(ctx, passes, builds, groups, stages, mark_job,
                              t_run, t_end)
    return {
        "setup": {"warm_s": sum(warm.values())},
        "report": report,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "correct": not errors,
        "info": {
            "passes": n,
            "query_order": order,
            "query_samples": len(samples),
            "warm_query_s": warm,
            "query_s": {q: median([p[q] for p in passes if q in p]) for q in QUERIES},
            "input_size": tables,
            "input_bytes": gen.input_bytes(sf_dir),
            "input_sha256": gen.tree_hash(sf_dir),
            "warm_input_size": warm_tables,
            "warm_input_sha256": gen.tree_hash(warm_dir),
            "errors": errors[:20],
        },
    }


def query_layers(ctx, passes, builds, groups, stages, mark_job, t_run, t_end):
    jobs = ctx.store.jobs(mark_job)
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    n = len(passes)
    out: dict[str, float] = {}
    for name in QUERIES:
        n_jobs = task = shuffle = 0.0
        for group, sp in groups[name]:
            for j in by_group.get(group, []):
                n_jobs += 1
                if sp is not None:
                    ctx.tracer.add("spark.job_group", name, sp.span_id, j.start,
                                   j.end, job=j.job_id, group=group)
                for sid in j.stage_ids:
                    st = stages.get(sid)
                    if st is not None:
                        task += st.run_s
                        shuffle += st.shuffle_bytes
        out[f"plans.{name}.s"] = median([p[name] for p in passes if name in p])
        out[f"plans.{name}.build_s"] = median(builds[name])
        out[f"plans.{name}.spark_jobs"] = n_jobs / n
        out[f"plans.{name}.task_s"] = task / n
        out[f"plans.{name}.shuffle_bytes"] = shuffle / n
    out.update(spark_layer(stages, jobs, t_run, t_end, n))
    return out
