"""End-to-end pipeline test: Load -> Dedup -> Copy -> Delete -> Join over a
JSONL landing fixture, mirroring the reference's state sequence
(README.md:40-51) and checked against a DuckDB oracle on the same JSONL."""

from __future__ import annotations

import json
import os
from datetime import date

import duckdb
import pytest
from pyspark.sql import types as T

from etl_gardener_spark.table_ops import JobSpec, OpStats, TableOps
from etl_gardener_spark.warehouse import Warehouse

NDT7_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField(
            "parser", T.StructType([T.StructField("Time", T.TimestampType())])
        ),
        T.StructField(
            "a",
            T.StructType([T.StructField("MeanThroughputMbps", T.DoubleType())]),
        ),
        T.StructField("raw", T.StringType()),
    ]
)

ANN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField(
            "parser", T.StructType([T.StructField("Time", T.TimestampType())])
        ),
        T.StructField(
            "client",
            T.StructType(
                [
                    T.StructField(
                        "Geo", T.StructType([T.StructField("CountryCode", T.StringType())])
                    )
                ]
            ),
        ),
    ]
)


def _write_landing(root: str, day: str, rows: list[dict], n_files: int = 3) -> str:
    prefix = os.path.join(root, "bucket", "ndt", "ndt7", *day.split("-"))
    os.makedirs(prefix, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(prefix, f"part{i}.jsonl"), "w") as f:
            for r in rows[i::n_files]:
                f.write(json.dumps(r) + "\n")
    return prefix


@pytest.fixture()
def landing(tmp_path):
    rows = []
    # 10 ids; ids 0-3 duplicated with increasing parser.Time (latest wins)
    for i in range(10):
        copies = 3 if i < 4 else 1
        for c in range(copies):
            rows.append(
                {
                    "id": f"id{i}",
                    "parser": {"Time": f"2024-03-01T0{c + 1}:00:00Z"},
                    "a": {"MeanThroughputMbps": float(i * 10 + c)},
                    "raw": "x" * 8,
                }
            )
    # one unknown extra field (tolerated), one corrupt line (dropped)
    rows.append(
        {
            "id": "id10",
            "parser": {"Time": "2024-03-01T05:00:00Z"},
            "a": {"MeanThroughputMbps": 1.0},
            "raw": "y",
            "unknown_field": 42,
        }
    )
    prefix = _write_landing(str(tmp_path / "landing"), "2024/03/01", rows)
    with open(os.path.join(prefix, "corrupt.jsonl"), "w") as f:
        f.write('{"id": "bad",,,\n')
    return prefix


def _seed_annotations(spark, wh) -> None:
    """raw.annotation2 for 2024-03-01: id0 annotated on d-1, id1 on d."""
    from datetime import datetime

    import pyspark.sql.functions as F

    ann_rows = [
        {"id": "id0", "parser": {"Time": datetime(2024, 2, 29, 23)},
         "client": {"Geo": {"CountryCode": "US"}}},
        {"id": "id1", "parser": {"Time": datetime(2024, 3, 1, 4)},
         "client": {"Geo": {"CountryCode": "DE"}}},
    ]
    ann_df = spark.createDataFrame(ann_rows, schema=ANN_SCHEMA)
    wh.append(
        ann_df.withColumn(
            "date",
            F.when(F.col("id") == "id0", F.lit("2024-02-29").cast("date")).otherwise(
                F.lit("2024-03-01").cast("date")
            ),
        ),
        "raw",
        "ndt",
        "annotation2",
    )


def test_full_pipeline(spark, tmp_path, landing):
    wh = Warehouse(str(tmp_path / "wh"))
    job = JobSpec(experiment="ndt", datatype="ndt7", date=date(2024, 3, 1))
    ops = TableOps(spark, wh, job)

    # T1: Load
    st = ops.load_to_tmp(landing, NDT7_SCHEMA)
    assert st.rows_out == 19  # 4*3 + 6 + 1
    assert st.corrupt_rows == 1
    assert st.input_files == 4

    # T2: Dedup (keep latest parser.Time per id+date)
    st = ops.dedup()
    assert st.rows_out == 11
    assert st.rows_deleted == 8
    tmp = wh.read_partition(spark, "tmp", "ndt", "ndt7", job.date)
    best = {r.id: r.a.MeanThroughputMbps for r in tmp.collect()}
    assert best["id0"] == 2.0  # copy c=2 has latest Time
    assert best["id9"] == 90.0

    # dedup is idempotent (restartable stage)
    st = ops.dedup()
    assert st.rows_deleted == 0

    # T3: Copy to raw
    st = ops.copy_to_raw()
    assert st.rows_out == 11

    # T4: Delete tmp
    st = ops.delete_tmp()
    assert st.detail["existed"]
    assert not wh.partition_exists(spark, "tmp", "ndt", "ndt7", job.date)

    # T5: Join — seed a deduped annotation table incl. a d-1 row
    _seed_annotations(spark, wh)
    st = ops.join()
    assert st.rows_out == 11
    joined = wh.read_partition(spark, "join", "ndt", "ndt7", job.date)
    assert joined.columns == ["id", "parser", "client", "a", "raw", "date"]
    got = {r.id: r.client for r in joined.collect()}
    assert got["id0"].Geo.CountryCode == "US"  # matched via d-1 window
    assert got["id1"].Geo.CountryCode == "DE"
    assert got["id2"] is None

    # Oracle: replay the same semantics in DuckDB over the landing JSONL
    con = duckdb.connect()
    dedup_sql = f"""
      SELECT id, a.MeanThroughputMbps AS mbps FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY parser.Time DESC) rn
        FROM read_json_auto('{landing}/part*.jsonl')
      ) WHERE rn = 1
    """
    expect = dict(con.execute(dedup_sql).fetchall())
    got_raw = {
        r.id: r.a.MeanThroughputMbps
        for r in wh.read_partition(spark, "raw", "ndt", "ndt7", job.date).collect()
    }
    assert got_raw == expect


def test_dry_run_returns_plan_without_executing(spark, tmp_path, landing):
    wh = Warehouse(str(tmp_path / "wh"))
    job = JobSpec(experiment="ndt", datatype="ndt7", date=date(2024, 3, 1))
    ops = TableOps(spark, wh, job)
    ops.load_to_tmp(landing, NDT7_SCHEMA)

    st = ops.dedup(dry_run=True)
    assert isinstance(st, OpStats)
    assert "Window" in st.dry_run_plan
    # dry run left the data untouched
    assert wh.read_partition(spark, "tmp", "ndt", "ndt7", job.date).count() == 19


def test_spark_jobs_per_table_op(spark, tmp_path, landing):
    """Each op's Spark job count, read per op from its own job group: T1
    is its load write; T2/T3/T5 are one write each (counts observed on
    that write) plus the schema read of each input partition; T4 is a
    directory delete. Dedup's write adds its window shuffle's map stage,
    and the join reads three partitions (fact day, annotation d-1 and
    d)."""
    import uuid

    sc = spark.sparkContext
    wh = Warehouse(str(tmp_path / "wh"))
    _seed_annotations(spark, wh)
    job = JobSpec(experiment="ndt", datatype="ndt7", date=date(2024, 3, 1))
    ops = TableOps(spark, wh, job)
    steps = [
        ("load_to_tmp", lambda: ops.load_to_tmp(landing, NDT7_SCHEMA), 1),
        ("dedup", ops.dedup, 3),
        ("copy_to_raw", ops.copy_to_raw, 2),
        ("delete_tmp", ops.delete_tmp, 0),
        ("join", ops.join, 5),
    ]
    jobs, rows = {}, {}
    for op, call, _limit in steps:
        group = f"jobs-per-op-{op}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, op)
        try:
            rows[op] = call().rows_out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[op] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rows == {
        "load_to_tmp": 19, "dedup": 11, "copy_to_raw": 11, "delete_tmp": 0,
        "join": 11,
    }
    assert all(jobs[op] <= limit for op, _call, limit in steps), jobs


def _staging_files(wh: Warehouse) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _dirs, files in os.walk(os.path.join(wh.root, "_staging"))
        for f in files
    ]


def _dir_state(path: str) -> dict:
    return {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}


def test_empty_tmp_day_leaves_raw_and_join_untouched(spark, tmp_path):
    """A day whose landing holds only a corrupt line loads an EMPTY tmp
    day. Dedup and copy then replace nothing: the raw day an earlier run
    wrote keeps its files, as dynamic partition overwrite left it. A join
    over an empty raw day likewise keeps the join day. No staging dir is
    left behind."""
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    d1, d2 = date(2024, 3, 1), date(2024, 3, 2)
    earlier = spark.createDataFrame(
        [("old", "2024-03-01"), ("old", "2024-03-02")], "id string, d string"
    ).select("id", F.col("d").cast("date").alias("date"))
    # an earlier run left raw d1 and join d2 (raw d2 has no partition)
    wh.overwrite_partitions(earlier.filter(F.col("date") == d1), "raw", "ndt", "ndt7")
    wh.overwrite_partitions(earlier.filter(F.col("date") == d2), "join", "ndt", "ndt7")
    raw_d1 = wh.partition_path("raw", "ndt", "ndt7", d1)
    join_d2 = wh.partition_path("join", "ndt", "ndt7", d2)
    raw_before, join_before = _dir_state(raw_d1), _dir_state(join_d2)

    for day in (d1, d2):
        prefix = _write_landing(
            str(tmp_path / "landing"), day.isoformat().replace("-", "/"), [], 1
        )
        with open(os.path.join(prefix, "corrupt.jsonl"), "w") as f:
            f.write('{"id": "bad",,,\n')
        ops = TableOps(spark, wh, JobSpec(experiment="ndt", datatype="ndt7", date=day))
        assert ops.load_to_tmp(prefix, NDT7_SCHEMA).rows_out == 0
        st = ops.dedup()
        assert (st.rows_out, st.rows_deleted) == (0, 0)
        assert ops.copy_to_raw().rows_out == 0
        ops.delete_tmp()
    # d1's raw day is as the earlier run left it
    assert _dir_state(raw_d1) == raw_before
    assert not wh.partition_exists(spark, "raw", "ndt", "ndt7", d2)

    ops = TableOps(spark, wh, JobSpec(experiment="ndt", datatype="ndt7", date=d2))
    assert ops.join().rows_out == 0
    assert _dir_state(join_d2) == join_before
    joined = wh.read_partition(spark, "join", "ndt", "ndt7", d2)
    assert [r.id for r in joined.collect()] == ["old"]
    assert _staging_files(wh) == []


def test_dedup_swap_crash_window_recovery(spark, tmp_path, landing, monkeypatch):
    """A crash in dedup's swap AFTER the tmp day was deleted and BEFORE
    the staged survivors were renamed into place leaves the day's only
    copy under _staging/. recover_staging completes the swap, and the job
    then re-runs idempotently from dedup on."""
    from etl_gardener_spark import warehouse as W

    wh = Warehouse(str(tmp_path / "wh"))
    job = JobSpec(experiment="ndt", datatype="ndt7", date=date(2024, 3, 1))
    ops = TableOps(spark, wh, job)
    ops.load_to_tmp(landing, NDT7_SCHEMA)

    real_fs = W._hadoop_fs

    class _CrashOnRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if "__dedup__" in src.toUri().getPath():
                raise RuntimeError("injected crash before swap rename")
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    monkeypatch.setattr(W, "_hadoop_fs", lambda s, p: _CrashOnRename(real_fs(s, p)))
    with pytest.raises(Exception, match="injected crash"):
        ops.dedup()
    monkeypatch.setattr(W, "_hadoop_fs", real_fs)

    # crash state: the tmp day is gone, the survivors sit in staging
    assert not wh.partition_exists(spark, "tmp", "ndt", "ndt7", job.date)
    tmp_day = wh.partition_path("tmp", "ndt", "ndt7", job.date)
    assert os.path.exists(os.path.join(W._staged_path(tmp_day, "dedup"), "_SUCCESS"))

    out = W.recover_staging(spark, wh.root)
    assert out == {"completed": [tmp_day], "aborted": [], "failed": []}
    assert wh.read_partition(spark, "tmp", "ndt", "ndt7", job.date).count() == 11

    # the monitor retries the job from dedup: nothing left to delete
    st = ops.dedup()
    assert (st.rows_out, st.rows_deleted) == (11, 0)
    assert ops.copy_to_raw().rows_out == 11
    ops.delete_tmp()
    assert ops.join().rows_out == 11
    raw = wh.read_partition(spark, "raw", "ndt", "ndt7", job.date)
    assert sorted(r.id for r in raw.collect()) == sorted(f"id{i}" for i in range(11))
    assert _staging_files(wh) == []


def test_partition_overwrite_only_touches_target_day(spark, tmp_path):
    """Dynamic partition overwrite must not clobber sibling days
    (BigQuery partition decorator semantics, tracker/job.go:48-50)."""
    import pyspark.sql.functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    base = spark.range(10).withColumn(
        "date",
        F.when(F.col("id") < 5, F.lit("2024-03-01")).otherwise(F.lit("2024-03-02")).cast("date"),
    )
    wh.append(base, "raw", "exp", "dt")
    # overwrite only day 1 with 2 rows
    repl = spark.range(2).withColumn("date", F.lit("2024-03-01").cast("date"))
    wh.overwrite_partitions(repl, "raw", "exp", "dt")
    out = wh.read(spark, "raw", "exp", "dt")
    assert out.filter("date = '2024-03-01'").count() == 2
    assert out.filter("date = '2024-03-02'").count() == 5


def test_stage_reruns_are_idempotent(spark, tmp_path, landing):
    """Restartability (ops/ops.go:33-40): re-running copy/join after a
    'crash' must not change the output — partition overwrite replaces, not
    appends."""
    wh = Warehouse(str(tmp_path / "wh"))
    job = JobSpec(experiment="ndt", datatype="ndt7", date=date(2024, 3, 1))
    ops = TableOps(spark, wh, job)
    ops.load_to_tmp(landing, NDT7_SCHEMA)
    ops.dedup()

    st1 = ops.copy_to_raw()
    st2 = ops.copy_to_raw()  # crash-after-copy, monitor re-runs the stage
    assert st1.rows_out == st2.rows_out == 11
    raw = wh.read_partition(spark, "raw", "ndt", "ndt7", job.date)
    assert raw.count() == 11

    j1 = ops.join()
    j2 = ops.join()
    assert j1.rows_out == j2.rows_out
    assert wh.read_partition(spark, "join", "ndt", "ndt7", job.date).count() == 11


def test_compact_partition(spark, tmp_path):
    """Compaction shrinks file count, preserves rows exactly, no-ops on a
    missing day, and is idempotent."""
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(1000).select(
        F.col("id"), F.lit("2024-03-01").cast("date").alias("date")
    )
    wh.append(df.repartition(16), "tmp", "exp", "t")
    before = wh.read_partition(spark, "tmp", "exp", "t", date(2024, 3, 1))
    before_ids = sorted(r["id"] for r in before.collect())

    stats = wh.compact_partition(spark, "tmp", "exp", "t", date(2024, 3, 1))
    assert stats["files_before"] >= 16
    assert stats["files_after"] == 1
    assert stats["rows"] == 1000

    after = wh.read_partition(spark, "tmp", "exp", "t", date(2024, 3, 1))
    assert sorted(r["id"] for r in after.collect()) == before_ids

    again = wh.compact_partition(spark, "tmp", "exp", "t", date(2024, 3, 1))
    assert again["files_after"] == 1 and again["rows"] == 1000

    missing = wh.compact_partition(spark, "tmp", "exp", "t", date(2030, 1, 1))
    assert missing == {"files_before": 0, "files_after": 0, "bytes": 0, "rows": 0}


def test_upsert_partition(spark, tmp_path):
    """MERGE semantics: matched keys replaced, unmatched inserted, other
    rows untouched; idempotent on rerun; missing partition = insert-all."""
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    day = date(2024, 3, 1)
    base = spark.range(10).select(
        F.col("id"),
        (F.col("id") * 10.0).alias("v"),
        F.lit("2024-03-01").cast("date").alias("date"),
    )
    wh.append(base, "tmp", "exp", "t")

    # update ids 3,4; insert ids 100,101
    upd = spark.createDataFrame(
        [(3, -1.0), (4, -2.0), (100, 5.0), (101, 6.0)], ["id", "v"]
    )
    stats = wh.upsert_partition(spark, "tmp", "exp", "t", day, upd, ["id"])
    assert stats == {
        "rows_before": 10,
        "n_updates": 4,
        "matched": 2,
        "inserted": 2,
        "rows_after": 12,
    }
    got = {
        r.id: r.v
        for r in wh.read_partition(spark, "tmp", "exp", "t", day).collect()
    }
    assert got[3] == -1.0 and got[4] == -2.0 and got[100] == 5.0
    assert got[0] == 0.0 and len(got) == 12

    # idempotent: same merge again changes nothing but matched counts
    again = wh.upsert_partition(spark, "tmp", "exp", "t", day, upd, ["id"])
    assert again["rows_after"] == 12 and again["matched"] == 4
    assert again["inserted"] == 0

    # missing partition -> all inserts
    fresh = wh.upsert_partition(
        spark, "tmp", "exp", "t", date(2030, 1, 1), upd, ["id"]
    )
    assert fresh["rows_before"] == 0 and fresh["inserted"] == 4


def test_cluster_partition(spark, tmp_path):
    """Sort-clustering preserves rows exactly, produces disjoint per-file
    key ranges (the property that makes reader-level min/max skipping
    effective), is idempotent, and no-ops on a missing day."""
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    day = date(2024, 3, 1)
    # keys deliberately round-robined so every unclustered file holds the
    # full key range (worst case for stats skipping)
    df = spark.range(4000).select(
        (F.col("id") % 97).alias("k"),
        F.col("id").alias("payload"),
        F.lit("2024-03-01").cast("date").alias("date"),
    )
    wh.append(df.repartition(8), "tmp", "exp", "t")
    before = sorted(
        (r.k, r.payload)
        for r in wh.read_partition(spark, "tmp", "exp", "t", day).collect()
    )

    stats = wh.cluster_partition(spark, "tmp", "exp", "t", day, ["k"], n_files=4)
    assert stats["files"] == 4 and stats["rows"] == 4000
    rngs = stats["ranges"]
    assert len(rngs) == 4
    # globally disjoint: each file's max <= next file's min
    assert all(rngs[i][1] <= rngs[i + 1][0] for i in range(3)), rngs
    # full key domain covered
    assert rngs[0][0] == 0 and rngs[-1][1] == 96

    after = sorted(
        (r.k, r.payload)
        for r in wh.read_partition(spark, "tmp", "exp", "t", day).collect()
    )
    assert after == before

    again = wh.cluster_partition(spark, "tmp", "exp", "t", day, ["k"], n_files=4)
    assert again["rows"] == 4000

    missing = wh.cluster_partition(
        spark, "tmp", "exp", "t", date(2030, 1, 1), ["k"]
    )
    assert missing == {"files": 0, "rows": 0, "ranges": []}


def test_cluster_partition_zorder(spark, tmp_path):
    """Z-order clustering yields compact per-file bounding boxes on BOTH
    dimensions (quadrants for a uniform grid at 4 files), where a
    lexicographic sort leaves the trailing column's span at 100%."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    day = date(2024, 3, 1)
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.lit("2024-03-01").cast("date").alias("date"),
    )
    wh.append(grid.repartition(8), "tmp", "exp", "grid")

    def file_spans():
        part_dir = wh.partition_path("tmp", "exp", "grid", day)
        spans = []
        for f in _glob.glob(part_dir + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = md.schema.to_arrow_schema().names
            box = {}
            for col in ("x", "y"):
                ci = names.index(col)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    mins.append(st.min); maxs.append(st.max)
                box[col] = max(maxs) - min(mins)
            spans.append((box["x"], box["y"]))
        return spans

    # lexicographic baseline: y-span is full-domain in every file
    stats = wh.cluster_partition(spark, "tmp", "exp", "grid", day, ["x", "y"], n_files=4)
    assert stats["rows"] == 4096
    lex = file_spans()
    assert all(sy == 63 for _, sy in lex), lex

    stats = wh.cluster_partition(
        spark, "tmp", "exp", "grid", day, ["x", "y"], n_files=4, zorder=True
    )
    assert stats["files"] == 4 and stats["rows"] == 4096
    zboxes = file_spans()
    # Sampled range boundaries need not align with quadrant bit-prefixes,
    # so ONE straddling file may still span a full dimension — assert the
    # aggregate skipping potential instead: mean bounding-box span well
    # under the lexicographic baseline's 100% trailing-column span
    # (perfect quadrants would be ~50%).
    # With the op's 4x range-exchange sampling, 5/5 calibration runs give
    # perfect quadrants (31, 31); the thresholds keep one-file slack for
    # residual boundary jitter.
    mean_sx = sum(sx for sx, _ in zboxes) / len(zboxes)
    mean_sy = sum(sy for _, sy in zboxes) / len(zboxes)
    assert mean_sx <= 40 and mean_sy <= 48, zboxes
    assert sum(1 for _, sy in zboxes if sy <= 42) >= 3, zboxes

    # content preserved exactly
    got = sorted(
        (r.x, r.y)
        for r in wh.read_partition(spark, "tmp", "exp", "grid", day).collect()
    )
    assert got == sorted((i % 64, i // 64) for i in range(4096))


def test_read_days_and_partition_filter_guard(spark, tmp_path):
    """read_days returns exactly the addressed day range via direct
    directory reads (missing days contribute nothing); the
    require_partition_filter guard refuses full-table reads."""
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"2024-03-{d:02d}") for d in (1, 2, 4) for i in range(d)],
        ["id", "d"],
    ).select("id", F.col("d").cast("date").alias("date"))
    wh.append(df, "raw", "exp", "t")

    got = wh.read_days(
        spark, "raw", "exp", "t", date(2024, 3, 2), date(2024, 3, 4)
    )
    rows = sorted((r["date"].isoformat(), r["id"]) for r in got.collect())
    # day 2 (2 rows) + day 4 (4 rows); day 3 missing, day 1 out of range
    assert [d for d, _ in rows] == ["2024-03-02"] * 2 + ["2024-03-04"] * 4

    # empty range on an existing table -> typed empty frame
    empty = wh.read_days(
        spark, "raw", "exp", "t", date(2030, 1, 1), date(2030, 1, 2)
    )
    assert empty.count() == 0 and "date" in empty.columns

    with pytest.raises(ValueError, match="requires a partition filter"):
        wh.read(spark, "raw", "exp", "t", require_partition_filter=True)


def test_vacuum_staging_age_gated(spark, tmp_path):
    import os
    import time

    from etl_gardener_spark.warehouse import vacuum_staging

    root = tmp_path / "wh"
    stale = root / "tmp_exp" / "t" / "date=2024-01-01.__compacting__"
    # a table op's swap (TableOps.dedup) stages under _staging/
    stale_op = root / "_staging" / "tmp_exp" / "t" / "date=2024-01-03.__dedup__"
    fresh = root / "tmp_exp" / "t" / "date=2024-01-02.__clustering__"
    live = root / "tmp_exp" / "t" / "date=2024-01-01"
    for d in (stale, stale_op, fresh, live):
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
    old = time.time() - 7200
    # age the dir AND its contents: the sweep uses the newest mtime in
    # the tree, so an in-flight write's fresh task files protect it
    for d in (stale, stale_op):
        os.utime(d, (old, old))
        os.utime(d / "part-0.parquet", (old, old))

    removed = vacuum_staging(spark, str(root), min_age_sec=3600)
    assert sorted(removed) == sorted([str(stale), str(stale_op)])
    assert not stale.exists() and not stale_op.exists()
    assert fresh.exists() and live.exists()  # young staging + live data kept


def test_read_jsonl_observed_single_pass_counts(spark, tmp_path):
    """Counts ride the consuming action (df.observe): correct totals
    with corrupt rows present, no cache, stats available after ONE
    write action."""
    import json as _json

    from etl_gardener_spark.sources.jsonl import read_jsonl_observed

    d = tmp_path / "in"
    d.mkdir()
    rows = [{"id": f"i{k}", "ts": "2024-01-15T01:00:00.000000Z", "v": float(k)}
            for k in range(5)]
    (d / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    (d / "bad.jsonl").write_text('{"id": broken,,,\n')

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    good, finish = read_jsonl_observed(spark, str(d), schema)
    out = tmp_path / "out"
    good.write.mode("overwrite").parquet(str(out))  # the one action
    st = finish()
    assert (st.output_rows, st.corrupt_rows, st.input_files) == (5, 1, 2)
    assert st.input_bytes > 0
    assert spark.read.parquet(str(out)).count() == 5


def test_load_reads_gzip_jsonl_alongside_plain(spark, tmp_path):
    """The reference's landing archives are gzip-compressed JSONL; the
    loader must consume .jsonl.gz transparently (Hadoop codec selection
    by extension — no config, no separate code path) mixed with plain
    files in one prefix, and count both in LoadStats. Scale note pinned
    in sources/jsonl.py: gzip is NOT splittable, so a .gz file is one
    task — day-level parallelism comes from file count, which matches
    the reference's many-files-per-day layout."""
    import gzip as _gzip
    import json as _json

    from etl_gardener_spark.sources.jsonl import read_jsonl_observed

    d = tmp_path / "in"
    d.mkdir()
    rows = [{"id": f"i{k}", "ts": "2024-01-15T01:00:00.000000Z", "v": float(k)}
            for k in range(6)]
    (d / "a.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows[:3]) + "\n"
    )
    with _gzip.open(d / "b.jsonl.gz", "wt") as f:
        f.write("\n".join(_json.dumps(r) for r in rows[3:]) + "\n")

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    good, finish = read_jsonl_observed(spark, str(d), schema)
    out = tmp_path / "out"
    good.write.mode("overwrite").parquet(str(out))
    st = finish()
    assert (st.output_rows, st.corrupt_rows, st.input_files) == (6, 0, 2)
    got = {r["id"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {f"i{k}" for k in range(6)}


def test_forget_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """Right-to-be-forgotten: targeted partition rewrites, full-partition
    drop when every row is forgotten, untouched partitions keep their
    files, and reruns are no-ops."""
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    # 3 days: day1 has users 1,2; day2 has users 2,3; day3 has only user 9
    rows = [
        (1, "2024-03-01"), (2, "2024-03-01"),
        (2, "2024-03-02"), (3, "2024-03-02"),
        (9, "2024-03-03"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "d"]).select(
        "user_id", F.col("d").cast("date").alias("date")
    )
    wh.append(df, "raw", "exp", "t")
    p3 = wh.partition_path("raw", "exp", "t", date(2024, 3, 3))
    mtime_before = max(
        os.path.getmtime(os.path.join(p3, f)) for f in os.listdir(p3)
    )

    keys = spark.createDataFrame([(2,), (9,)], ["user_id"])
    stats = wh.forget_keys(spark, "raw", "exp", "t", keys, "user_id")
    assert stats == {
        "dates": ["2024-03-01", "2024-03-02", "2024-03-03"],
        "rows_removed": 3,
    }
    left = {
        (r["user_id"], str(r["date"]))
        for r in wh.read(spark, "raw", "exp", "t").collect()
    }
    assert left == {(1, "2024-03-01"), (3, "2024-03-02")}
    # day3 (all rows forgotten) is gone entirely
    assert not os.path.exists(p3)
    # rerun: nothing to do
    assert wh.forget_keys(spark, "raw", "exp", "t", keys, "user_id") == {
        "dates": [],
        "rows_removed": 0,
    }


def test_forget_keys_untouched_partition_not_rewritten(spark, tmp_path):
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    rows = [(1, "2024-03-01"), (5, "2024-03-02")]
    df = spark.createDataFrame(rows, ["user_id", "d"]).select(
        "user_id", F.col("d").cast("date").alias("date")
    )
    wh.append(df, "raw", "exp", "t")
    p2 = wh.partition_path("raw", "exp", "t", date(2024, 3, 2))
    files_before = sorted(os.listdir(p2))
    stats = wh.forget_keys(
        spark, "raw", "exp", "t",
        spark.createDataFrame([(1,)], ["user_id"]), "user_id",
    )
    assert stats["dates"] == ["2024-03-01"] and stats["rows_removed"] == 1
    # the unaffected day's files are bit-identical (never rewritten)
    assert sorted(os.listdir(p2)) == files_before


def test_partition_report_lists_metadata_only(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gardener_spark.warehouse import partition_report

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "2024-03-01"), (2, "2024-03-01"), (3, "2024-03-02")],
        ["user_id", "d"],
    ).select("user_id", F.col("d").cast("date").alias("date"))
    wh.append(df.repartition(4), "raw", "exp", "t")
    rep = partition_report(spark, wh, "raw", "exp", "t")
    assert [r["date"] for r in rep] == ["2024-03-01", "2024-03-02"]
    for r in rep:
        assert r["n_files"] >= 1 and r["bytes"] > 0 and r["newest_mtime_ms"] > 0
    assert partition_report(spark, wh, "raw", "exp", "missing") == []


def test_export_partition_roundtrips(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gardener_spark.warehouse import export_partition

    wh = Warehouse(str(tmp_path / "wh"))
    day = date(2024, 3, 1)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], ["id", "s", "v"]
    ).withColumn("date", F.lit("2024-03-01").cast("date"))
    wh.append(df, "raw", "exp", "t")

    for fmt, reader in [
        ("jsonl", lambda p: spark.read.json(p)),
        ("csv", lambda p: spark.read.option("header", "true")
                                 .option("inferSchema", "true").csv(p)),
        ("orc", lambda p: spark.read.orc(p)),
        ("parquet", lambda p: spark.read.parquet(p)),
    ]:
        out = str(tmp_path / f"out_{fmt}")
        n = export_partition(spark, wh, "raw", "exp", "t", day, out, fmt=fmt)
        assert n == 2
        back = {(r["id"], r["s"], r["v"]) for r in reader(out).collect()}
        assert back == {(1, "a", 1.5), (2, "b", 2.5)}, fmt

    out1 = str(tmp_path / "single")
    export_partition(
        spark, wh, "raw", "exp", "t", day, out1, fmt="csv", single_file=True
    )
    data_files = [f for f in os.listdir(out1) if f.startswith("part-")]
    assert len(data_files) == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        export_partition(spark, wh, "raw", "exp", "t", day, out1, fmt="avro")


def test_affected_dates_cap_trips_on_pathological_batch(spark):
    """warehouse.affected_dates powers the per-day derived-table refresh
    (refresh_rollup_days): a sane late batch returns its sorted distinct
    days; a pathological one (timestamp corruption spraying dates) must
    REFUSE above max_dates instead of driving an unbounded per-day
    rewrite loop on the driver."""
    from datetime import date, timedelta

    import pytest
    from pyspark.sql import functions as F

    from etl_gardener_spark.warehouse import affected_dates

    base = date(2024, 1, 1)
    rows = [(i, base + timedelta(days=i % 3)) for i in range(30)]
    small = spark.createDataFrame(rows, ["id", "date"])
    assert affected_dates(small, "date", max_dates=3) == [
        base,
        base + timedelta(days=1),
        base + timedelta(days=2),
    ]

    sprayed = spark.range(500).select(
        F.col("id"),
        F.date_add(F.lit("2000-01-01").cast("date"), F.col("id").cast("int"))
        .alias("date"),
    )
    with pytest.raises(ValueError, match="more than 100 distinct"):
        affected_dates(sprayed, "date", max_dates=100)
