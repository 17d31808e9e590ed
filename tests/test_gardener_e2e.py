"""End-to-end orchestration test (reference ops/actions_test.go:23-152):
seed jobs via the Jobs API, report postProcessing like a parser would, and
let the Monitor's standard action chain drive Load → Dedup → Copy → Delete →
Join → Complete against real Spark + warehouse directories."""

from __future__ import annotations

import json
import os
from datetime import date as Date

import pytest
from pyspark.sql import types as T

from etl_gardener_spark.orchestrator import job as J
from etl_gardener_spark.orchestrator.config import GardenerConfig, SourceConfig
from etl_gardener_spark.orchestrator.gardener import Gardener
from etl_gardener_spark.orchestrator.job import Datasets
from etl_gardener_spark.warehouse import Warehouse

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField(
            "parser", T.StructType([T.StructField("Time", T.TimestampType())])
        ),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_day(root: str, job_prefix: str, rows: list[dict]) -> None:
    d = os.path.join(root, job_prefix)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part0.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def gardener(spark, tmp_path):
    cfg = GardenerConfig(
        start_date=Date(2024, 3, 1),
        sources=(
            SourceConfig(
                bucket="b",
                experiment="ndt",
                datatype="ndt7",
                datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
            ),
        ),
    )
    g = Gardener(
        spark,
        cfg,
        warehouse_root=str(tmp_path / "wh"),
        landing_root=str(tmp_path / "landing"),
        schema_for=lambda job: SCHEMA,
        state_dir=str(tmp_path / "state"),
        retry_delay_sec=0.1,
    )
    yield g, str(tmp_path / "landing"), str(tmp_path / "wh")
    g.monitor.shutdown()


def test_pipeline_via_monitor(gardener):
    g, landing, wh_root = gardener
    job = g.config.sources[0].job_spec().with_date(Date(2024, 3, 1))
    rows = [
        {"id": "a", "parser": {"Time": "2024-03-01T01:00:00Z"}, "value": 1.0},
        {"id": "a", "parser": {"Time": "2024-03-01T02:00:00Z"}, "value": 2.0},
        {"id": "b", "parser": {"Time": "2024-03-01T01:30:00Z"}, "value": 3.0},
    ]
    _write_day(landing, job.prefix(), rows)
    # annotation2 for the same date: absent → join gate passes (actions.go:31-54)

    client = g.app.test_client()
    g.tracker.add_job(job)
    key = job.key()
    assert (
        client.post(
            "/v2/job/update", data={"id": key, "state": J.PARSE_COMPLETE}
        ).status_code
        == 200
    )
    assert g.monitor.drain(timeout_sec=120.0)
    st = g.tracker.get_status(key)
    assert st.state == J.COMPLETE, [si.state for si in st.history]
    # history walks the full chain
    states = [si.state for si in st.history]
    for s in (J.LOADING, J.DEDUPLICATING, J.COPYING, J.DELETING, J.JOINING):
        assert s in states

    wh = Warehouse(wh_root)
    spark = g.spark
    raw = wh.read_partition(spark, "raw", "ndt", "ndt7", job.date)
    got = {(r.id, r.value) for r in raw.collect()}
    assert got == {("a", 2.0), ("b", 3.0)}  # deduped: latest parser.Time wins
    assert not wh.partition_exists(spark, "tmp", "ndt", "ndt7", job.date)
    joined = wh.read_partition(spark, "join", "ndt", "ndt7", job.date)
    assert joined.count() == 2


def test_pipeline_failure_classification(gardener):
    g, landing, _ = gardener
    job = g.config.sources[0].job_spec().with_date(Date(2024, 3, 2))
    # No landing files written → load fails permanently → Failed state
    g.tracker.add_job(job)
    g.tracker.set_status(job.key(), J.PARSE_COMPLETE)
    g.monitor.drain(timeout_sec=60.0)
    st = g.tracker.get_status(job.key())
    assert st.state == J.FAILED


def test_six_jobs_concurrently(spark, tmp_path):
    """The reference's integration shape (ops/actions_test.go:23-152):
    six jobs across dates and datatypes drive to Complete concurrently
    through one monitor and one shared SparkSession."""
    from datetime import timedelta

    cfg = GardenerConfig(
        start_date=Date(2024, 3, 1),
        sources=(
            SourceConfig(
                bucket="b", experiment="ndt", datatype="ndt7",
                datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
            ),
            SourceConfig(
                bucket="b", experiment="ndt", datatype="pcap",
                datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
            ),
        ),
    )
    g = Gardener(
        spark,
        cfg,
        warehouse_root=str(tmp_path / "wh"),
        landing_root=str(tmp_path / "landing"),
        schema_for=lambda job: SCHEMA,
        state_dir=str(tmp_path / "state"),
        retry_delay_sec=0.1,
    )
    try:
        jobs = []
        for spec in cfg.sources:
            for d in range(3):
                job = spec.job_spec().with_date(Date(2024, 3, 1) + timedelta(days=d))
                rows = [
                    {"id": f"{job.datatype}-{i % 4}",
                     "parser": {"Time": f"2024-03-0{d+1}T0{i+1}:00:00Z"},
                     "value": float(i)}
                    for i in range(6)
                ]
                _write_day(str(tmp_path / "landing"), job.prefix(), rows)
                g.tracker.add_job(job)
                g.tracker.set_status(job.key(), J.PARSE_COMPLETE)
                jobs.append(job)

        assert g.monitor.drain(timeout_sec=300.0)
        states = {j.key(): g.tracker.get_status(j.key()).state for j in jobs}
        assert set(states.values()) == {J.COMPLETE}, states

        wh = Warehouse(str(tmp_path / "wh"))
        for job in jobs:
            raw = wh.read_partition(spark, "raw", "ndt", job.datatype, job.date)
            assert raw.count() == 4  # 6 rows, 4 distinct ids, keep-best
    finally:
        g.monitor.shutdown()


def test_restart_recovers_mid_pipeline(spark, tmp_path):
    """Crash-recovery semantics (ops/ops.go:33-40): a job persisted
    mid-chain (Loading done, state=Deduplicating) resumes after a process
    restart because the tracker reloads its JSON snapshot, no leases
    survive, and every stage is idempotent. A second Gardener built on
    the same state_dir must drive the recovered job to Complete and
    produce exactly the pipeline's normal output."""
    from pyspark.sql import functions as F

    cfg = GardenerConfig(
        start_date=Date(2024, 3, 1),
        sources=(
            SourceConfig(
                bucket="b", experiment="ndt", datatype="ndt7",
                datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
            ),
        ),
    )
    mk = lambda: Gardener(
        spark,
        cfg,
        warehouse_root=str(tmp_path / "wh"),
        landing_root=str(tmp_path / "landing"),
        schema_for=lambda job: SCHEMA,
        state_dir=str(tmp_path / "state"),
        retry_delay_sec=0.1,
    )
    job = cfg.sources[0].job_spec().with_date(Date(2024, 3, 5))
    rows = [
        {"id": "a", "parser": {"Time": "2024-03-05T01:00:00Z"}, "value": 1.0},
        {"id": "a", "parser": {"Time": "2024-03-05T03:00:00Z"}, "value": 9.0},
        {"id": "b", "parser": {"Time": "2024-03-05T02:00:00Z"}, "value": 3.0},
    ]
    _write_day(str(tmp_path / "landing"), job.prefix(), rows)

    # --- process 1: load completed, then crash before dedup ran ---
    g1 = mk()
    loaded = (
        spark.read.schema(SCHEMA)
        .json(str(tmp_path / "landing" / job.prefix()))
        .withColumn("date", F.lit(job.date.isoformat()).cast("date"))
    )
    Warehouse(str(tmp_path / "wh")).append_day(
        loaded, "tmp", "ndt", "ndt7", job.date
    )
    g1.tracker.add_job(job)
    g1.tracker.set_status(job.key(), J.DEDUPLICATING)
    g1.tracker.save(force=True)
    g1.monitor.shutdown()  # crash: monitor never acted on the job

    # --- process 2: fresh Gardener on the same state_dir ---
    g2 = mk()
    try:
        st = g2.tracker.get_status(job.key())  # recovered from JSON snapshot
        assert st.state == J.DEDUPLICATING
        assert g2.monitor.drain(timeout_sec=120.0)
        st = g2.tracker.get_status(job.key())
        assert st.state == J.COMPLETE, [si.state for si in st.history]
        # the post-crash history walks the remaining chain
        resumed = [si.state for si in st.history]
        for s in (J.COPYING, J.DELETING, J.JOINING, J.COMPLETE):
            assert s in resumed

        wh = Warehouse(str(tmp_path / "wh"))
        raw = wh.read_partition(spark, "raw", "ndt", "ndt7", job.date)
        assert {(r.id, r.value) for r in raw.collect()} == {("a", 9.0), ("b", 3.0)}
        assert not wh.partition_exists(spark, "tmp", "ndt", "ndt7", job.date)
        assert wh.read_partition(spark, "join", "ndt", "ndt7", job.date).count() == 2
    finally:
        g2.monitor.shutdown()


def test_pipeline_records_query_cost_metrics(gardener):
    """The dedup/join query ops must record their slot-seconds analogue
    (executor task-time delta) and the load its files/bytes histograms —
    the reference's job-statistics observability (ops/actions.go:150-170,
    290-309)."""
    from etl_gardener_spark.orchestrator import metrics as M

    g, landing, _ = gardener
    job = g.config.sources[0].job_spec().with_date(Date(2024, 3, 7))
    rows = [
        {"id": "a", "parser": {"Time": "2024-03-07T01:00:00Z"}, "value": 1.0},
        {"id": "a", "parser": {"Time": "2024-03-07T02:00:00Z"}, "value": 2.0},
    ]
    _write_day(landing, job.prefix(), rows)
    g.tracker.add_job(job)
    g.tracker.set_status(job.key(), J.PARSE_COMPLETE)
    assert g.monitor.drain(timeout_sec=120.0)
    assert g.tracker.get_status(job.key()).state == J.COMPLETE

    text = M.REGISTRY.expose_text()
    assert 'gardener_query_cost_seconds_count{datatype="ndt7",query="dedup"}' in text
    assert 'gardener_query_cost_seconds_count{datatype="ndt7",query="join"}' in text
    assert 'gardener_bytes_count{experiment="ndt",datatype="ndt7"}' in text
    # task time accumulated: the sum is positive once real work ran
    assert M.spark_task_seconds(g.spark) > 0


# ---------------------------------------------------------------------------
# Failure injection: staged-swap crash windows (round-3 verdict item 7)
# ---------------------------------------------------------------------------


def _seed_partition(spark, wh, day, rows):
    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame(rows, "id string, value double")
        .withColumn("date", F.lit(day.isoformat()).cast("date"))
    )
    wh.overwrite_partitions(df, "raw", "ndt", "ndt7")


class _RenameReturnsFalse:
    """FS proxy whose rename fails softly, as Hadoop reports failure."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, src, dst):
        return False

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_forget_keys_swap_crash_window_recovery(spark, tmp_path, monkeypatch):
    """Injected failure in forget_keys' most dangerous instant: AFTER the
    staged survivors committed and the live partition was deleted, but
    BEFORE the rename swapped staging into place. At that point the
    day's only copy lives under _staging/ — a naive retry cannot restore
    it. recover_staging (run by Gardener.start on boot) must complete
    the swap from the _SUCCESS-marked staging dir, leaving the table
    readable with exactly the post-op rows and the job retryable
    (idempotent no-op)."""
    from datetime import date as D

    from etl_gardener_spark import warehouse as W

    wh = Warehouse(str(tmp_path / "wh"))
    day = D(2024, 3, 5)
    _seed_partition(
        spark, wh, day, [("keep1", 1.0), ("gone", 2.0), ("keep2", 3.0)]
    )

    real_fs = W._hadoop_fs

    class _CrashOnRename:
        """FS proxy that dies at the swap rename, like a driver crash."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if "__forgetting__" in src.toUri().getPath():
                raise RuntimeError("injected crash before swap rename")
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    monkeypatch.setattr(
        W, "_hadoop_fs", lambda s, p: _CrashOnRename(real_fs(s, p))
    )
    keys = spark.createDataFrame([("gone",)], "id string")
    with pytest.raises(Exception, match="injected crash"):
        wh.forget_keys(spark, "raw", "ndt", "ndt7", keys, "id")
    monkeypatch.setattr(W, "_hadoop_fs", real_fs)

    # crash state: partition gone from the table, survivors only in staging
    assert not wh.partition_exists(spark, "raw", "ndt", "ndt7", day)
    staged = W._staged_path(
        wh.partition_path("raw", "ndt", "ndt7", day), "forgetting"
    )
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))

    # boot-time recovery completes the swap
    out = W.recover_staging(spark, wh.root)
    assert out["completed"] == [wh.partition_path("raw", "ndt", "ndt7", day)]
    got = {
        (r.id, r.value)
        for r in wh.read_partition(spark, "raw", "ndt", "ndt7", day).collect()
    }
    assert got == {("keep1", 1.0), ("keep2", 3.0)}  # post-op rows, key gone
    # the job is retryable: rerun finds nothing to forget
    again = wh.forget_keys(spark, "raw", "ndt", "ndt7", keys, "id")
    assert again == {"dates": [], "rows_removed": 0}
    # and a full-table read never trips partition inference on leftovers
    assert wh.read(spark, "raw", "ndt", "ndt7").count() == 2


def test_forget_keys_mid_write_crash_aborts_staging(spark, tmp_path):
    """A half-written staging dir (executor died mid staged write: no
    _SUCCESS marker) with the live partition intact: the table keeps
    serving the PRE-op rows, recover_staging aborts the garbage, and the
    op retry completes the deletion."""
    from datetime import date as D

    from etl_gardener_spark import warehouse as W

    wh = Warehouse(str(tmp_path / "wh"))
    day = D(2024, 3, 6)
    _seed_partition(spark, wh, day, [("keep", 1.0), ("gone", 2.0)])

    staged = W._staged_path(
        wh.partition_path("raw", "ndt", "ndt7", day), "forgetting"
    )
    os.makedirs(os.path.join(staged, "_temporary", "0"), exist_ok=True)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00partial")  # torn file, no _SUCCESS

    assert wh.read(spark, "raw", "ndt", "ndt7").count() == 2  # still readable
    out = W.recover_staging(spark, wh.root)
    assert out["completed"] == [] and out["aborted"] == [staged]
    assert not os.path.exists(staged)

    keys = spark.createDataFrame([("gone",)], "id string")
    res = wh.forget_keys(spark, "raw", "ndt", "ndt7", keys, "id")
    assert res["rows_removed"] == 1
    got = {
        (r.id, r.value)
        for r in wh.read_partition(spark, "raw", "ndt", "ndt7", day).collect()
    }
    assert got == {("keep", 1.0)}


def test_recover_staging_failed_rename_keeps_staged_copy(
    spark, tmp_path, monkeypatch
):
    """Hadoop FileSystem.rename reports failure by returning FALSE, not
    raising. If recovery's swap-completion rename fails that way (perms,
    missing parent), the staged dir holds the partition's ONLY copy: it
    must be KEPT, reported under 'failed' (not 'completed'), and the
    Gardener boot must refuse to serve rather than silently miss the
    day."""
    from datetime import date as D

    from etl_gardener_spark import warehouse as W

    wh = Warehouse(str(tmp_path / "wh"))
    day = D(2024, 3, 7)
    _seed_partition(spark, wh, day, [("a", 1.0), ("b", 2.0)])

    real_fs = W._hadoop_fs

    # First, reproduce the delete-to-rename crash state (as in the
    # recovery test above): partition deleted, committed copy staged.
    class _CrashOnRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if "__forgetting__" in src.toUri().getPath():
                raise RuntimeError("injected crash before swap rename")
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    monkeypatch.setattr(
        W, "_hadoop_fs", lambda s, p: _CrashOnRename(real_fs(s, p))
    )
    keys = spark.createDataFrame([("b",)], "id string")
    with pytest.raises(Exception, match="injected crash"):
        wh.forget_keys(spark, "raw", "ndt", "ndt7", keys, "id")

    staged = W._staged_path(
        wh.partition_path("raw", "ndt", "ndt7", day), "forgetting"
    )
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))

    # Now recovery runs on a filesystem whose rename FAILS SOFTLY.
    monkeypatch.setattr(
        W, "_hadoop_fs", lambda s, p: _RenameReturnsFalse(real_fs(s, p))
    )
    out = W.recover_staging(spark, wh.root)
    assert out["completed"] == []
    assert out["failed"] == [staged]
    # the only copy is still safe under _staging, untouched
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))

    # and once the filesystem cooperates, recovery completes normally
    monkeypatch.setattr(W, "_hadoop_fs", real_fs)
    out2 = W.recover_staging(spark, wh.root)
    assert out2["failed"] == []
    assert out2["completed"] == [wh.partition_path("raw", "ndt", "ndt7", day)]
    got = {
        (r.id, r.value)
        for r in wh.read_partition(spark, "raw", "ndt", "ndt7", day).collect()
    }
    assert got == {("a", 1.0)}


_SWAP_OPS = {
    # op -> (staging op name, call, rows in the day after the op)
    "cluster": (
        "clustering",
        lambda spark, wh, day: wh.cluster_partition(
            spark, "raw", "ndt", "ndt7", day, ["id"], n_files=1
        ),
        3,
    ),
    "compact": (
        "compacting",
        lambda spark, wh, day: wh.compact_partition(spark, "raw", "ndt", "ndt7", day),
        3,
    ),
    "upsert": (
        "upserting",
        lambda spark, wh, day: wh.upsert_partition(
            spark, "raw", "ndt", "ndt7", day,
            spark.createDataFrame([("d", 4.0)], "id string, value double"), ["id"],
        ),
        4,
    ),
    "forget": (
        "forgetting",
        lambda spark, wh, day: wh.forget_keys(
            spark, "raw", "ndt", "ndt7",
            spark.createDataFrame([("c",)], "id string"), "id",
        ),
        2,
    ),
    "replace_day": (
        "copy",
        lambda spark, wh, day: wh.replace_day(
            spark, spark.createDataFrame([("z", 0.0)], "id string, value double"),
            "raw", "ndt", "ndt7", day, "copy",
        ),
        1,
    ),
}


@pytest.mark.parametrize("op", sorted(_SWAP_OPS))
def test_swap_failed_rename_raises_and_keeps_staged_copy(
    spark, tmp_path, monkeypatch, op
):
    """Every staged swap checks Hadoop rename's FALSE return. The target
    day is already deleted when the rename runs, so the staged dir holds
    its only copy: the op must raise (not report success) and keep that
    copy, which recover_staging then swaps into place."""
    from datetime import date as D

    from etl_gardener_spark import warehouse as W

    staging_op, call, rows_after = _SWAP_OPS[op]
    wh = Warehouse(str(tmp_path / "wh"))
    day = D(2024, 3, 8)
    _seed_partition(spark, wh, day, [("a", 1.0), ("b", 2.0), ("c", 3.0)])

    real_fs = W._hadoop_fs
    monkeypatch.setattr(
        W, "_hadoop_fs", lambda s, p: _RenameReturnsFalse(real_fs(s, p))
    )
    with pytest.raises(OSError, match="returned false"):
        call(spark, wh, day)
    monkeypatch.setattr(W, "_hadoop_fs", real_fs)

    target = wh.partition_path("raw", "ndt", "ndt7", day)
    staged = W._staged_path(target, staging_op)
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))
    assert not wh.partition_exists(spark, "raw", "ndt", "ndt7", day)

    out = W.recover_staging(spark, wh.root)
    assert out == {"completed": [target], "aborted": [], "failed": []}
    assert wh.read_partition(spark, "raw", "ndt", "ndt7", day).count() == rows_after


def test_dedup_overwrite_executor_failure_leaves_table_intact(spark, tmp_path):
    """REAL executor-level failure inside the dedup rewrite's write job
    (a mapInPandas batch raises on the executor): the dynamic partition
    overwrite must roll back — the original partition stays fully
    readable, Spark's committer droppings don't break reads or partition
    inference — and the retry with a healthy plan succeeds."""
    from datetime import date as D

    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    day = D(2024, 3, 7)
    _seed_partition(
        spark, wh, day, [("a", 1.0), ("a", 9.0), ("b", 3.0)]
    )
    survivors = wh.read_partition(spark, "raw", "ndt", "ndt7", day).filter(
        F.col("value") != 1.0
    ).withColumn("date", F.lit(day.isoformat()).cast("date"))

    def _bomb(batches):
        for pdf in batches:
            raise RuntimeError("injected executor failure")
            yield pdf  # pragma: no cover

    poisoned = survivors.mapInPandas(_bomb, schema=survivors.schema)
    with pytest.raises(Exception, match="injected executor failure"):
        wh.overwrite_partitions(poisoned, "raw", "ndt", "ndt7")

    # rollback: original three rows intact, table + partition readable
    assert wh.read_partition(spark, "raw", "ndt", "ndt7", day).count() == 3
    assert wh.read(spark, "raw", "ndt", "ndt7").count() == 3

    # the same failure in a staged swap's write (TableOps.dedup's path)
    # never reaches the swap: the day stays as it was
    with pytest.raises(Exception, match="injected executor failure"):
        wh.replace_day(spark, poisoned, "raw", "ndt", "ndt7", day, "dedup")
    assert wh.read_partition(spark, "raw", "ndt", "ndt7", day).count() == 3

    # retry with the healthy plan lands the dedup result
    wh.overwrite_partitions(survivors, "raw", "ndt", "ndt7")
    got = {
        (r.id, r.value)
        for r in wh.read_partition(spark, "raw", "ndt", "ndt7", day).collect()
    }
    assert got == {("a", 9.0), ("b", 3.0)}


@pytest.mark.slow
def test_pipeline_three_concurrent_days_at_bench_scale(spark, tmp_path):
    """Bench-scale orchestrator e2e (round-4 verdict item 6): the full
    Init -> Complete chain over THREE concurrent days whose landing data
    totals ~120k rows — the size of the sf0.1 events table the bench
    runs on — so the D12 observability path (per-query cost histograms,
    bytes/files stats, task-seconds) is exercised under real load, not
    toy days. Asserts every job completes, dedup produced exactly the
    distinct-id row counts, and the tracker metrics landed. Wall time
    for the whole pipeline is recorded in SCALE.md."""
    import time as _time

    from etl_gardener_spark.orchestrator import metrics as M

    cfg = GardenerConfig(
        start_date=Date(2024, 3, 1),
        sources=(
            SourceConfig(
                bucket="b", experiment="ndt", datatype="ndt7",
                datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
            ),
        ),
    )
    g = Gardener(
        spark,
        cfg,
        warehouse_root=str(tmp_path / "wh"),
        landing_root=str(tmp_path / "landing"),
        schema_for=lambda job: SCHEMA,
        state_dir=str(tmp_path / "state"),
        retry_delay_sec=0.1,
    )
    try:
        from datetime import timedelta

        n_rows, n_ids = 40_000, 10_000
        jobs = []
        for d in range(3):
            job = cfg.sources[0].job_spec().with_date(
                Date(2024, 3, 1) + timedelta(days=d)
            )
            day_dir = os.path.join(str(tmp_path / "landing"), job.prefix())
            os.makedirs(day_dir, exist_ok=True)
            with open(os.path.join(day_dir, "part0.jsonl"), "w") as f:
                for i in range(n_rows):
                    f.write(
                        '{"id": "id-%06d", "parser": {"Time": '
                        '"2024-03-0%dT%02d:%02d:%02dZ"}, "value": %d.5}\n'
                        % (i % n_ids, d + 1, i // 3600 % 24, i // 60 % 60,
                           i % 60, i)
                    )
            g.tracker.add_job(job)
            g.tracker.set_status(job.key(), J.PARSE_COMPLETE)
            jobs.append(job)

        t0 = _time.monotonic()
        assert g.monitor.drain(timeout_sec=600.0)
        wall = _time.monotonic() - t0
        states = {j.key(): g.tracker.get_status(j.key()).state for j in jobs}
        assert set(states.values()) == {J.COMPLETE}, states

        wh = Warehouse(str(tmp_path / "wh"))
        for job in jobs:
            raw = wh.read_partition(spark, "raw", "ndt", "ndt7", job.date)
            assert raw.count() == n_ids  # keep-best collapsed 4 rows/id
            assert not wh.partition_exists(spark, "tmp", "ndt", "ndt7", job.date)

        # D12 path under load: cost histograms + bytes stats + task time
        text = M.REGISTRY.expose_text()
        assert (
            'gardener_query_cost_seconds_count{datatype="ndt7",query="dedup"}'
            in text
        )
        assert (
            'gardener_query_cost_seconds_count{datatype="ndt7",query="join"}'
            in text
        )
        assert 'gardener_bytes_count{experiment="ndt",datatype="ndt7"}' in text
        assert M.spark_task_seconds(spark) > 0
        print(f"\nbench-scale pipeline wall: {wall:.1f}s for 3 days x {n_rows} rows")
    finally:
        g.monitor.shutdown()
