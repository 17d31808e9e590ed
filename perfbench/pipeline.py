"""The day-job workloads: ``day_large`` and ``backfill_small``.

Both drive the package's own assembly: a ``Gardener`` (tracker, job service,
monitor with the standard action chain, Jobs HTTP API) per round, on a fresh
warehouse and state directory. Parsers are played by ``JobsClient`` threads
talking HTTP to the Flask app the Gardener built.

* ``day_large``: a few big days land before the round; the benchmark adds
  their jobs and reports ``postProcessing`` through the API, then waits for
  the monitor to drain the chain.
* ``backfill_small``: many tiny days are placed so the historical sweep
  reaches them directly and then restarts; two parser threads run a closed
  loop (next -> heartbeat -> update postProcessing) until every day is
  handed out, and once all jobs are Complete they take the first fifth of
  the days again (the restarted sweep), overwriting existing partitions.

With tracing on, ``Probe`` wraps the monitor's actions, the tracker and the
job service of each Gardener from the outside (``Monitor.get_action`` /
``add_action`` and instance attributes) and tags every op's Spark jobs with
a job group, so their cost can be read back from the status store.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, replace
from datetime import date as Date
from datetime import datetime, timedelta, timezone

import gen
from harness import (
    StatusStore,
    Tracer,
    median,
    quantile,
    spark_layer,
    stage_totals,
    timed_units,
    union_length,
)

from pyspark.sql import types as T

from etl_gardener_spark.orchestrator import job as J
from etl_gardener_spark.orchestrator.client import JobsClient
from etl_gardener_spark.orchestrator.config import GardenerConfig, SourceConfig
from etl_gardener_spark.orchestrator.gardener import Gardener
from etl_gardener_spark.orchestrator.job import Datasets, Job
from etl_gardener_spark.orchestrator.monitor import RetryError

POLL_SEC = 0.05  # monitor poll period
RETRY_SEC = 1.0  # monitor back-off after a Retry outcome
PARSERS = 2  # parser threads in the backfill closed loop
NO_JOB_SLEEP_SEC = 0.05  # parser back-off after a "no job" answer
NEVER_SEC = 10 * 365 * 86400.0  # daily iterator delay: never ripe

OPS = ("load_to_tmp", "dedup", "copy_to_raw", "delete_tmp", "join")
OP_METRICS = {
    "busy_s": "s",
    "spark_jobs": "count",
    "task_s": "s",
    "driver_gap_s": "s",
    "shuffle_bytes": "bytes",
}
# per-layer metrics of the pipeline workloads, with their units
LAYER_UNITS = {
    **{f"table_ops.{op}.{m}": u for op in OPS for m, u in OP_METRICS.items()},
    "table_ops.load_to_tmp.input_bytes": "bytes",
    "table_ops.load_to_tmp.corrupt_rows": "count",
    "table_ops.dedup.kept_ratio": "ratio",
    "monitor.wait_s.p50": "s",
    "monitor.wait_s.sum": "s",
    "monitor.gate_waits": "count",
    "monitor.retries": "count",
    "monitor.failures": "count",
    "tracker.set_status.calls": "count",
    "tracker.set_status.busy_s": "s",
    "tracker.save.busy_s": "s",
    "tracker.snapshot_bytes": "bytes",
    "api.next.calls": "count",
    "api.next.hit_ratio": "ratio",
    "api.next_s.p50": "s",
    "api.update_s.p50": "s",
    "api.heartbeat_s.p50": "s",
    "job_service.next_job.busy_s": "s",
    "job_service.has_files.calls": "count",
    "warehouse.files_written": "count",
    "warehouse.bytes_written": "bytes",
    "warehouse.bytes_per_input_byte": "ratio",
    "warehouse.staging_left": "count",
}
_STATE_OP = {
    J.LOADING: "load_to_tmp",
    J.DEDUPLICATING: "dedup",
    J.COPYING: "copy_to_raw",
    J.DELETING: "delete_tmp",
    J.JOINING: "join",
}

_TIME = T.StructType([T.StructField("Time", T.TimestampType())])
NDT7_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("parser", _TIME),
        T.StructField(
            "a", T.StructType([T.StructField("MeanThroughputMbps", T.DoubleType())])
        ),
        T.StructField("copy", T.IntegerType()),
    ]
)
ANN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("parser", _TIME),
        T.StructField(
            "client",
            T.StructType(
                [
                    T.StructField("ASN", T.LongType()),
                    T.StructField("Country", T.StringType()),
                ]
            ),
        ),
    ]
)


def schema_for(job: Job) -> T.StructType:
    return ANN_SCHEMA if job.datatype == "annotation2" else NDT7_SCHEMA


def gardener_config(start: Date) -> GardenerConfig:
    """annotation2 is listed first: the job iterator emits a date's specs in
    config order, so the annotation job is tracked before the ndt7 job whose
    join gate waits on it."""
    return GardenerConfig(
        start_date=start,
        sources=(
            SourceConfig(
                bucket=gen.BUCKET,
                experiment=gen.EXPERIMENT,
                datatype="annotation2",
                full_history=True,
                datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join=""),
            ),
            SourceConfig(
                bucket=gen.BUCKET,
                experiment=gen.EXPERIMENT,
                datatype="ndt7",
                full_history=True,
                datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
            ),
        ),
    )


# -- results -----------------------------------------------------------------


@dataclass
class Attempt:
    """One pass of one job through the chain, from the tracker's history."""

    key: str
    admitted: float
    post: float | None
    done: float | None
    state: str

    @property
    def latency(self) -> float | None:
        if self.post is None or self.done is None:
            return None
        return self.done - self.post


@dataclass
class Round:
    attempts: list[Attempt]
    assembly_s: float
    drain_s: float
    api: dict[str, list[float]]
    api_errors: int
    no_job: int
    start: float
    end: float
    outcomes: dict[str, float]  # from /metrics: retries, failures, waits
    errors: list[str]
    wh: str = ""


def _attempt(key: str, st: J.Status) -> Attempt:
    post = next((h.start for h in st.history if h.state == J.PARSE_COMPLETE), None)
    done = next((h.start for h in st.history if h.state == J.COMPLETE), None)
    return Attempt(key, st.history[0].start, post, done, st.state)


_METRIC_RE = re.compile(
    r'^gardener_action_duration_count\{action="([^"]*)",outcome="([^"]*)"\} (\S+)$',
    re.M,
)
_BYTES_RE = re.compile(r"^gardener_bytes_sum\{[^}]*\} (\S+)$", re.M)


def scrape(text: str) -> dict[str, float]:
    """Outcome counts and loaded bytes from the /metrics page."""
    out = {"retry": 0.0, "failure": 0.0, "waiting": 0.0, "ok": 0.0, "bytes": 0.0}
    for _action, outcome, v in _METRIC_RE.findall(text):
        out[outcome] = out.get(outcome, 0.0) + float(v)
    out["bytes"] = sum(float(v) for v in _BYTES_RE.findall(text))
    return out


# -- tracing probe -----------------------------------------------------------


class Probe:
    """Per-layer counters and spans, installed from outside on a Gardener."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.lock = threading.Lock()
        self.counts: dict[str, float] = {}
        self.waits: list[float] = []
        self.op_spans: list = []  # (op, group, span)
        self._seq = 0

    def add(self, name: str, v: float = 1.0) -> None:
        with self.lock:
            self.counts[name] = self.counts.get(name, 0.0) + v

    def timed(self, name: str, fn):
        def call(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.add(f"{name}.busy_s", time.perf_counter() - t0)
                self.add(f"{name}.calls")

        return call

    def install(self, g: Gardener) -> None:
        tr = g.tracker
        tr.set_status = self.timed("tracker.set_status", tr.set_status)
        tr.save = self.timed("tracker.save", tr.save)
        js = g.job_service
        js.next_job = self.timed("job_service.next_job", js.next_job)
        if js._has_files is not None:
            js._has_files = self.timed("job_service.has_files", js._has_files)
        for state, op in _STATE_OP.items():
            act = g.monitor.get_action(state)
            g.monitor.add_action(
                replace(
                    act,
                    action=self._wrap_op(op, act.action, tr),
                    condition=self._wrap_gate(act.condition),
                )
            )

    def _wrap_gate(self, cond):
        if cond is None:
            return None

        def gate(job):
            ok = cond(job)
            if not ok:
                self.add("monitor.gate_waits")
            return ok

        return gate

    def _wrap_op(self, op: str, fn, tracker):
        sc = self.spark.sparkContext

        def run(job):
            key = job.key()
            st = tracker.get_status(key)
            now = time.time()
            if st is not None and st.history:
                with self.lock:
                    self.waits.append(now - st.history[-1].start)
            with self.lock:
                self._seq += 1
                group = f"perfbench:{op}:{self._seq}"
            sc.setJobGroup(group, f"{op} {key}")
            try:
                with self.tracer.span(f"table_ops.{op}", trace=key) as sp:
                    detail = fn(job)
                with self.lock:
                    self.op_spans.append((op, group, sp))
                self._parse_detail(op, detail or "")
                return detail
            except RetryError:
                self.add("monitor.retries")
                raise
            except Exception:
                self.add("monitor.failures")
                raise
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        return run

    def _parse_detail(self, op: str, detail: str) -> None:
        nums = dict(re.findall(r"(rows_out|deleted|corrupt)=(\d+)", detail))
        if op == "load_to_tmp":
            self.add("table_ops.load_to_tmp.corrupt_rows", float(nums.get("corrupt", 0)))
        if op == "dedup" and "rows_out" in nums:
            self.add("dedup.kept", float(nums["rows_out"]))
            self.add("dedup.seen", float(nums["rows_out"]) + float(nums["deleted"]))


# -- the bench ---------------------------------------------------------------


class PipelineBench:
    def __init__(self, spark, work: str, tracer: Tracer, probe: Probe | None):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.probe = probe
        self.rounds_made = 0
        self.monitor_workers = 0
        import logging

        logging.getLogger("werkzeug").setLevel(logging.ERROR)

    # -- assembly ----------------------------------------------------------

    def assemble(self, landing: str, start: Date):
        from werkzeug.serving import make_server

        self.rounds_made += 1
        base = os.path.join(self.work, f"round{self.rounds_made:03d}")
        t0 = time.perf_counter()
        g = Gardener(
            self.spark,
            gardener_config(start),
            warehouse_root=os.path.join(base, "wh"),
            landing_root=landing,
            schema_for=schema_for,
            state_dir=os.path.join(base, "state"),
            daily_delay_sec=NEVER_SEC,
            poll_period_sec=POLL_SEC,
            retry_delay_sec=RETRY_SEC,
        )
        saved: list[Attempt] = []
        add_job = g.tracker.add_job

        def keep_history(job: Job) -> None:
            # re-adding a terminal job replaces its status: keep the old pass
            old = g.tracker.get_status(job.key())
            if old is not None and old.is_terminal():
                saved.append(_attempt(job.key(), old))
            add_job(job)

        g.tracker.add_job = keep_history
        self.monitor_workers = g.monitor._pool._max_workers
        if self.probe is not None:
            self.probe.install(g)
        g.start()
        server = make_server("127.0.0.1", 0, g.app, threaded=True)
        th = threading.Thread(target=server.serve_forever, daemon=True)
        th.start()
        assembly_s = time.perf_counter() - t0
        url = f"http://127.0.0.1:{server.server_port}"
        return g, server, th, url, saved, assembly_s, os.path.join(base, "wh")

    @staticmethod
    def teardown(g: Gardener, server, th) -> None:
        server.shutdown()
        server.server_close()
        th.join(timeout=10)
        g.stop()

    # -- rounds ------------------------------------------------------------

    @staticmethod
    def _wait_terminal(g: Gardener, expect: int, timeout: float) -> bool:
        """Wait until ``expect`` jobs are tracked and all are terminal."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            state = g.tracker.get_state()
            if len(state) >= expect and all(
                st.is_terminal() for _j, st in state.values()
            ):
                return True
            time.sleep(0.02)
        return False

    def _finish(self, g, server, th, url, saved, assembly_s, wh, t_start, api,
                api_errors, no_job, before) -> Round:
        client_metrics = _get(url + "/metrics")
        t_end = time.time()
        attempts = saved + [
            _attempt(k, st) for k, (_j, st) in g.tracker.get_state().items()
        ]
        self.teardown(g, server, th)
        done = [a.done for a in attempts if a.done is not None]
        first = min(a.admitted for a in attempts)
        after = scrape(client_metrics)
        outcomes = {k: after.get(k, 0.0) - before.get(k, 0.0) for k in after}
        return Round(
            attempts=attempts,
            assembly_s=assembly_s,
            drain_s=(max(done) - first) if done else 0.0,
            api=api,
            api_errors=api_errors,
            no_job=no_job,
            start=t_start,
            end=t_end,
            outcomes=outcomes,
            errors=[],
            wh=wh,
        )

    def day_round(self, landing: str, days: list[Date], timeout: float) -> Round:
        g, server, th, url, saved, assembly_s, wh = self.assemble(landing, days[0])
        before = scrape(_get(url + "/metrics"))
        client = JobsClient(url)
        api: dict[str, list[float]] = {"update": []}
        api_errors = 0
        t_start = time.time()
        cfg = g.config
        with self.tracer.span("workload.round", trace="day_large"):
            for d in days:
                for src in cfg.sources:
                    job = src.job_spec().with_date(d)
                    g.tracker.add_job(job)
                    t0 = time.perf_counter()
                    ok = client.update(job.key(), J.PARSE_COMPLETE)
                    api["update"].append(time.perf_counter() - t0)
                    api_errors += not ok
            drained = self._wait_terminal(g, 2 * len(days), timeout)
        r = self._finish(g, server, th, url, saved, assembly_s, wh, t_start,
                         api, api_errors, 0, before)
        if not drained:
            r.errors.append(f"jobs not terminal after {timeout}s")
        return r

    def backfill_round(self, landing: str, days: list[Date], waves: list[int],
                       timeout: float) -> Round:
        """Parser threads take jobs through the API in a closed loop until a
        wave's quota is handed out; the next wave starts once every job is
        terminal (a re-parse after the backfill, as after a parser change)."""
        g, server, th, url, saved, assembly_s, wh = self.assemble(landing, days[0])
        before = scrape(_get(url + "/metrics"))
        api: dict[str, list[float]] = {"next": [], "heartbeat": [], "update": []}
        lock = threading.Lock()
        state = {"reserved": 0, "quota": 0, "errors": 0, "no_job": 0}
        deadline = time.monotonic() + timeout
        t_start = time.time()

        def parser(i: int) -> None:
            client = JobsClient(url)
            while time.monotonic() < deadline:
                with lock:
                    if state["reserved"] >= state["quota"]:
                        return
                    state["reserved"] += 1
                with self.tracer.span("api.next", trace=f"parser{i}"):
                    t0 = time.perf_counter()
                    job, jid = client.next_job()
                    dt = time.perf_counter() - t0
                with lock:
                    api["next"].append(dt)
                if job is None:
                    with lock:
                        state["reserved"] -= 1
                        state["no_job"] += 1
                    time.sleep(NO_JOB_SLEEP_SEC)
                    continue
                for call, fn in (
                    ("heartbeat", lambda: client.heartbeat(jid)),
                    ("update", lambda: client.update(jid, J.PARSE_COMPLETE)),
                ):
                    with self.tracer.span(f"api.{call}", trace=jid):
                        t0 = time.perf_counter()
                        ok = fn()
                        dt = time.perf_counter() - t0
                    with lock:
                        api[call].append(dt)
                        state["errors"] += not ok

        with self.tracer.span("workload.round", trace="backfill_small"):
            for quota in waves:
                state["quota"] += quota
                threads = [
                    threading.Thread(target=parser, args=(i,))
                    for i in range(PARSERS)
                ]
                for t in threads:
                    t.start()
                for t in threads:
                    t.join()
                drained = self._wait_terminal(
                    g, min(state["quota"], 2 * len(days)),
                    max(1.0, deadline - time.monotonic()),
                )
                if not drained:
                    break
        r = self._finish(g, server, th, url, saved, assembly_s, wh, t_start, api,
                         state["errors"], state["no_job"], before)
        if not drained:
            r.errors.append(f"jobs not terminal after {timeout}s")
        if state["reserved"] < state["quota"]:
            r.errors.append(
                f"only {state['reserved']} of {state['quota']} jobs handed out"
            )
        return r


def _get(url: str) -> str:
    import requests

    return requests.get(url, timeout=60).text


def backfill_days(n: int, now: float | None = None) -> list[Date]:
    """``n`` consecutive days ending the day before the historical sweep's
    restart gate, so the sweep reaches them directly and then restarts."""
    from etl_gardener_spark.orchestrator.iterators import HistoricalIterator

    now = time.time() if now is None else now
    gate = datetime.fromtimestamp(
        now - HistoricalIterator.RESTART_GATE_SEC, tz=timezone.utc
    ).date()
    return [gate - timedelta(days=n - i) for i in range(n)]


# -- output checks -----------------------------------------------------------


def check_round(wh: str, specs: list[gen.DaySpec], r: Round, copies: int) -> list[str]:
    """Every job Complete; per day: raw rows == distinct ids, the latest copy
    kept, join rows == raw rows, annotated share as generated; no tmp
    partition and no staging left in the warehouse."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    errs = list(r.errors)
    for a in r.attempts:
        if a.state != J.COMPLETE:
            errs.append(f"{a.key}: ended in {a.state}")
    keys = {a.key for a in r.attempts}
    for s in specs:
        for dt in ("annotation2", "ndt7"):
            key = f"{gen.BUCKET}/{gen.EXPERIMENT}/{dt}/{s.day.strftime('%Y%m%d')}"
            if key not in keys:
                errs.append(f"{key}: never admitted")
        part = f"date={s.day.isoformat()}"
        raw = f"{wh}/raw_{gen.EXPERIMENT}/ndt7/{part}"
        joined = f"{wh}/join_{gen.EXPERIMENT}/ndt7/{part}"
        ann = f"{wh}/raw_{gen.EXPERIMENT}/annotation2/{part}"
        try:
            rt = pq.read_table(raw, columns=["id", "copy"])
            jt = pq.read_table(joined, columns=["id", "client"])
            at = pq.read_table(ann, columns=["id"])
        except (OSError, ValueError) as e:
            errs.append(f"{s.day}: unreadable output: {e}")
            continue
        if rt.num_rows != s.ndt7_ids or pc.count_distinct(rt["id"]).as_py() != s.ndt7_ids:
            errs.append(f"{s.day}: raw rows {rt.num_rows} != distinct ids {s.ndt7_ids}")
        if rt.num_rows and pc.min(rt["copy"]).as_py() != copies - 1:
            errs.append(f"{s.day}: dedup kept an older copy")
        if jt.num_rows != rt.num_rows:
            errs.append(f"{s.day}: join rows {jt.num_rows} != raw rows {rt.num_rows}")
        annotated = jt.num_rows - jt["client"].null_count
        if annotated != s.annotated_ids or at.num_rows != s.annotated_ids:
            errs.append(
                f"{s.day}: annotated {annotated} (ann rows {at.num_rows}) "
                f"!= generated {s.annotated_ids}"
            )
        for dt in ("ndt7", "annotation2"):
            if os.path.exists(f"{wh}/tmp_{gen.EXPERIMENT}/{dt}/{part}"):
                errs.append(f"{s.day}: tmp partition of {dt} left behind")
    left = staging_left(wh)
    if left:
        errs.append(f"{left} staging entries left in the warehouse")
    return errs


def staging_left(wh: str) -> int:
    """Staged-swap dirs under _staging plus any committer temp dirs."""
    n = 0
    for d, dirs, _files in os.walk(wh):
        for name in dirs:
            if name.startswith((".spark-staging", "_temporary")) or (
                "/_staging/" in f"{d}/" and name.endswith("__")
            ):
                n += 1
    return n


def warehouse_walk(wh: str) -> tuple[int, int]:
    """(data files, bytes) of every file in the warehouse."""
    files = size = 0
    for d, _dirs, names in os.walk(wh):
        for name in names:
            size += os.path.getsize(os.path.join(d, name))
            files += not name.startswith(("_", "."))
    return files, size


# -- per-layer numbers from the traced run -----------------------------------


def op_layer(probe: Probe, store: StatusStore, after_job: int, after_stage: int,
             tracer: Tracer, rounds: int) -> dict[str, float]:
    """table_ops.<op>.* from the op spans and their Spark job groups."""
    jobs = store.jobs(after_job)
    stages = store.stages(after_stage)
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    out: dict[str, float] = {}
    per = max(rounds, 1)
    for op in OPS:
        busy = gap = task = shuffle = 0.0
        n_jobs = 0
        for o, group, sp in probe.op_spans:
            if o != op or sp is None:
                continue
            busy += sp.end - sp.start
            gj = by_group.get(group, [])
            n_jobs += len(gj)
            covered = union_length([(j.start, j.end) for j in gj], sp.start, sp.end)
            gap += (sp.end - sp.start) - covered
            for j in gj:
                tracer.add("spark.job_group", sp.trace, sp.span_id, j.start, j.end,
                           job=j.job_id, group=group)
                for sid in j.stage_ids:
                    st = stages.get(sid)
                    if st is not None:
                        task += st.run_s
                        shuffle += st.shuffle_bytes
        vals = dict(busy_s=busy, spark_jobs=n_jobs, task_s=task,
                    driver_gap_s=gap, shuffle_bytes=shuffle)
        for m in OP_METRICS:
            out[f"table_ops.{op}.{m}"] = vals[m] / per
    return out


# -- workload runners --------------------------------------------------------

SIZES = {
    "day_large": dict(days=2, ids=25_000, copies=4, files=8, annotated_share=0.8),
    "backfill_small": dict(days=8, ids=500, copies=4, files=2, annotated_share=0.8),
}
WARM_DAYS = 1  # the warm round takes the last day of the landing set
# PERFBENCH_TINY=1 (the self-test) shrinks the inputs to seconds of work
TINY = {"day_large": dict(days=1, ids=300), "backfill_small": dict(days=2, ids=50)}
# nominal round time on a 4-core VM: --seconds / ROUND_S rounds are timed
ROUND_S = {"day_large": 15.0, "backfill_small": 12.0}
REPROCESS_SHARE = 0.2  # days handed out a second time after Complete


def run_pipeline(ctx, workload: str) -> dict:
    """Warm round, then a fixed number of timed rounds (``timed_units``)."""
    size = dict(SIZES[workload])
    if os.environ.get("PERFBENCH_TINY") == "1":
        size.update(TINY[workload])
    landing = os.path.join(ctx.work, "landing")
    if workload == "day_large":
        days = [Date(2024, 3, 1) + timedelta(days=i) for i in range(size["days"])]
    else:
        days = backfill_days(size["days"])
    specs, digest = gen.land_days(
        landing, days, size["ids"], size["copies"], size["files"],
        size["annotated_share"], ctx.seed,
    )
    bench = PipelineBench(ctx.spark, ctx.work, ctx.tracer, None)

    def one_round(ds: list[Date]) -> Round:
        if workload == "day_large":
            return bench.day_round(landing, ds, timeout=120)
        # sweep every day, then the restarted sweep re-parses the first
        # fifth of them after they reached Complete
        waves = [2 * len(ds), 2 * max(1, round(len(ds) * REPROCESS_SHARE))]
        return bench.backfill_round(landing, ds, waves, timeout=120)

    # warm pass: an untimed round over the last day (it still ends at the
    # sweep's restart gate), the same code paths on less data
    t0 = time.perf_counter()
    warm = one_round(days[-WARM_DAYS:])
    warm_s = time.perf_counter() - t0 - warm.assembly_s
    errors = check_round(warm.wh, specs[-WARM_DAYS:], warm, size["copies"])

    probe = Probe(ctx.spark, ctx.tracer) if ctx.trace else None
    bench.probe = probe
    mark_stage, mark_job = ctx.store.max_stage_id(), ctx.store.max_job_id()
    rounds: list[Round] = []
    t_run = time.time()
    with ctx.tracer.span("workload.run", trace=workload) as run_span:
        for _ in range(timed_units(ctx.seconds, ROUND_S[workload])):
            rounds.append(one_round(days))
    t_end = time.time()
    stages = ctx.store.stages(mark_stage)
    jobs = ctx.store.jobs(mark_job)
    for r in rounds:
        errors += check_round(r.wh, specs, r, size["copies"])
    n = len(rounds)

    lat = [a.latency for r in rounds for a in r.attempts if a.latency is not None]
    api_all = [x for r in rounds for v in r.api.values() for x in v]
    n_jobs = sum(len(r.attempts) for r in rounds)
    failed_jobs = sum(a.state == J.FAILED for r in rounds for a in r.attempts)
    retries = sum(r.outcomes.get("retry", 0.0) for r in rounds)
    api_errors = sum(r.api_errors for r in rounds)
    checks = len(specs) * n + len(specs[-WARM_DAYS:])  # per-day output checks
    bad_checks = len(errors)
    attempted = n_jobs + len(api_all) + checks
    failed = failed_jobs + int(retries) + api_errors + bad_checks
    totals = stage_totals(stages)
    report = {
        "drain_s": (median([r.drain_s for r in rounds]), "s"),
        "job_s.p50": (median(lat), "s"),
        "job_s.p90": (quantile(lat, 0.9), "s"),
        "api_s.p50": (median(api_all), "s"),
        "api_s.p95": (quantile(api_all, 0.95), "s"),
        "task_s": (totals["task_s"] / n, "s"),
        "cpu_s": (totals["cpu_s"] / n, "s"),
        "failed_ratio": (failed / attempted, "ratio"),
    }
    info = {
        "rounds": n,
        "round_drain_s": [r.drain_s for r in rounds],
        "warm_drain_s": warm.drain_s,
        "jobs": n_jobs,
        "job_s_samples": len(lat),
        "job_s_p90_tail_samples": sum(x > report["job_s.p90"][0] for x in lat),
        "api_calls": len(api_all),
        "api_no_job": sum(r.no_job for r in rounds),
        "reprocessed": sum(
            len(r.attempts) - len({a.key for a in r.attempts}) for r in rounds
        ),
        "input_days": len(days),
        "input_size": size,
        "input_rows": sum(s.ndt7_rows + s.annotated_ids for s in specs),
        "input_bytes": gen.input_bytes(landing),
        "input_sha256": digest,
        "monitor_workers": bench.monitor_workers,
        "monitor_poll_s": POLL_SEC,
        "parser_threads": PARSERS if workload == "backfill_small" else 0,
        "errors": errors[:20],
    }
    layers = {}
    if probe is not None:
        layers = pipeline_layers(
            ctx, probe, rounds, stages, jobs, mark_stage, mark_job, t_run, t_end,
            run_span,
        )
    return {
        "setup": {
            "assembly_s": median([warm.assembly_s] + [r.assembly_s for r in rounds]),
            "warm_s": warm_s,
        },
        "report": report,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "correct": not errors,
        "info": info,
    }


def pipeline_layers(ctx, probe: Probe, rounds: list[Round], stages, jobs,
                    mark_stage: int, mark_job: int, t_run: float, t_end: float,
                    run_span) -> dict:
    n = len(rounds)
    c = probe.counts
    out = op_layer(probe, ctx.store, mark_job, mark_stage, ctx.tracer, n)
    loads = sum(1 for o, _g, _s in probe.op_spans if o == "load_to_tmp")
    out["table_ops.load_to_tmp.input_bytes"] = (
        sum(r.outcomes.get("bytes", 0.0) for r in rounds) / n
    )
    out["table_ops.load_to_tmp.corrupt_rows"] = (
        c.get("table_ops.load_to_tmp.corrupt_rows", 0.0) / n
    )
    out["table_ops.dedup.kept_ratio"] = (
        c.get("dedup.kept", 0.0) / c["dedup.seen"] if c.get("dedup.seen") else 0.0
    )
    out["monitor.wait_s.p50"] = median(probe.waits)
    out["monitor.wait_s.sum"] = sum(probe.waits) / n
    out["monitor.gate_waits"] = sum(r.outcomes.get("waiting", 0.0) for r in rounds) / n
    out["monitor.retries"] = c.get("monitor.retries", 0.0) / n
    out["monitor.failures"] = c.get("monitor.failures", 0.0) / n
    out["tracker.set_status.calls"] = c.get("tracker.set_status.calls", 0.0) / n
    out["tracker.set_status.busy_s"] = c.get("tracker.set_status.busy_s", 0.0) / n
    out["tracker.save.busy_s"] = c.get("tracker.save.busy_s", 0.0) / n
    state_file = os.path.join(os.path.dirname(rounds[-1].wh), "state",
                              "tracker-state-v2.json")
    out["tracker.snapshot_bytes"] = float(
        os.path.getsize(state_file) if os.path.exists(state_file) else 0
    )
    nexts = [x for r in rounds for x in r.api.get("next", [])]
    hits = sum(1 for r in rounds for _ in r.api.get("heartbeat", []))
    out["api.next.calls"] = len(nexts) / n
    out["api.next.hit_ratio"] = hits / len(nexts) if nexts else 0.0
    out["api.next_s.p50"] = median(nexts)
    out["api.update_s.p50"] = median([x for r in rounds for x in r.api.get("update", [])])
    out["api.heartbeat_s.p50"] = median(
        [x for r in rounds for x in r.api.get("heartbeat", [])]
    )
    out["job_service.next_job.busy_s"] = c.get("job_service.next_job.busy_s", 0.0) / n
    out["job_service.has_files.calls"] = c.get("job_service.has_files.calls", 0.0) / n
    files, size = warehouse_walk(rounds[-1].wh)
    loaded = rounds[-1].outcomes.get("bytes", 0.0)
    out["warehouse.files_written"] = float(files)
    out["warehouse.bytes_written"] = float(size)
    out["warehouse.bytes_per_input_byte"] = size / loaded if loaded else 0.0
    out["warehouse.staging_left"] = float(staging_left(rounds[-1].wh))
    out.update(spark_layer(stages, jobs, t_run, t_end, n))
    # job spans (trace id = job key) under the run; actions under their job
    for r in rounds:
        for a in r.attempts:
            if a.post is not None and a.done is not None:
                sid = ctx.tracer.add("job", a.key, run_span.span_id, a.post,
                                     a.done, state=a.state)
                ctx.tracer.adopt(sid, a.key, a.post, a.done)
    return out
