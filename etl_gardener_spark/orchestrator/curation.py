"""Curation stages — optional post-Join actions that extend the
reference's action chain (ops/actions.go:68-91) with the LLM-data-pipeline
operators, running under the SAME tracker / claim-release / retry /
metrics machinery as the parity chain. This closes the structural seam
between "registry of certified curation queries" and "pipeline engine":
the same scrub / quality-gate / dedup / pack operators the registry
certifies against DuckDB here run as monitored, restartable, per-day
pipeline stages.

Extended chain (stages present only when configured on ANY source):

    Joining -> curating:scrub -> curating:quality_gate
            -> curating:lm_outlier_gate -> curating:decontam
            -> curating:exact_dedup -> curating:near_dedup
            -> curating:semantic_dedup -> curating:pack -> Complete

Per-job opt-in: each stage short-circuits with a "skipped: not
configured" detail for jobs whose source config doesn't enable it — the
same short-circuit pattern as Join's no-join-dataset case
(ops/actions.go:371-374). A failure in any stage classifies exactly like
the parity stages (transient -> Retry with the monitor's backoff,
permanent -> Failed), and every stage is a pure function of its input
partition with a staged-overwrite write, so it is idempotent and
restart-safe (the reference's "no leases survive restart",
ops/ops.go:33-40).

Stage semantics (all over the JOIN-tier day partition, the table the
reference chain hands off as its final product):

    scrub         text_col := functions.scrub.redact(text_col)
                  (URL/email/... -> tokens), in place
    quality_gate  keep rows with functions.text.quality_score >= min
    lm_outlier_gate  drop docs whose self-corpus char-trigram NLL
                  (operators/corpus.char_trigram_nll, the partition as
                  its own reference LM) exceeds mean + sigmas * stddev
    decontam      drop docs whose distinct word-n-gram overlap with the
                  configured benchmark table exceeds the threshold
                  (operators/corpus.decontaminate — eval sets must not
                  leak into training data)
    exact_dedup   keep the min-id row per normalized-text hash
    near_dedup    MinHash+LSH pairs at >= jaccard_threshold; drop every
                  doc that verifies against a smaller id (min-id
                  survivor, the incremental family's convention)
    semantic_dedup  SemDeDup over the partition's embedding column:
                  route vectors to centroids (a pinned warehouse
                  centroid table, or per-day kmeans_fit), drop docs
                  with a smaller-id same-cluster neighbor at cosine >=
                  semdedup_threshold; docs without a vector are kept
    pack          greedy sequence packing by token count into
                  capacity-bounded bins, written to the 'packed' tier
                  (a derived table, not an in-place rewrite)

Config: a ``curation:`` stage list (plus optional ``curation_params:``)
per source in the YAML config — see orchestrator/config.py and
MIGRATION.md §curation.

100 TB shape: each stage is one day-partition scan + the operator's own
bounded shuffles (the per-operator scale analysis lives with the
operators; nothing here adds a shuffle), and the per-day staged
overwrite is exactly the parity chain's write pattern. Stages run under
the monitor's thread pool one claimed job at a time per (datatype, day),
so a 1000-day backfill parallelizes across days, not within the chain.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_gardener_spark.functions.scrub import redact
from etl_gardener_spark.functions.text import quality_score, token_count
from etl_gardener_spark.operators.neardup import minhash_lsh_pairs
from etl_gardener_spark.operators.packing import pack_sequences
from etl_gardener_spark.orchestrator import job as J
from etl_gardener_spark.orchestrator import metrics
from etl_gardener_spark.orchestrator.actions import classify
from etl_gardener_spark.orchestrator.monitor import Action, Monitor
from etl_gardener_spark.table_ops import OpStats
from etl_gardener_spark.warehouse import DATE_COL, Warehouse

# Canonical stage order — the order a curation pipeline wants regardless
# of which subset is configured (scrub before dedup so near-dup grouping
# sees redacted text; dedup before pack so bins hold survivors only).
STAGE_ORDER = (
    "scrub",
    "quality_gate",
    "lm_outlier_gate",
    "decontam",
    "exact_dedup",
    "near_dedup",
    "semantic_dedup",
    "pack",
)

PACKED_TIER = "packed"


def state_for(stage: str) -> str:
    """Tracker state name for a curation stage."""
    return f"curating:{stage}"


@dataclass(frozen=True)
class CurationSpec:
    """Per-source curation configuration (the ``curation:`` /
    ``curation_params:`` YAML keys)."""

    stages: tuple[str, ...] = ()
    text_col: str = "text"
    id_col: str = "id"
    min_quality: float = 0.25
    jaccard_threshold: float = 0.8
    # near_dedup banding. The LSH S-curve — candidate capture
    # probability 1-(1-s^rows)^bands at Jaccard s — is set by
    # (bands, rows=num_hashes/bands), NOT by jaccard_threshold alone:
    # the threshold only gates the verify step, banding decides which
    # pairs become candidates at all. bands=None (default) derives the
    # banding from the threshold via operators.neardup.lsh_tuning (the
    # MMDS total-error-mass rule), so changing jaccard_threshold in
    # curation_params actually moves the recall lever; set bands
    # explicitly only to pin a store's historical banding (incremental
    # batches must probe with the banding the store was built with).
    num_hashes: int = 12
    bands: int | None = None
    pack_capacity: int = 2048
    # lm_outlier_gate: drop docs whose self-corpus char-trigram NLL
    # exceeds mean + lm_nll_sigmas * stddev of the partition (the CCNet
    # perplexity-outlier pattern, with the partition itself as the LM's
    # training corpus — no external model artifact needed per day)
    lm_nll_sigmas: float = 3.0
    # decontam: drop docs whose distinct word-n-gram overlap with the
    # configured benchmark table (operators/corpus.decontaminate; the
    # GPT-3/PaLM eval-contamination discipline) exceeds
    # decontam_max_overlap. The benchmark is a warehouse table triple
    # (tier, experiment, datatype) carrying the same id/text column
    # names as the curated source; it is static eval data, tiny next to
    # the corpus, and its distinct-gram set broadcasts — the day
    # partition never shuffles for the check.
    decontam_bench: tuple[str, str, str] | None = None
    decontam_ngram: int = 5
    decontam_max_overlap: float = 0.0
    # semantic_dedup (SemDeDup): drop docs with a smaller-id same-cluster
    # neighbor at rounded cosine >= semdedup_threshold over the
    # semdedup_vec_col embedding column. Centroid source:
    # semdedup_centroids names a warehouse table triple (tier,
    # experiment, datatype) holding a FITTED (cid, cvec) centroid
    # relation (kmeans_fit's second return, persisted) — the production
    # shape, routing every day partition to the same cluster geometry;
    # None self-trains per day (kmeans_fit seed='first_k', string-id
    # safe) with k = semdedup_k or the k∝n auto rule. Docs with a NULL
    # or empty vector are unscorable at the embedding grain and are
    # KEPT — the same convention as lm_outlier_gate/decontam.
    semdedup_threshold: float = 0.4
    semdedup_vec_col: str = "embedding"
    semdedup_k: int | None = None
    semdedup_n_iter: int = 2
    semdedup_centroids: tuple[str, str, str] | None = None

    def __post_init__(self):
        unknown = [s for s in self.stages if s not in STAGE_ORDER]
        if unknown:
            raise ValueError(
                f"unknown curation stages {unknown}; known: {list(STAGE_ORDER)}"
            )
        for field in ("decontam_bench", "semdedup_centroids"):
            val = getattr(self, field)
            if val is not None and not isinstance(val, tuple):
                # YAML lists arrive as lists; frozen dataclass -> setattr
                object.__setattr__(self, field, tuple(val))
        if "decontam" in self.stages and (
            self.decontam_bench is None or len(self.decontam_bench) != 3
        ):
            raise ValueError(
                "decontam stage requires decontam_bench=(tier, experiment,"
                f" datatype); got {self.decontam_bench!r}"
            )
        if self.semdedup_centroids is not None and len(
            self.semdedup_centroids
        ) != 3:
            raise ValueError(
                "semdedup_centroids must be (tier, experiment, datatype);"
                f" got {self.semdedup_centroids!r}"
            )
        if self.bands is not None and (
            self.bands < 1 or self.num_hashes % self.bands
        ):
            raise ValueError(
                f"bands={self.bands} must divide num_hashes={self.num_hashes}"
            )

    def banding(self) -> tuple[int, int]:
        """Resolve (num_hashes, bands) for near_dedup: explicit bands if
        pinned, else lsh_tuning(num_hashes, jaccard_threshold)."""
        if self.bands is not None:
            return self.num_hashes, self.bands
        from etl_gardener_spark.operators.neardup import lsh_tuning

        bands, _rows = lsh_tuning(self.num_hashes, self.jaccard_threshold)
        return self.num_hashes, bands


class CurationActions:
    """Binds Spark + Warehouse to the curation chain for all jobs,
    dispatching per-job on ``spec_for`` (None / absent stage = skip)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        spec_for: Callable[[J.Job], CurationSpec | None],
    ):
        self.spark = spark
        self.wh = warehouse
        self.spec_for = spec_for

    # -- partition I/O (the parity chain's read/stage/overwrite shape) ----

    def _read(self, job: J.Job) -> DataFrame:
        return self.wh.read_partition(
            self.spark, "join", job.experiment, job.datatype, job.date
        )

    def _rewrite(self, job: J.Job, df: DataFrame, n_rows: int) -> None:
        # localCheckpoint before overwriting the partition being read
        # (can't overwrite a path while scanning it). Dynamic
        # partition-overwrite is a no-op for an EMPTY DataFrame (no
        # date= directory present in df means no directory replaced),
        # so a gate that rejects every row of the
        # day must drop the stale partition explicitly — the same move
        # operators/quality.py makes for its all-rejected case.
        if n_rows == 0:
            self.wh.delete_partition(
                self.spark, "join", job.experiment, job.datatype, job.date
            )
            return
        self.wh.overwrite_partitions(
            df.localCheckpoint(eager=True), "join", job.experiment, job.datatype
        )

    @staticmethod
    def _detail(st: OpStats) -> str:
        return (
            f"{st.op}: rows_out={st.rows_out} deleted={st.rows_deleted} "
            f"elapsed={st.elapsed_sec:.2f}s"
        )

    # -- stage bodies ------------------------------------------------------

    def _scrub(self, job: J.Job, spec: CurationSpec) -> OpStats:
        t0 = time.monotonic()
        df = self._read(job)
        staged = df.withColumn(
            "__was", F.col(spec.text_col)
        ).withColumn(spec.text_col, redact(spec.text_col))
        staged = staged.withColumn(
            "__hit", (F.col("__was") != F.col(spec.text_col)).cast("int")
        ).localCheckpoint(eager=True)
        n_rows, n_redacted = (
            staged.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("__hit"), F.lit(0))
            ).first()
        )
        out = staged.drop("__was", "__hit")
        if n_redacted:
            self._rewrite(job, out, int(n_rows))
        return OpStats(
            op="scrub",
            rows_out=int(n_rows),
            elapsed_sec=time.monotonic() - t0,
            detail={"rows_redacted": int(n_redacted)},
        )

    def _quality_gate(self, job: J.Job, spec: CurationSpec) -> OpStats:
        t0 = time.monotonic()
        df = self._read(job)
        before = df.count()
        kept = df.filter(
            quality_score(spec.text_col) >= F.lit(spec.min_quality)
        )
        after = kept.count()
        if after != before:
            self._rewrite(job, kept, after)
        return OpStats(
            op="quality_gate",
            rows_out=after,
            rows_deleted=before - after,
            elapsed_sec=time.monotonic() - t0,
        )

    def _lm_outlier_gate(self, job: J.Job, spec: CurationSpec) -> OpStats:
        from etl_gardener_spark.operators.corpus import char_trigram_nll

        t0 = time.monotonic()
        df = self._read(job)
        before = df.count()
        # self-trained LM: the partition is its own reference corpus;
        # a day's boilerplate/garbled outliers sit in the NLL tail.
        scores = char_trigram_nll(
            df, df, spec.text_col, spec.id_col
        ).localCheckpoint(eager=True)
        stats = scores.agg(
            F.avg("avg_nll").alias("m"), F.stddev_pop("avg_nll").alias("sd")
        )
        keep_ids = (
            scores.crossJoin(F.broadcast(stats))
            .filter(
                F.col("avg_nll")
                <= F.col("m") + F.lit(spec.lm_nll_sigmas) * F.col("sd")
            )
            .select(spec.id_col)
        )
        # docs too short to score (< 3 chars) have no score row; the
        # gate is about LM outliers, not length — keep them (the length
        # axis belongs to quality_gate)
        unscored = df.select(spec.id_col).join(
            scores.select(spec.id_col), spec.id_col, "left_anti"
        )
        kept = df.join(
            keep_ids.unionByName(unscored), spec.id_col, "left_semi"
        )
        after = kept.count()
        if after != before:
            self._rewrite(job, kept, after)
        return OpStats(
            op="lm_outlier_gate",
            rows_out=after,
            rows_deleted=before - after,
            elapsed_sec=time.monotonic() - t0,
        )

    def _decontam(self, job: J.Job, spec: CurationSpec) -> OpStats:
        from etl_gardener_spark.operators.corpus import decontaminate

        t0 = time.monotonic()
        df = self._read(job)
        before = df.count()
        tier, exp, dt = spec.decontam_bench
        bench = self.wh.read(self.spark, tier, exp, dt)
        rep = decontaminate(
            df, bench, spec.text_col, spec.id_col, n=spec.decontam_ngram
        )
        drops = rep.filter(
            F.col("overlap_frac") > F.lit(spec.decontam_max_overlap)
        ).select(spec.id_col)
        # docs too short to shingle (< n tokens) emit no report row and
        # cannot be contaminated at the n-gram grain — kept, the same
        # unscorable-keep convention as lm_outlier_gate
        kept = df.join(drops, spec.id_col, "left_anti")
        after = kept.count()
        if after != before:
            self._rewrite(job, kept, after)
        return OpStats(
            op="decontam",
            rows_out=after,
            rows_deleted=before - after,
            elapsed_sec=time.monotonic() - t0,
        )

    def _exact_dedup(self, job: J.Job, spec: CurationSpec) -> OpStats:
        t0 = time.monotonic()
        df = self._read(job)
        before = df.count()
        # normalized-text hash key; min-id survivor per key. Window
        # groups are duplicate sets (bounded), never the corpus.
        key = F.xxhash64(
            F.trim(F.lower(F.regexp_replace(F.col(spec.text_col), r"\s+", " ")))
        )
        w = Window.partitionBy(key).orderBy(F.col(spec.id_col).asc())
        kept = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        after = kept.count()
        if after != before:
            self._rewrite(job, kept, after)
        return OpStats(
            op="exact_dedup",
            rows_out=after,
            rows_deleted=before - after,
            elapsed_sec=time.monotonic() - t0,
        )

    def _near_dedup(self, job: J.Job, spec: CurationSpec) -> OpStats:
        t0 = time.monotonic()
        df = self._read(job)
        before = df.count()
        num_hashes, bands = spec.banding()
        pairs = minhash_lsh_pairs(
            df,
            spec.text_col,
            spec.id_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=spec.jaccard_threshold,
        )
        # min-id survivor: any doc verified against a smaller id drops
        # (pairs are canonical id_a < id_b). Greedy, chain-safe: if
        # B~A and C~B~A, both B and C appear as id_b and A survives.
        drops = pairs.select(F.col("id_b").alias(spec.id_col)).distinct()
        kept = df.join(drops, spec.id_col, "left_anti")
        after = kept.count()
        if after != before:
            self._rewrite(job, kept, after)
        return OpStats(
            op="near_dedup",
            rows_out=after,
            rows_deleted=before - after,
            elapsed_sec=time.monotonic() - t0,
        )

    def _semantic_dedup(self, job: J.Job, spec: CurationSpec) -> OpStats:
        from etl_gardener_spark.operators import similarity as SIM

        t0 = time.monotonic()
        df = self._read(job)
        before = df.count()
        vec = F.col(spec.semdedup_vec_col)
        # unscorable-keep convention: rows with no embedding cannot be
        # semantic duplicates at this grain (the text axes belong to
        # exact/near_dedup)
        scored = df.filter(vec.isNotNull() & (F.size(vec) > 0))
        if spec.semdedup_centroids is not None:
            tier, exp, dt = spec.semdedup_centroids
            cents = self.wh.read(self.spark, tier, exp, dt).select(
                "cid", "cvec"
            )
        else:
            k = spec.semdedup_k or SIM.semdedup_auto_k(scored.count())
            _assign, cents = SIM.kmeans_fit(
                scored,
                spec.id_col,
                spec.semdedup_vec_col,
                k=k,
                n_iter=spec.semdedup_n_iter,
                seed="first_k",
            )
        rep = SIM.semantic_dedup_with_centroids(
            scored,
            cents,
            spec.id_col,
            spec.semdedup_vec_col,
            threshold=spec.semdedup_threshold,
        )
        drops = rep.filter(~F.col("keep")).select(spec.id_col)
        kept = df.join(drops, spec.id_col, "left_anti")
        after = kept.count()
        if after != before:
            self._rewrite(job, kept, after)
        return OpStats(
            op="semantic_dedup",
            rows_out=after,
            rows_deleted=before - after,
            elapsed_sec=time.monotonic() - t0,
        )

    def _pack(self, job: J.Job, spec: CurationSpec) -> OpStats:
        t0 = time.monotonic()
        df = self._read(job)
        id_type = dict(df.dtypes).get(spec.id_col, "string")
        weighted = df.select(
            F.col(spec.id_col),
            F.col(DATE_COL).cast("string").alias("__stratum"),
            token_count(spec.text_col).alias("n_tokens"),
        )
        packed = pack_sequences(
            weighted,
            spec.id_col,
            "n_tokens",
            ["__stratum"],
            spec.pack_capacity,
            id_type="long" if id_type in ("bigint", "int", "long") else "string",
        )
        out = packed.select(
            spec.id_col,
            "n_tokens",
            "bin_id",
            F.col("__stratum").cast("date").alias(DATE_COL),
        ).localCheckpoint(eager=True)
        if out.count() == 0:
            # empty curated input: dynamic overwrite would leave any
            # stale packed partition from a prior run — drop it instead
            self.wh.delete_partition(
                self.spark, PACKED_TIER, job.experiment, job.datatype, job.date
            )
            return OpStats(op="pack", rows_out=0, elapsed_sec=time.monotonic() - t0)
        self.wh.overwrite_partitions(out, PACKED_TIER, job.experiment, job.datatype)
        rows = self.wh.read_partition(
            self.spark, PACKED_TIER, job.experiment, job.datatype, job.date
        ).count()
        return OpStats(op="pack", rows_out=rows, elapsed_sec=time.monotonic() - t0)

    _BODIES = {
        "scrub": _scrub,
        "quality_gate": _quality_gate,
        "lm_outlier_gate": _lm_outlier_gate,
        "decontam": _decontam,
        "exact_dedup": _exact_dedup,
        "near_dedup": _near_dedup,
        "semantic_dedup": _semantic_dedup,
        "pack": _pack,
    }

    # -- action wrapper ----------------------------------------------------

    def _stage_action(self, stage: str) -> Callable[[J.Job], str]:
        body = self._BODIES[stage]

        def run(job: J.Job) -> str:
            spec = self.spec_for(job)
            if spec is None or stage not in spec.stages:
                return f"{stage} skipped: not configured"
            if not self.wh.partition_exists(
                self.spark, "join", job.experiment, job.datatype, job.date
            ):
                # an upstream gate rejected every row of the day (its
                # _rewrite deleted the partition): nothing to curate.
                # pack still clears any stale packed output from a prior
                # run of the same day — the idempotence contract.
                if stage == "pack":
                    self.wh.delete_partition(
                        self.spark, PACKED_TIER, job.experiment, job.datatype, job.date
                    )
                return f"{stage} skipped: empty partition"
            t0 = metrics.spark_task_seconds(self.spark)
            try:
                st = body(self, job, spec)
            except Exception as e:  # noqa: BLE001 — classified below
                raise classify(e) from e
            cost = metrics.spark_task_seconds(self.spark) - t0
            metrics.QUERY_COST.observe(
                job.datatype, f"curate_{stage}", value=max(cost, 0.0)
            )
            return self._detail(st)

        return run

    def install(self, monitor: Monitor, stages: tuple[str, ...] | None = None) -> None:
        """Wire the curation chain AFTER StandardActions.install: rewires
        Joining's next_state to the first curation state and chains the
        stages to Complete. ``stages`` defaults to the full STAGE_ORDER;
        pass the union of the stages configured across sources to keep
        unconfigured states out of every job's history."""
        chain = tuple(s for s in STAGE_ORDER if stages is None or s in stages)
        if not chain:
            return
        prior = monitor.get_action(J.JOINING)
        if prior is None:
            raise ValueError(
                "install StandardActions before CurationActions: the "
                "Joining action to rewire is missing"
            )
        monitor.add_action(
            Action(
                J.JOINING,
                state_for(chain[0]),
                prior.action,
                prior.condition,
                prior.annotation,
            )
        )
        states = [state_for(s) for s in chain]
        nexts = states[1:] + [J.COMPLETE]
        for st, nxt, stage in zip(states, nexts, chain):
            monitor.add_action(Action(st, nxt, self._stage_action(stage)))


def spec_for_config(config) -> Callable[[J.Job], CurationSpec | None]:
    """Build a job -> CurationSpec resolver from GardenerConfig: matches
    on (bucket, experiment, datatype)."""
    by_key = {
        (s.bucket, s.experiment, s.datatype): s.curation_spec()
        for s in config.sources
    }

    def resolve(job: J.Job) -> CurationSpec | None:
        return by_key.get((job.bucket, job.experiment, job.datatype))

    return resolve
