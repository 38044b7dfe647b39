"""Stage C12 — per-partition lineage manifest: checkpoint/resume/metrics.

Reference parity: ``processing_jobs`` (status, attempts, processed/total
items — ``backend/app/models/processing_job.py:17-32``) and ``job_steps``
(ordered steps with input/output payloads — ``backend/app/models/
job_step.py:13-26``); the README promises "deterministic, auditable
pipelines with traceable provenance" (``backend/README.md:8``).

Model: an append-only parquet table. A completed bucket is identified by
``(run_id, stage, partition_id, input_fp)`` where ``input_fp`` is an
order-independent content fingerprint of the bucket's input keys
(sum of xxhash64). On restart, a stage recomputes the per-bucket input
fingerprints, keeps only completed rows whose fingerprint STILL matches,
and anti-joins those away from the input — work already done on the same
input is skipped and its output reused; a bucket whose input changed is
recomputed (rerunning a run_id against different input can never return
stale output). This is the idempotent mid-run resume the north_star
requires.

Partition granularity here is a stable hash bucket of the row key (url),
NOT the physical Spark partition id — physical ids change with
parallelism, hash buckets don't, so a run started at N executors can
resume at 4N.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphlab_spark.operators.scratch import table_exists

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("input_fp", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("counters", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
    ]
)

# the ``{path}_hll`` side table (``record_key_registers``)
HLL_SCHEMA = "run_id string, stage string, bucket long, reg int"

N_BUCKETS = 64


def bucket_of(key_col: str, n_buckets: int = N_BUCKETS):
    """Stable partition id: non-negative xxhash64 bucket of the row key."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def fingerprint(items) -> int:
    """Order-independent 61-bit fingerprint of ``items`` (their reprs,
    sorted, blake2b) — non-negative, so never the tombstone ``-1``."""
    from hashlib import blake2b

    h = blake2b(digest_size=8)
    for line in sorted(repr(i) for i in items):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return int.from_bytes(h.digest(), "big") % ((1 << 61) - 1)


class Manifest:
    """Lineage ledger over a parquet path (Iceberg table in production)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._snap: list[dict] | None = None

    def read(self) -> DataFrame:
        """The ledger, read with :data:`MANIFEST_SCHEMA` (no
        schema-inference job; a pre-fingerprint manifest's ``input_fp``
        reads as null), or an empty ledger before the first append."""
        if not table_exists(self.spark, self.path):
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def _rows(self) -> list[dict]:
        """Driver-side snapshot of the (tiny, bucket-count-sized) table,
        collected ONCE per Manifest instance and invalidated on every
        append — so the driver-side probes (stage_fingerprint,
        latest_completed_fp) cost one Spark job per pipeline run instead
        of one per stage. The manifest is metadata: rows ≈ stages ×
        buckets, never data-sized."""
        if self._snap is None:
            self._snap = [r.asDict() for r in self.read().collect()]
        return self._snap

    def completed_partitions(self, run_id: str, stage: str) -> DataFrame:
        """Completed buckets with their input fingerprints — the LATEST
        completed row per bucket only (the table is append-only, and the
        bucket's on-disk output corresponds to its newest run; matching
        any historical fingerprint would wrongly validate a bucket whose
        input was changed and then reverted). Callers join on
        (partition_id, input_fp) so a fingerprint mismatch reads as
        not-completed."""
        from pyspark.sql import Window

        df = self.read()
        w = Window.partitionBy("partition_id").orderBy(F.col("finished_at").desc())
        return (
            df.filter(
                (F.col("run_id") == run_id)
                & (F.col("stage") == stage)
                & (F.col("status") == "completed")
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("partition_id", "input_fp")
        )

    def stage_fingerprint(self, run_id: str, stages: list[str]) -> int:
        """Order-independent fingerprint of the completed manifest rows of
        ``stages`` — the transitive input identity for a downstream
        global stage. Any upstream recompute appends rows, so the
        fingerprint changes whenever upstream output may have changed
        (including change-then-revert, which appends twice). Driver-side:
        the manifest is tiny by construction."""
        stage_set = set(stages)
        return fingerprint(
            (r["stage"], r["partition_id"], r["input_fp"], r["rows_in"], r["rows_out"])
            for r in self._rows()
            if r["run_id"] == run_id
            and r["stage"] in stage_set
            and r["status"] == "completed"
        )

    def stages(self) -> set[str]:
        """Stage names with at least one manifest row (any run, any status)."""
        return {r["stage"] for r in self._rows()}

    _MISSING = object()

    def latest_completed_fp(self, run_id: str, stage: str, partition_id: int = 0):
        """Driver-side (snapshot-backed) twin of completed_partitions for
        single-partition global stages: the LATEST completed row's
        input_fp, or the _MISSING sentinel when no row exists. Same
        latest-only semantics — matching a historical fingerprint would
        wrongly validate change-then-revert input."""
        rows = [
            r
            for r in self._rows()
            if r["run_id"] == run_id
            and r["stage"] == stage
            and r["status"] == "completed"
            and r["partition_id"] == partition_id
        ]
        if not rows:
            return self._MISSING
        return max(rows, key=lambda r: r["finished_at"])["input_fp"]

    def pending_input(
        self, data: DataFrame, run_id: str, stage: str, key_col: str = "url"
    ) -> DataFrame:
        """Filter ``data`` down to rows whose bucket is not yet completed
        (bucket-id check only; run_stage adds the fingerprint match)."""
        done = self.completed_partitions(run_id, stage).select("partition_id")
        keyed = data.withColumn("partition_id", bucket_of(key_col))
        return keyed.join(F.broadcast(done), "partition_id", "left_anti").drop("partition_id")

    def record_completed(
        self,
        run_id: str,
        stage: str,
        stats: DataFrame,
        started_at: _dt.datetime,
        attempt: int = 1,
    ) -> None:
        """Append completed rows.
        ``stats``: (partition_id, rows_in, input_fp, rows_out).
        ``started_at``: when the stage began; ``finished_at`` is the time
        of this call.

        Timestamps are wall-clock bookkeeping only — they never influence
        data content (determinism is over data, not over audit columns).
        """
        now = _dt.datetime.now(_dt.timezone.utc)
        if "input_fp" not in stats.columns:
            stats = stats.withColumn("input_fp", F.lit(None).cast("long"))
        rows = (
            stats.select(
                F.lit(run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                F.col("partition_id").cast("int"),
                F.lit("completed").alias("status"),
                F.col("rows_in").cast("long"),
                F.col("input_fp").cast("long"),
                F.col("rows_out").cast("long"),
                F.create_map(F.lit("rows_out"), F.col("rows_out").cast("long")).alias("counters"),
                F.lit(attempt).alias("attempt"),
                F.lit(started_at).alias("started_at"),
                F.lit(now).alias("finished_at"),
            )
        )
        rows.write.mode("append").parquet(self.path)
        self._snap = None  # appended → snapshot stale

    def stage_stats(self, data: DataFrame, key_col: str = "url") -> DataFrame:
        """Per-bucket counters for ``record_completed`` (one pass, map-side)."""
        return (
            data.withColumn("partition_id", bucket_of(key_col))
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("rows_out"))
            .withColumn("rows_in", F.col("rows_out"))
        )

    # ------------------------------------------------- HLL distinct-keys
    # An exact distinct-url counter across run snapshots needs state the
    # size of the key space; the HLL register table (operators/sketch.py)
    # is the bounded mergeable answer: ≤ 2^p rows per (run, stage),
    # merged across snapshots by bucket-wise MAX. The table is a pure
    # AUDIT side table — appended outside the resume fingerprint
    # protocol, never data-bearing. ``run_stage`` appends the registers
    # of the rows each call writes; registers of a key appended twice
    # cannot change the merged estimate (max is idempotent).

    def record_key_registers(
        self, run_id: str, stage: str, data: DataFrame, key_col: str = "url",
        p: int = 12,
    ) -> None:
        """Append (run_id, stage, bucket, reg) HLL registers of
        ``data[key_col]`` to the ``{path}_hll`` side table — one
        partial-aggregated groupBy over ≤ 2^p buckets."""
        from graphlab_spark.operators.sketch import hll_build

        regs = hll_build(data.select(F.col(key_col).alias("value")), "value", p)
        regs.select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("bucket"),
            F.col("reg"),
        ).write.mode("append").parquet(f"{self.path}_hll")

    def approx_distinct_keys(
        self,
        run_ids: list[str] | None = None,
        stages: list[str] | None = None,
        p: int = 12,
    ) -> float:
        """Approximate distinct keys across the selected snapshots:
        bucket-wise MAX merge of every matching register set, then the
        standard HLL estimator (driver-side — the merged table is
        ≤ 2^p rows). sketch(A ∪ B) == merge(sketch(A), sketch(B)), so
        the estimate over N runs never rescans any run's data."""
        from graphlab_spark.operators.sketch import hll_estimate

        t = self.spark.read.schema(HLL_SCHEMA).parquet(f"{self.path}_hll")
        if run_ids is not None:
            t = t.filter(F.col("run_id").isin(run_ids))
        if stages is not None:
            t = t.filter(F.col("stage").isin(stages))
        merged = t.groupBy("bucket").agg(F.max("reg").alias("reg"))
        return hll_estimate(merged, p)
