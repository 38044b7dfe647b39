"""Effectively-once commit protocol for cumulative (non-idempotent)
foreachBatch merges across one or more output tables.

A combine/additive MERGE applied twice double-counts, and a micro-batch
that merges N tables has N-1 crash windows where some tables hold the
new totals and some don't. This module closes both with a staged,
resumable commit per batch:

1. **stage**   — compute every table's fully-merged next version from
   the CURRENT tables and write them under
   ``{out_dir}/_staging/{ctag}/{batch_id}/{table}`` (no live table is
   touched; a crash here is recomputed safely on replay);
2. **commit flag** — create ``.../_COMMIT`` once ALL staged tables are
   written (the atomicity point: replay before the flag recomputes,
   replay after it only promotes);
3. **promote** — per table: delete the live dir, rename the staged dir
   into place (idempotent: already-promoted tables have no staged dir
   left and are skipped);
4. **marker**  — record the batch as applied under
   ``{checkpoint_dir}/applied_batches/{batch_id}``, then drop staging.

All filesystem checks go through the Hadoop FS API (``scratch._FS``,
the wrapper behind ``scratch.table_exists``) so the protocol works when
``checkpoint_dir``/``out_dir`` are on HDFS/S3A, not just local disk —
driver-local ``os.path`` calls would silently disable replay gating
there. Staging is keyed by ``ctag`` — a hash of a NONCE created inside
the checkpoint dir on first use (not of the path: a fresh checkpoint
recreated at the same path must not inherit a crashed predecessor's
staging) — so a FRESH checkpoint can never promote an older checkpoint's
staging, and the fresh-checkpoint-vs-existing-tables guard stays
unambiguous.

On Iceberg, this whole module collapses into writing the batch id as a
snapshot property inside each table's single atomic MERGE commit (and a
multi-table transaction where the catalog offers one).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from graphlab_spark.operators.scratch import _FS


class BatchCommitter:
    """Replay-gated, staged multi-table commit for one streaming query.

    ``run(batch_id, tables)`` with ``tables: dict[name, frame_fn]``
    where each ``frame_fn() -> DataFrame`` computes that table's fully
    merged next version from the CURRENT live tables. ``frame_fn`` is
    only invoked when the batch genuinely needs (re)computing — a replay
    that already passed the commit point goes straight to promotion.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self.marker_root = f"{checkpoint_dir}/applied_batches"
        self.fs = _FS(spark, out_dir)
        self.marker_fs = _FS(spark, checkpoint_dir)
        # ctag identifies the checkpoint INSTANCE, not its path: a nonce
        # dir is created inside the checkpoint dir on first use and reused
        # on resume. Hashing the path alone would let a FRESH checkpoint
        # recreated at the same path inherit a crashed predecessor's
        # staging — guard_first_batch(0) would see the old _COMMIT flag
        # and promote STALE staged tables while discarding the new batch's
        # frames (r2 advice). A fresh checkpoint dir ⇒ fresh nonce ⇒ fresh
        # ctag ⇒ old staging is invisible (and swept below).
        nonce_root = f"{checkpoint_dir}/_committer_nonce"
        nonces = sorted(self.marker_fs.list_names(nonce_root))
        if not nonces:
            import uuid

            nonce = uuid.uuid4().hex[:16]
            self.marker_fs.mkdirs(f"{nonce_root}/{nonce}")
            nonces = [nonce]
        self.ctag = hashlib.md5(nonces[0].encode()).hexdigest()[:8]
        self.stage_root = f"{out_dir}/_staging/{self.ctag}"
        # NOTE: staging left under a dead predecessor's ctag is never
        # touched — it is invisible to this instance and deleting it
        # blindly could destroy a concurrent query's in-flight staging.
        # It is bounded (one batch's tables) and reclaimable out-of-band.

    # ---- state probes -------------------------------------------------
    def already_applied(self, batch_id: int) -> bool:
        return self.marker_fs.exists(f"{self.marker_root}/{batch_id}")

    def _stage_dir(self, batch_id: int) -> str:
        return f"{self.stage_root}/{batch_id}"

    def _committed(self, batch_id: int) -> bool:
        return self.fs.exists(f"{self._stage_dir(batch_id)}/_COMMIT")

    def guard_first_batch(self, batch_id: int, table_names: list[str]) -> None:
        """Reject a FRESH checkpoint pointed at already-populated tables:
        its batch ids restart at 0 and it re-reads every input file, so
        combining would double-count all history. A RESUMED checkpoint
        that crashed mid-batch-0 is NOT tripped: its staging commit flag
        (keyed by this checkpoint's ctag) routes it to promotion."""
        if batch_id != 0 or self._committed(0):
            return
        existing = [t for t in table_names if self.fs.exists(f"{self.out_dir}/{t}")]
        if existing:
            raise RuntimeError(
                f"fresh checkpoint (ctag {self.ctag}) against existing "
                f"table(s) {existing} under {self.out_dir!r} would re-combine "
                "all history (double counts). Resume with the original "
                "checkpoint, or delete the output tables, or use a fresh "
                "out_dir."
            )

    def guard_layout(
        self, batch_id: int, stats_tables: list[str], derived_tables: list[str]
    ) -> None:
        """Reject resuming (ANY batch id — r4 ADVICE; guard_first_batch
        only covers batch 0) against an out_dir where derived tables
        (nodes/edges) exist but the cumulative stats tables they are
        rebuilt from are missing — the previous nodes/edges-combine
        layout, or partial external deletion. combined_frame would treat
        the missing stats as empty and promote derived tables rebuilt
        from ONE batch over the cumulative ones, silently discarding all
        prior history. Mid-promotion replays are exempt: their _COMMIT
        flag routes them to promotion, which restores consistency."""
        if self._committed(batch_id):
            return
        derived = [t for t in derived_tables if self.fs.exists(f"{self.out_dir}/{t}")]
        missing = [t for t in stats_tables if not self.fs.exists(f"{self.out_dir}/{t}")]
        if derived and missing:
            raise RuntimeError(
                f"cumulative out_dir {self.out_dir!r} has derived table(s) "
                f"{derived} but is missing stats table(s) {missing} — layout "
                "migration required: rebuild the stats tables (or start a "
                "fresh out_dir); resuming would rebuild nodes/edges from a "
                "single batch and silently discard all prior history."
            )

    # ---- commit protocol ----------------------------------------------
    def run(self, batch_id: int, tables: dict) -> None:
        stage = self._stage_dir(batch_id)
        if not self._committed(batch_id):
            # (re)compute every staged table from the untouched live ones
            for name, frame_fn in tables.items():
                df: DataFrame = frame_fn()
                df.write.mode("overwrite").parquet(f"{stage}/{name}")
            self.fs.mkdirs(f"{stage}/_COMMIT")  # atomicity point
        # promote (idempotent: a table already renamed away is skipped)
        for name in tables:
            staged = f"{stage}/{name}"
            if self.fs.exists(staged):
                live = f"{self.out_dir}/{name}"
                self.fs.delete(live)
                if not self.fs.rename(staged, live):
                    raise IOError(f"promote failed: {staged} -> {live}")
        self.marker_fs.mkdirs(f"{self.marker_root}/{batch_id}")
        self.fs.delete(stage)  # after the marker: replay-safe to leave behind
