"""Scratch pins and the persisted-table seam.

Why not ``localCheckpoint()``: block-manager checkpoints live on the
DRIVER heap; over repeated runs they accumulate and cause erratic GC
stalls (measured in round 1 — see SURVEY.md §8). A parquet round-trip
through tmpfs is off-heap, predictable, and cheap (~100 ms for
vocabulary-sized frames), and on a real cluster it maps to scratch
storage on the distributed FS instead of driver memory.

Every hot path that needs to pin an intermediate result (cut lineage,
reuse a result twice without recompute) goes through :func:`materialize`
so the policy lives in one place. Every frame the driver builds from its
own rows goes through :func:`local_frame`, so Catalyst sees its real size.

Accumulated tables (merge targets, dedup indexes, frontiers, recrawl
publications) are probed with :func:`table_exists`, one Hadoop-FS call
that works for local paths and ``file://``/``hdfs://``/``s3a://`` URIs
alike, and rewritten with :func:`replace_table`, which pins the next
version before overwriting and reads it back with the schema it wrote.
An existing table that cannot be read raises at its read; it is never
mistaken for a missing one and rebuilt from an increment.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

_counter = [0]
_root: list[str] = []


def scratch_dir() -> str:
    """Process-scoped scratch root (tmpfs by default, env-overridable),
    created lazily once and removed at interpreter exit. An ``.owner``
    pid marker lets external sweepers (bench.py, tools/scaling_bench.py)
    reclaim roots of DEAD processes without wiping a concurrently-live
    session's pinned frames (a real mid-run data loss, observed r5)."""
    if not _root:
        base = os.environ.get("SPARK_GRAFT_SCRATCH", "/dev/shm")
        if not os.path.isdir(base):
            base = tempfile.gettempdir()
        d = tempfile.mkdtemp(prefix="glpipe-", dir=base)
        with open(os.path.join(d, ".owner"), "w") as fh:
            fh.write(str(os.getpid()))
        _root.append(d)
    return _root[0]


def reclaim_dead_roots(base: str | None = None) -> list[str]:
    """Remove glpipe-* roots whose owning process is gone (or that
    predate the .owner marker). NEVER touches a live process's root —
    the only safe cross-process scratch sweep."""
    base = base or os.environ.get("SPARK_GRAFT_SCRATCH", "/dev/shm")
    removed = []
    import glob as _glob
    import time as _time

    for d in _glob.glob(os.path.join(base, "glpipe-*")):
        if _root and d == _root[0]:
            continue
        owner = os.path.join(d, ".owner")
        alive = False
        try:
            pid = int(open(owner).read().strip())
        except PermissionError:
            # cannot even READ the marker (another user's 0700 root) —
            # its owner may well be alive; never reclaim what we cannot
            # prove dead (r6 self-review: mkdtemp roots are 0700, so a
            # cross-user sweep hits this branch before os.kill ever
            # runs)
            continue
        except (OSError, ValueError):
            # marker absent/corrupt: a root younger than a short grace
            # window may be racing between mkdtemp and the marker
            # write — skip it this sweep instead of reclaiming a
            # just-born live root (r6, per ADVICE)
            try:
                if _time.time() - os.path.getmtime(d) < 60:
                    continue
            except OSError:
                pass
            alive = False
        else:
            try:
                os.kill(pid, 0)  # signal 0: existence probe
                alive = True
            except ProcessLookupError:
                alive = False  # no such pid — truly dead
            except PermissionError:
                # EPERM means the pid EXISTS under another user — the
                # owner is alive; reclaiming here would rmtree a live
                # session's pinned frames (the exact mid-run data loss
                # this sweeper exists to prevent). r6, per ADVICE.
                alive = True
            except OSError:
                alive = False
        if not alive:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d)
    return removed


@atexit.register
def _cleanup() -> None:
    for d in _root:
        shutil.rmtree(d, ignore_errors=True)


def cleanup_prefix(prefix: str) -> None:
    """Remove scratch subdirs whose name starts with ``prefix`` — for
    long-running callers (streaming ingest) that would otherwise
    accumulate per-batch scratch until interpreter exit. Only call once
    every DataFrame read from those paths is fully consumed."""
    if not _root:
        return
    root = _root[0]
    for name in os.listdir(root):
        if name.startswith(prefix):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Scale-adaptive scan spread for compute-heavy stages (r6).

    Small or single-row-group parquet inputs plan as 1-3 scan
    partitions, so everything BEFORE the first exchange (per-row UDFs,
    shingling, vectorized scoring) runs on 1-3 cores while the rest of
    the machine idles (guide §2.5 input skew / §2.6 idle capacity).
    Round-robin repartition to the session's core count ONLY when the
    input is under-parallel — at real scale inputs already carry ≥ cores
    partitions and this is a no-op, so it can never add a data-sized
    shuffle to a well-laid-out table. The explicit partition count is
    deliberately NOT AQE-coalescible (user-specified numPartitions is
    respected), and round-robin keeps Spark's sort-before-repartition
    retry determinism.

    Use it only where per-row work dominates (document/embedding UDF
    paths); scan-bound relational queries keep their natural layout.

    CONTRACT: call it on SCAN-STAGE (narrow) frames only. The partition
    probe goes through ``df.rdd``, and under AQE that materializes any
    upstream exchange stages of a derived frame (real jobs whose results
    are discarded — measured 4 jobs / 5.3 s probing a frame that carried
    an aggregate + broadcast). Every call site in this repo passes a raw
    table scan or a narrow projection/union/filter over one.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-built ``rows`` (flat tuples in the order of the DDL
    ``schema``) as a DataFrame whose size the planner knows.

    ``createDataFrame(list)`` plans as a ``Scan ExistingRDD`` of unknown
    size, so a join never broadcasts it: on kg_build the planner
    broadcast the data-sized triples instead and sort-merge-joined the
    490-row entity map. An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` with exact statistics (an RDD above it), so joins
    against it broadcast exactly while it is small, with no hint. Zero
    rows give an empty ``LocalRelation`` of the same schema.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def materialize(df: DataFrame, name: str = "stage") -> DataFrame:
    """Write ``df`` to scratch parquet and read it back.

    The returned frame has flat parquet-scan lineage: safe to consume
    multiple times, to feed iterative loops, and to overwrite-from later
    (never read-and-overwrite the same path in one plan). It is read
    back with the schema just written, which skips the one-task
    schema-inference job a bare ``read.parquet`` launches per pin; the
    read marks every field nullable, as an inferred read does.
    """
    _counter[0] += 1
    path = f"{scratch_dir()}/{name}-{_counter[0]}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


class _FS:
    """Thin Hadoop-FS wrapper (works for file://, hdfs://, s3a://...)."""

    def __init__(self, spark: SparkSession, any_path: str):
        jvm = spark.sparkContext._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(any_path).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._Path(p)))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._Path(p))

    def delete(self, p: str) -> None:
        self._fs.delete(self._Path(p), True)

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self._Path(src), self._Path(dst)))

    def list_names(self, p: str) -> list[str]:
        """Child entry names of directory ``p`` ([] if it doesn't exist)."""
        if not self.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(self._Path(p))]


def table_exists(spark: SparkSession, path: str) -> bool:
    """Whether a table directory exists at ``path`` — a driver-side
    Hadoop-FS call, no Spark job. It says nothing about readability on
    purpose: a caller that finds the table reads it, and a corrupt table
    raises there instead of reading as "not created yet"."""
    return _FS(spark, path).exists(path)


def replace_table(
    df: DataFrame, path: str, name: str, partition_by: str | None = None
) -> DataFrame:
    """Overwrite the table at ``path`` with ``df`` and return it read back.

    ``df`` may read ``path`` itself (the table merged with an increment):
    it is pinned to scratch under ``name`` first, so no plan reads and
    overwrites one path. The read-back uses the schema just written, so
    it launches no schema-inference job; partition columns read last,
    as on any partitioned read.
    """
    pinned = materialize(df, name)
    w = pinned.write.mode("overwrite")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    return df.sparkSession.read.schema(pinned.schema).parquet(path)
