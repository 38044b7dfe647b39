"""Seen-URL frontier with a Bloom pre-filter — the crawl-increment
"which of these candidate urls are NEW" primitive.

At 10^12 crawled urls the exact seen-set is a huge table; asking "is
this url new" for every candidate of every increment is a big anti-join
each time. The Bloom bit table (operators/sketch.py — ≤ n_bits rows
REGARDLESS of key cardinality, broadcastable) splits candidates
map-side:

- ``maybe_present = false`` → DEFINITELY new (Bloom has no false
  negatives) — these rows never touch the exact table at all;
- ``maybe_present = true``  → seen OR a false positive — only this
  sliver (true hits + ~(1−e^{−kn/m})^k of the rest) pays the exact
  anti-join that removes the false positives.

Output is therefore EXACTLY the plain anti-join's (the exact path is
the oracle, pinned in pytest and by the c16 DuckDB gate); the Bloom
only re-routes work. Increments append urls and OR in their bit sets
(union-distinct — partial aggregation is the merge), never rebuild.

Reference parity: the reference's crawl stage tracks already-ingested
papers by unique source key before inserting
(`backend/app/models/research_paper.py:13-14` unique crawl keys); this
is that membership check at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphlab_spark.operators.sketch import bloom_build, bloom_probe

N_HASHES = 4
N_BITS = 1 << 18  # 256k bits ≈ 32 KiB broadcast; size to the url count


def frontier_init(
    spark: SparkSession,
    frontier_dir: str,
    seen: DataFrame,
    key: str = "url",
    n_hashes: int = N_HASHES,
    n_bits: int = N_BITS,
) -> None:
    """Persist the frontier: ``urls/`` (the exact seen keys — the
    confirm side) + ``bloom/`` (the bit table)."""
    seen.select(F.col(key)).distinct().write.mode("overwrite").parquet(
        f"{frontier_dir}/urls"
    )
    bloom_build(
        seen.select(F.col(key).alias("value")), "value", n_hashes, n_bits
    ).write.mode("overwrite").parquet(f"{frontier_dir}/bloom")


def frontier_new(
    spark: SparkSession,
    frontier_dir: str,
    candidates: DataFrame,
    key: str = "url",
    n_hashes: int = N_HASHES,
    n_bits: int = N_BITS,
) -> DataFrame:
    """``candidates`` rows whose ``key`` is NOT in the frontier —
    identical to a plain anti-join against ``urls/`` (pinned), but only
    Bloom-positive rows reach the exact table."""
    bloom = spark.read.parquet(f"{frontier_dir}/bloom")
    verdicts = bloom_probe(
        bloom,
        candidates.select(F.col(key).alias("value")).distinct(),
        "value",
        n_hashes,
        n_bits,
    ).withColumnRenamed("value", key)
    definitely_new = verdicts.filter(~F.col("maybe_present")).select(key)
    suspects = verdicts.filter(F.col("maybe_present")).select(key)
    seen = spark.read.parquet(f"{frontier_dir}/urls")
    confirmed_new = suspects.join(seen, key, "left_anti")
    new_keys = definitely_new.unionByName(confirmed_new)
    return candidates.join(new_keys, key, "left_semi")


def frontier_add(
    spark: SparkSession,
    frontier_dir: str,
    new_seen: DataFrame,
    key: str = "url",
    n_hashes: int = N_HASHES,
    n_bits: int = N_BITS,
) -> None:
    """Fold an increment in: append its keys, OR in its bits (the bloom
    table stays ≤ n_bits rows — union-distinct rewrite of a tiny
    table; the url append is O(increment))."""
    from graphlab_spark.operators.scratch import cleanup_prefix, replace_table

    new_seen.select(F.col(key)).distinct().write.mode("append").parquet(
        f"{frontier_dir}/urls"
    )
    old_bits = spark.read.parquet(f"{frontier_dir}/bloom")
    new_bits = bloom_build(
        new_seen.select(F.col(key).alias("value")), "value", n_hashes, n_bits
    )
    replace_table(
        old_bits.unionByName(new_bits).distinct(),
        f"{frontier_dir}/bloom",
        "frontier_bloom_merge",
    )
    cleanup_prefix("frontier_bloom_merge")
