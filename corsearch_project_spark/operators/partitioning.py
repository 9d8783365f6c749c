"""URL-hash bucketing and skew-aware salted repartitioning (SURVEY §2.3).

P1: ``url_bucket = pmod(xxhash64(url), B)`` — the Iceberg ``bucket(B, url)``
transform emulated with Spark built-ins (no Iceberg jars offline, SURVEY
§0.1); swap-in point for real Iceberg DDL is sources.io.TableFormat.

P2: every row gets a salt ``pmod(xxhash64(url, seed), S)``, so one
mega-host fans out across S kernel tasks. AQE's skew split only rebalances
shuffle *reads*; compute skew inside the Python kernel stage needs this
explicit salt (BASELINE.json:6 "salted repartitioning for skewed hosts").
Salting is universal and url-hashed: no hot-host probe decides who gets it,
so it costs no job.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

DEFAULT_BUCKETS = 64
DEFAULT_SALT = 64  # kernel shuffle keys = B×S; keys ≫ partitions => balance


def with_url_bucket(df: DataFrame, b: int = DEFAULT_BUCKETS, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "url_bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(b)).cast("int")
    )


def with_salt(df: DataFrame, s: int = DEFAULT_SALT, url_col: str = "url") -> DataFrame:
    """Universal url-derived salt ∈ [0, S) (deterministic, uniform per url).

    This generalizes hot-host-only salting (P2): any skewed host's pages
    spread across S salt values because the salt hashes the full url, AND
    the kernel shuffle gets B×S keys instead of B — with keys ≫ partitions,
    key→partition hash collisions average out (Poisson balance ±1/√(keys/P))
    instead of producing the 2-3×-loaded straggler partitions measured with
    keys == partitions. s <= 1 disables salting (the skew-equivalence
    test's control arm)."""
    if s <= 1:
        return df.withColumn("salt", F.lit(0))
    salt = F.pmod(F.xxhash64(F.col(url_col), F.lit("salt-seed-1")), F.lit(s)).cast("int")
    return df.withColumn("salt", salt)


def repartition_for_kernel(
    df: DataFrame, num_partitions: Optional[int] = None
) -> DataFrame:
    """Shuffle on (url_bucket, salt) ahead of the Python kernel stage so each
    task is one bucket-shard: bounded memory, bounded skew, and the write
    side sees rows already grouped by their output partition."""
    cols = [F.col("url_bucket"), F.col("salt")]
    if num_partitions:
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)
