"""Snapshot metadata table — the Iceberg commit-ledger emulation.

Iceberg tracks table state as an ordered chain of snapshots, each recording
the operation and aggregate stats (`snapshots` metadata table). The driver
spec calls for a "snapshot/lineage metadata table" standing in for that
(SURVEY §0.1); lineage.py is the per-bucket ledger, this module is the
per-COMMIT ledger on top of it:

  * one row per run_extract commit: run_id, sequence number, operation
    (append | overwrite | resume-append), buckets touched, doc/byte totals
    and the order-insensitive digest-of-digests across those buckets;
  * `read_snapshots` lists table history in sequence order (the
    `SELECT * FROM db.tbl.snapshots` analogue);
  * sequence numbers are derived from the existing snapshot table at commit
    time (max+1) — single-writer per table root, same assumption Iceberg's
    optimistic commit makes before its CAS.

On real Iceberg these rows come for free from the catalog; the seam is the
same as sources/io.py's TableFormat.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, types as T

from corsearch_project_spark.sources.io import local_frame, read_table_or_none

SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("n_buckets", T.LongType(), False),
        T.StructField("buckets", T.ArrayType(T.IntegerType()), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("rollup_xor", T.StringType(), False),
    ]
)


def _xor_hex(digests: List[str]) -> str:
    """Order-insensitive combination of the per-bucket sha256 rollups —
    the same XOR-chunks construction lineage uses per bucket."""
    acc = [0] * 8
    for d in digests:
        for k in range(8):
            acc[k] ^= int(d[k * 8 : k * 8 + 8], 16)
    return "".join(f"{x:08x}" for x in acc)


def append_snapshot(
    spark: SparkSession,
    path: str,
    run_id: str,
    operation: str,
    lineage_rows: List[dict],
) -> dict:
    """Append one snapshot row computed from the run's (already collected)
    lineage rows. Returns the row as a dict."""
    prev = read_snapshots(spark, path)
    seq = 0
    if prev is not None:
        max_seq = prev.agg({"seq": "max"}).collect()[0][0]
        seq = (max_seq if max_seq is not None else -1) + 1
    snap = {
        "seq": seq,
        "run_id": run_id,
        "operation": operation,
        "n_buckets": len(lineage_rows),
        "buckets": sorted(int(r["url_bucket"]) for r in lineage_rows),
        "doc_count": sum(int(r["doc_count"]) for r in lineage_rows),
        "bytes_in": sum(int(r["bytes_in"]) for r in lineage_rows),
        "rollup_xor": _xor_hex([r["sha256_rollup"] for r in lineage_rows]),
    }
    local_frame(spark, [snap], SNAPSHOT_SCHEMA).write.mode("append").parquet(path)
    return snap


def read_snapshots(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """Table history in commit order, or None when no snapshot exists.

    Only the missing-path case maps to None (first commit of a fresh
    table); a corrupted or unreadable snapshots table must PROPAGATE —
    swallowing it would silently restart seq at 0 and write a conflicting
    ledger row."""
    df = read_table_or_none(spark, path, SNAPSHOT_SCHEMA)
    return None if df is None else df.orderBy("seq")
