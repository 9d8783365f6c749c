"""Iceberg-style table IO over Parquet (SURVEY §2.1 S1–S5).

No Iceberg/Delta jars exist offline (SURVEY §0.1), so Iceberg semantics are
emulated and isolated behind ``TableFormat``: bucket-transform partitioning
(directory partition column ``url_bucket``), dynamic-overwrite idempotent
commits, target-file-size via maxRecordsPerFile, and a lineage/metrics table
standing in for snapshot metadata. On a cluster with Iceberg jars, swap
``ParquetBucketedFormat`` for a catalog-backed implementation
(``CREATE TABLE ... PARTITIONED BY (bucket(B, url))``) without touching the
pipeline.
"""

from __future__ import annotations

import os
from typing import List, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from corsearch_project_spark.sources.schemas import (
    EXTRACTED_SCHEMA,
    LINEAGE_SCHEMA,
    PAGES_SCHEMA,
)


def scan_pages(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2: fixed-schema scan; predicate/partition pruning applies when the
    caller filters on url_bucket (bucketed layout) or lang/warc_ts (row-group
    min/max skip)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def local_frame(
    spark: SparkSession, rows: List[Mapping], schema: T.StructType
) -> DataFrame:
    """A one-partition DataFrame of a few driver-side rows (lineage and
    snapshot ledger rows), built from Arrow so Spark plans it as a JVM-only
    ``LocalTableScan``. Pickled rows would become a Python RDD
    (``Scan ExistingRDD``) whose one-task write job must start a Python
    worker just to unpickle them. The Arrow schema is derived from
    ``schema``, so the written files keep its types and ``not null`` flags."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema).coalesce(1)


def read_table_or_none(
    spark: SparkSession, path: str, schema: T.StructType
) -> Optional[DataFrame]:
    """A metadata table read with a fixed schema, or None when its path does
    not exist yet (the first commit to a fresh table root). Every other
    failure propagates."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def scan_pages_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Scan a bucketed pages table (written with partitionBy url_bucket);
    url_bucket comes back as a partition column usable for pruning."""
    return spark.read.parquet(path)


class ParquetBucketedFormat:
    """The TableFormat seam (SURVEY §7 hard-part 5)."""

    def __init__(self, max_records_per_file: int = 50_000):
        self.max_records_per_file = max_records_per_file

    def write_extracted(self, df: DataFrame, path: str) -> None:
        """S3: bucketed sink. Rows arrive already repartitioned on
        (url_bucket, salt); sortWithinPartitions('url') clusters files for
        url range-lookup; dynamic partition overwrite makes resume reruns
        idempotent (only pending buckets are replaced).

        partitionOverwriteMode is pinned HERE, writer-level (overrides any
        session conf): with the session default (static), mode('overwrite')
        .partitionBy(...) clears the whole table root, so calling run_merge
        from a default-conf SparkSession would silently delete every
        untouched bucket (round-2 ADVICE — data loss, not an error)."""
        # url_bucket leads the sort so the partitionBy writer's required
        # ordering is already satisfied — otherwise it inserts its own
        # url_bucket sort AFTER this one and the per-file url clustering
        # (which the S15 manifest's min/max bounds rely on for tightness)
        # survives only by sort-stability luck whenever a task holds more
        # than one bucket.
        (
            df.sortWithinPartitions("url_bucket", "url")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", self.max_records_per_file)
            .partitionBy("url_bucket")
            .parquet(path)
        )

    def read_extracted(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(path)

    def append_lineage(self, df: DataFrame, path: str) -> None:
        """S4: append-only metrics table (small: B rows per run)."""
        df.write.mode("append").parquet(path)

    def read_lineage(self, spark: SparkSession, path: str) -> Optional[DataFrame]:
        """A corrupt lineage table raises instead of reading as empty, which
        would make ``--resume`` silently rerun every bucket."""
        return read_table_or_none(spark, path, LINEAGE_SCHEMA)


# ---------------------------------------------------------------------------
# Schema evolution (S16): Iceberg add/rename/widen semantics over the
# Parquet emulation. Iceberg tracks columns by field ID in table metadata,
# so old data files remain readable after ADD COLUMN (missing -> NULL),
# RENAME (ID unchanged, name remapped), and type widening. Parquet alone
# matches by NAME, so a fixed-schema scan breaks on any layout change
# (round-3 verdict, "Next round" item 7). The emulation keeps a
# column-mapping descriptor — read-schema + rename lineage — persisted as
# an underscore-prefixed JSON at the table root (invisible to readers,
# like _SUCCESS), and resolves every read column as
# coalesce(first-present-of [current_name, *prior_names]) cast to the read
# type. Real Iceberg drops in at the TableFormat seam with none of this.
# ---------------------------------------------------------------------------

SCHEMA_DESCRIPTOR = "_schema.json"


def write_schema_descriptor(
    path: str, read_schema, renames: Optional[dict] = None
) -> None:
    """Persist the table's current read-schema + rename lineage.
    ``renames`` maps current column name -> list of PRIOR names still
    present in old data files (newest first)."""
    import json

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, SCHEMA_DESCRIPTOR), "w") as f:
        json.dump(
            {"read_schema_json": read_schema.jsonValue(), "renames": renames or {}},
            f,
        )


def read_schema_descriptor(path: str):
    """(read_schema, renames) from the table's descriptor, or None."""
    import json

    from pyspark.sql import types as T

    p = os.path.join(path, SCHEMA_DESCRIPTOR)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        d = json.load(f)
    return T.StructType.fromJson(d["read_schema_json"]), d["renames"]


def read_evolved(
    spark: SparkSession,
    path: str,
    read_schema=None,
    renames: Optional[dict] = None,
    union_schema=None,
) -> DataFrame:
    """Read a table whose data files span schema versions.

    * column ADD: files written before the add lack the column -> typed
      NULL (Iceberg's exact semantics);
    * column RENAME: old files carry a prior name -> resolved via the
      rename lineage, newest name wins when both exist (coalesce order);
    * type WIDENING (int->long, float->double): every candidate is cast to
      the read type before coalescing.

    ``union_schema`` (all names that appear in ANY file, old and new, at
    their WIDEST types) skips the mergeSchema footer sweep — at 10^6+
    files per table, footer merging is a driver-side metadata scan you
    don't want; the snapshot ledger can supply the union cheaply. It is
    also REQUIRED for type widening: Spark's parquet reader upcasts
    int->long / float->double under an explicit read schema, but footer
    merging refuses INT-vs-BIGINT merges (the reason Iceberg keeps schema
    in table metadata, not footers). Without it, mergeSchema=true
    discovers the union (fine for add/rename at test scale; documented
    cost at crawl scale). When ``read_schema``/``renames`` are omitted,
    the persisted descriptor at the table root supplies them."""
    if read_schema is None:
        desc = read_schema_descriptor(path)
        if desc is None:
            raise FileNotFoundError(
                f"no read_schema given and no {SCHEMA_DESCRIPTOR} under {path!r}"
            )
        read_schema, renames = desc[0], (renames or desc[1])
    renames = renames or {}
    if union_schema is not None:
        df = spark.read.schema(union_schema).parquet(path)
    else:
        df = spark.read.option("mergeSchema", True).parquet(path)
    have = set(df.columns)
    out = []
    for field in read_schema.fields:
        cands = [c for c in [field.name, *renames.get(field.name, [])] if c in have]
        if not cands:
            expr = F.lit(None).cast(field.dataType)  # column add
        else:
            expr = F.coalesce(*[F.col(c).cast(field.dataType) for c in cands])
        out.append(expr.alias(field.name))
    return df.select(*out)


def done_buckets(
    spark: SparkSession, fmt: ParquetBucketedFormat, lineage_path: str, run_id: str
) -> List[int]:
    """P5 resume input: buckets already committed for this run_id. B is small
    (≤ thousands) so collecting to a literal list lets the scan-side filter
    prune partitions instead of joining."""
    lin = fmt.read_lineage(spark, lineage_path)
    if lin is None:
        return []
    rows = (
        lin.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("url_bucket")
        .distinct()
        .collect()
    )
    return sorted(r["url_bucket"] for r in rows)
