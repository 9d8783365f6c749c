"""The end-to-end extraction pipeline (SURVEY §3.1) as a library function.

Plan shape (one Python stage by design, SURVEY §4):

  scan(pages | WARC dumps via sources.warc) ──filter (pushed to Parquet)──▶
  dedupe latest-wins (partial-agg max(struct)) ──▶ bucket P1 + url salt P2 ──▶
  shuffle on (url_bucket, salt) ──▶ mapInArrow kernel E17 ──▶
  re-derive url_bucket (JVM) ──▶ bucketed dynamic-overwrite write S3 ──▶
  lineage rollup from the committed table ──▶ append lineage S4

Resume (§3.3): completed buckets are read from lineage and excluded with a
literal NOT isin() filter, which prunes bucket directories at scan time when
the input is bucket-partitioned.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from corsearch_project_spark.operators.kernel import run_kernel
from corsearch_project_spark.operators.partitioning import (
    DEFAULT_BUCKETS,
    DEFAULT_SALT,
    with_salt,
    with_url_bucket,
)
from corsearch_project_spark.sources.io import (
    ParquetBucketedFormat,
    done_buckets,
    local_frame,
    scan_pages,
)
from corsearch_project_spark.sources.lineage import lineage_rows
from corsearch_project_spark.sources.schemas import LINEAGE_SCHEMA
from corsearch_project_spark.sources.snapshots import append_snapshot
from corsearch_project_spark.webextract.rules import Rule, rules_to_plain


@dataclass
class ExtractConfig:
    input_path: str
    output_path: str  # root; extracted under <root>/extracted, lineage under <root>/lineage
    run_id: str = ""
    input_format: str = "pages"  # 'pages' (parquet table) | 'warc' (raw dumps)
    buckets: int = DEFAULT_BUCKETS
    salt: int = DEFAULT_SALT
    resume: bool = False
    kernel_partitions: Optional[int] = None
    bucket_whitelist: Optional[Sequence[int]] = None  # test hook: simulate partial run
    max_records_per_file: int = 50_000
    # Opt-in markdown column: the fused dual-emit kernel parses each HTML
    # document ONCE and serializes twice, adding (extracted_md, md_sha256)
    # to the same bucketed table — Parquet is columnar, so text-only
    # readers prune the extra columns and pay nothing. Lineage/digest
    # contracts are unchanged (they roll up text_sha256 either way).
    with_markdown: bool = False
    # Opt-in document-assets catalog: a SECOND, dedicated relation under
    # <root>/doc_assets holding per-document metadata — PDF /Info fields,
    # link-annotation URIs and the flattened outline; DOCX Dublin-Core
    # core properties (operators/kernel.py run_doc_assets_kernel).
    # Deliberately a separate pass, not a wider kernel schema: (a) it
    # backfills over an EXISTING pages table without re-running text
    # extraction, and (b) only the document share of crawl rows (~15%)
    # carries any of this, so a dense url-keyed side table beats
    # mostly-empty columns on the hot table. Cost when run in-pipeline:
    # one extra (url, html) scan whose JVM pre-filter drops other rows
    # before the Python boundary — the scan re-reads the binary column,
    # the kernel only parses the document share.
    with_doc_assets: bool = False
    # Opt-in document-tables catalog (E24): <root>/doc_tables — PDF tables
    # via the ruling-free stream-mode detector, DOCX tables via exact
    # <w:tbl> walking, one row per table row (kernel-side explode). Same
    # separate-pass rationale as doc_assets: backfillable, and only the
    # document share carries tables.
    with_doc_tables: bool = False

    def __post_init__(self):
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]

    @property
    def extracted_path(self) -> str:
        return self.output_path.rstrip("/") + "/extracted"

    @property
    def lineage_path(self) -> str:
        return self.output_path.rstrip("/") + "/lineage"

    @property
    def snapshots_path(self) -> str:
        return self.output_path.rstrip("/") + "/snapshots"

    @property
    def doc_assets_path(self) -> str:
        return self.output_path.rstrip("/") + "/doc_assets"

    @property
    def doc_tables_path(self) -> str:
        return self.output_path.rstrip("/") + "/doc_tables"


def dedupe_latest(pages: DataFrame) -> DataFrame:
    """Common-Crawl re-crawls — latest warc_ts per url wins; ties broken
    deterministically by larger payload, then by the remaining columns'
    natural order (a strictly finer tiebreak than the window control arm).

    Implemented as ``max(struct(ordering keys…, payload…))`` in a
    groupBy(url): unlike the row_number window (dedupe_latest_window), a
    declarative max gets map-side PARTIAL aggregation — each input split
    reduces its local replicas before the shuffle and nothing is sorted —
    which at 10^12 rows means the exchange carries ~unique urls instead of
    every replica plus a full-partition sort."""
    payload = [c for c in pages.columns if c != "url"]
    packed = F.struct(
        F.col("warc_ts").alias("_k1"),
        F.length("html").alias("_k2"),
        F.col("text").alias("_k3"),
        *[F.col(c).alias(c) for c in payload],
    )
    picked = pages.groupBy("url").agg(F.max(packed).alias("_m"))
    return picked.select("url", *[F.col(f"_m.{c}").alias(c) for c in payload]).select(
        *pages.columns
    )


def dedupe_latest_window(pages: DataFrame) -> DataFrame:
    """W1 control arm (SURVEY §2.7): the same latest-wins relation via
    row_number over a (url, desc ordering) window. Kept for the
    plan-equivalence test; the pipeline uses the partial-agg form above."""
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.length("html")), F.desc("text")
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_extract(
    spark: SparkSession,
    cfg: ExtractConfig,
    rules: Optional[Dict[str, Rule]] = None,
) -> Dict[str, object]:
    import time

    phases: Dict[str, float] = {}
    t_phase = time.perf_counter()

    def mark(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    fmt = ParquetBucketedFormat(cfg.max_records_per_file)
    if cfg.input_format == "warc":
        from corsearch_project_spark.sources.warc import read_warc

        pages = read_warc(spark, cfg.input_path)
    else:
        pages = scan_pages(spark, cfg.input_path)

    skipped: List[int] = []
    if cfg.resume:
        skipped = done_buckets(spark, fmt, cfg.lineage_path, cfg.run_id)

    pages = with_url_bucket(pages, cfg.buckets)
    if skipped:
        pages = pages.where(~F.col("url_bucket").isin(skipped))
    if cfg.bucket_whitelist is not None:
        pages = pages.where(F.col("url_bucket").isin(list(cfg.bucket_whitelist)))

    # Project BEFORE deduping: max(struct) packs every input column into the
    # aggregate, which defeats Catalyst's column pruning through the agg —
    # an explicit projection here is what keeps unused columns (lang) out of
    # the Parquet scan (asserted by test_plans' ReadSchema audit).
    pages = dedupe_latest(pages.select("url", "warc_ts", "html", "text", "url_bucket"))
    pages = with_salt(pages, cfg.salt)

    sel = pages.select("url", "html", "text", "url_bucket", "salt")
    part_cols = [F.col("url_bucket"), F.col("salt")]
    # ALWAYS pass an explicit partition count: a column-only repartition is
    # an AQE rebalance hint, and AQE coalesces it by shuffle BYTES — for a
    # CPU-bound Python kernel stage over small-but-expensive rows that
    # collapsed the stage to 1-2 tasks regardless of cores (measured: flat
    # scaling local[8]→local[32]). Bytes are the wrong currency here.
    n_kernel = cfg.kernel_partitions or max(
        cfg.buckets, 2 * spark.sparkContext.defaultParallelism
    )
    shuffled = sel.repartition(n_kernel, *part_cols)

    rules_plain = rules_to_plain(rules or {})
    rules_bc = spark.sparkContext.broadcast(rules_plain)

    if cfg.with_markdown:
        from corsearch_project_spark.operators.kernel import run_dual_kernel

        extracted = run_dual_kernel(shuffled, rules_bc)
    else:
        extracted = run_kernel(shuffled, rules_bc)
    extracted = with_url_bucket(extracted, cfg.buckets)  # re-derived JVM-side

    # Write-clustering exchange: the kernel ran on fine-grained (bucket,
    # salt) partitions for CPU balance; regroup rows by bucket before the
    # partitionBy write so each bucket lands in ~1 task → ~1 file (without
    # this, files = tasks × buckets — small-file explosion that made the
    # lineage read-back the slowest stage). Same shape as Iceberg's
    # pre-write distribution ("hash" write.distribution-mode).
    extracted = extracted.repartition(cfg.buckets, "url_bucket")

    fmt.write_extracted(extracted, cfg.extracted_path)
    mark("kernel_and_write")

    if cfg.with_doc_assets:
        from corsearch_project_spark.operators.kernel import run_doc_assets_kernel

        # over the deduped pages relation (same rows the main kernel saw);
        # the JVM pre-filter keeps non-document bytes out of the Python stage
        assets = run_doc_assets_kernel(pages.select("url", "html"))
        assets = with_url_bucket(assets, cfg.buckets)
        fmt.write_extracted(
            assets.repartition(cfg.buckets, "url_bucket"), cfg.doc_assets_path
        )
        mark("doc_assets")

    if cfg.with_doc_tables:
        from corsearch_project_spark.operators.kernel import run_doc_tables_kernel

        tables = run_doc_tables_kernel(pages.select("url", "html"))
        tables = with_url_bucket(tables, cfg.buckets)
        fmt.write_extracted(
            tables.repartition(cfg.buckets, "url_bucket"), cfg.doc_tables_path
        )
        mark("doc_tables")

    # ONE job over the committed table computes every post-commit artifact:
    # per-bucket lineage rows are collected (B rows — tiny), the bucket list
    # and doc totals are derived from them driver-side, and the lineage
    # append writes the already-collected rows back without recomputing.
    committed = fmt.read_extracted(spark, cfg.extracted_path)
    lin_all = lineage_rows(committed, cfg.run_id, cfg.input_path).collect()
    mark("lineage_rollup")
    skipped_set = set(skipped)
    new_rows = [r.asDict() for r in lin_all if r["url_bucket"] not in skipped_set]
    run_buckets = sorted(r["url_bucket"] for r in new_rows)
    snap = None
    if new_rows:
        fmt.append_lineage(
            local_frame(spark, new_rows, LINEAGE_SCHEMA), cfg.lineage_path
        )
        snap = append_snapshot(
            spark,
            cfg.snapshots_path,
            cfg.run_id,
            "resume-append" if cfg.resume else "overwrite",
            new_rows,
        )
    mark("lineage_append")
    return {
        "run_id": cfg.run_id,
        "snapshot": snap,
        "phase_wall_s": phases,
        "buckets_written": run_buckets,
        "buckets_skipped": skipped,
        "docs_out": sum(r["doc_count"] for r in new_rows),
        "extracted_path": cfg.extracted_path,
        "lineage_path": cfg.lineage_path,
    }
