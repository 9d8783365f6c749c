"""Incremental merge job (plans/merge_pipeline.py): copy-on-write MERGE
semantics over the bucketed table — full-run equivalence, no-op increments,
untouched buckets physically preserved, post-merge validation."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from corsearch_project_spark.fixtures.gen_pages import (
    default_rules,
    gen_pages,
    pages_to_pandas,
)
from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge

BUCKETS = 8


def _write_pages(rows, path):
    pq.write_table(
        pa.Table.from_pandas(pages_to_pandas(rows)),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def _table_state(spark, root):
    """(url -> sha) map + per-bucket rollups of an extracted table."""
    df = spark.read.parquet(os.path.join(root, "extracted"))
    rows = df.select("url", "text_sha256", "url_bucket").collect()
    return {r["url"]: (r["text_sha256"], r["url_bucket"]) for r in rows}


def _extract_all(spark, tmp_path, rows, name):
    src = str(tmp_path / f"{name}.parquet")
    _write_pages(rows, src)
    out = str(tmp_path / name)
    run_extract(
        spark,
        ExtractConfig(input_path=src, output_path=out, run_id=f"R-{name}",
                      buckets=BUCKETS),
        default_rules(),
    )
    return out


def test_merge_equals_full_run(spark, tmp_path):
    """extract(A) + merge(B) must equal extract(A ∪ latest-wins(B)) in
    (url, digest) content — the merge path is provably the same extraction."""
    base = gen_pages(60, seed=91, dup_frac=0.0)
    # increment: 20 new urls + re-crawls of 10 existing with CHANGED html
    inc_new = gen_pages(20, seed=92, dup_frac=0.0)
    for i, r in enumerate(inc_new):
        r["url"] = r["url"].replace("https://", "https://inc-")
    # changed re-crawls: swap in ANOTHER doc's body so the extracted text
    # is guaranteed to differ (appending bytes is not reliable: trailing
    # bytes after %%EOF / </html> can be ignored or boilerplate-stripped)
    changed = []
    for r, donor in zip(base[:10], base[30:40]):
        r2 = dict(r)
        r2["html"] = donor["html"]
        r2["text"] = donor["text"]
        changed.append(r2)
    increment = inc_new + changed

    out_a = _extract_all(spark, tmp_path, base, "base")
    inc_src = str(tmp_path / "inc.parquet")
    _write_pages(increment, inc_src)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out_a, run_id="M1",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert rep["docs_added"] == 20
    assert rep["docs_updated"] == 10
    assert rep["docs_unchanged"] == 0

    # one lineage row per rewritten bucket, and the snapshot names the same set
    lin = spark.read.parquet(os.path.join(out_a, "lineage")).where(F.col("run_id") == "M1")
    assert sorted(r["url_bucket"] for r in lin.collect()) == rep["buckets_rewritten"]
    assert rep["snapshot"]["buckets"] == rep["buckets_rewritten"]

    # reference: one full run over the merged logical input
    merged_rows = {r["url"]: r for r in base}
    for r in increment:
        merged_rows[r["url"]] = r
    out_full = _extract_all(spark, tmp_path, list(merged_rows.values()), "full")

    assert _table_state(spark, out_a) == _table_state(spark, out_full)


def test_merge_unchanged_increment_is_noop(spark, tmp_path):
    """Re-crawling identical content must rewrite ZERO buckets and leave
    every data file untouched on disk."""
    base = gen_pages(40, seed=93, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "noop")
    ext_dir = os.path.join(out, "extracted")

    def file_state(d):
        out_files = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                out_files[p] = os.path.getmtime(p)
        return out_files

    before = file_state(ext_dir)
    inc_src = str(tmp_path / "same.parquet")
    _write_pages(base, inc_src)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M0",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert rep["buckets_rewritten"] == []
    assert rep["docs_added"] == 0 and rep["docs_updated"] == 0
    assert rep["docs_unchanged"] == 40
    assert file_state(ext_dir) == before


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Dynamic partition overwrite: bucket directories the increment does
    not touch keep their exact files (mtimes unchanged)."""
    base = gen_pages(60, seed=94, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "cow")
    ext_dir = os.path.join(out, "extracted")

    # single-url increment -> exactly one touched bucket
    one = [dict(base[0])]
    one[0]["html"] = base[10]["html"]
    one[0]["text"] = base[10]["text"]
    inc_src = str(tmp_path / "one.parquet")
    _write_pages(one, inc_src)

    def mtimes_by_bucket(d):
        m = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, f)
                b = [seg for seg in dirpath.split(os.sep) if seg.startswith("url_bucket=")]
                m.setdefault(b[0] if b else "?", {})[p] = os.path.getmtime(p)
        return m

    before = mtimes_by_bucket(ext_dir)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M2",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert len(rep["buckets_rewritten"]) == 1
    touched = f"url_bucket={rep['buckets_rewritten'][0]}"
    after = mtimes_by_bucket(ext_dir)
    for bucket, files in before.items():
        if bucket != touched:
            assert after[bucket] == files, f"untouched {bucket} was rewritten"
    assert after[touched] != before[touched]


def test_validate_table_passes_after_merge(spark, tmp_path):
    """Post-merge, the table mixes run_ids; validate_table must reconcile
    each bucket against its LATEST (snapshot-ordered) lineage row and pass
    for the merge run-id."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    from validate_table import validate_table

    base = gen_pages(50, seed=95, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "val")
    inc = []
    for r, donor in zip(base[:5], base[20:25]):
        r2 = dict(r)
        r2["html"] = donor["html"]
        r2["text"] = donor["text"]
        inc.append(r2)
    inc_src = str(tmp_path / "vinc.parquet")
    _write_pages(inc, inc_src)
    rep = run_merge(
        spark,
        MergeConfig(increment_path=inc_src, output_path=out, run_id="M3",
                    buckets=BUCKETS),
        default_rules(),
    )
    assert rep["buckets_rewritten"]
    report = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "M3",
        BUCKETS,
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert report["ok"], report["failures"]
    # and the ORIGINAL run-id still validates (its completeness buckets are
    # all present; reconciliation is latest-row-based)
    report0 = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "R-val",
        BUCKETS,
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert report0["ok"], report0["failures"]


def test_write_extracted_dynamic_overwrite_is_config_independent(spark, tmp_path):
    """Writer-level partitionOverwriteMode pin: even when the SESSION conf is
    static (any default-conf caller), overwriting one bucket must not wipe
    the others (round-2 ADVICE — silent data loss in run_merge)."""
    from corsearch_project_spark.sources.io import ParquetBucketedFormat

    fmt = ParquetBucketedFormat()
    path = str(tmp_path / "tbl")
    full = spark.createDataFrame(
        [("u0", 0, "a"), ("u1", 1, "b")], "url string, url_bucket int, text string"
    )
    fmt.write_extracted(full, path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        only_b1 = spark.createDataFrame(
            [("u1", 1, "b2")], "url string, url_bucket int, text string"
        )
        fmt.write_extracted(only_b1, path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {
        (r.url, r.url_bucket, r.text)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("u0", 0, "a"), ("u1", 1, "b2")}
