"""Table maintenance: snapshot expiration + crash-leftover vacuum (the
Iceberg ``expireSnapshots`` / ``removeOrphanFiles`` actions for the emulated
table format).

A 10^12-doc table re-crawled incrementally accumulates one snapshot row and
B lineage rows per commit forever; after 10^5 merge commits the metadata
tables dwarf their purpose and every ``validate_table`` reconciliation
window ranks an ever-growing ledger. Iceberg bounds this with
``expireSnapshots`` — history older than a retention window is dropped,
EXCEPT state still referenced by live data. The emulation has the same
invariant, at run granularity:

  a run (its snapshot row + its lineage rows) may be expired only when it
  is (1) outside the keep-last window AND (2) not the LATEST writer of any
  bucket — the latest writer's lineage row is what ``validate_table``
  reconciles the bucket's bytes against and what the merge pipeline treats
  as current, so expiring it would orphan the bucket's provenance.

Consequences, both documented Iceberg behaviors too: an expired run can no
longer be ``--resume``d (its per-bucket done markers are gone), and history
queries can't see expired commits.

Metadata tables are driver-small by construction (one row per commit, B
rows per run — the same boundedness argument as ``io.done_buckets``), so
the expiry set is computed driver-side; the rewrites stay Spark writes.
Single-writer-per-table-root assumption, as everywhere in this emulation:
the swap is write-new → move-old-aside → move-new-in, not a catalog CAS.

All driver-side directory operations go through the injectable filesystem
seam (``sources/fs.py``, the same pattern as the ``open()`` seam in the
WARC range scan): pass an object-store adapter as ``fs=`` and expiry runs
on S3/GCS, where "rename" is a prefix copy+delete. That rename is NOT
atomic there — the single-writer assumption is what makes the swap safe,
and a multi-writer deployment should flip an Iceberg catalog pointer
instead (the ``TableFormat`` seam in ``sources/io.py``).

Vacuum: Spark's dynamic partition overwrite stages output under
``_temporary`` and removes it on job commit; a killed job leaves the
directory behind. Readers ignore underscore-prefixed paths, so the leftovers
are invisible but billable — at crawl scale, terabytes. ``vacuum_staging``
removes them, and also repairs/reaps interrupted-swap leftovers
(``*.__expired__`` / ``*.__compact__``).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import SparkSession, functions as F

from corsearch_project_spark.sources.fs import LOCAL_FS
from corsearch_project_spark.sources.schemas import LINEAGE_SCHEMA
from corsearch_project_spark.sources.snapshots import SNAPSHOT_SCHEMA, read_snapshots

# Swap staging suffixes. Both are SIBLINGS of the live path (same parent
# directory), so local renames never cross a mount point (no EXDEV) and
# object-store renames stay within one bucket prefix.
ASIDE_SUFFIX = ".__expired__"
COMPACT_SUFFIX = ".__compact__"

# Directory-completeness marker. Every ledger this module swaps is a
# Spark-written parquet dir, and Spark commits ``_SUCCESS`` last — so "has
# the marker" ⇔ "every data file of the write is present". The fs seam's
# rename contract (sources/fs.py) extends that invariant through
# copy+delete renames: copy the marker LAST, delete it FIRST. Under those
# two orderings a directory with the marker is complete in EVERY crash
# state a non-atomic rename can produce, which is what lets recover_swap
# tell a fully-moved-in ledger from a partial copy.
COMPLETE_MARKER = "_SUCCESS"


def _complete(path: str, fs=LOCAL_FS) -> bool:
    """True iff ``path`` is a fully-written/fully-copied ledger dir."""
    return fs.exists(path) and fs.exists(path.rstrip("/") + "/" + COMPLETE_MARKER)


def recover_swap(live_dir: str, fs=LOCAL_FS) -> List[str]:
    """Repair an interrupted ``_swap_in`` around ``live_dir``.

    On POSIX the renames are atomic and only whole-directory
    present/absent states occur; on an object store a "rename" is a
    non-atomic prefix copy+delete, so a crash can ALSO leave partial
    directories. The ``COMPLETE_MARKER`` discipline (marker copied last,
    deleted first — the fs seam contract) makes partial states
    detectable, and every crash state then has exactly one safe repair,
    applied in this order:

    * live complete + aside present — crashed after move-in, before the
      aside cleanup (or mid-copy of move-aside, leaving a partial aside):
      the live ledger is whole; reap the aside.
    * live PARTIAL + aside complete — crashed mid-copy of move-in, or
      mid-delete of move-aside: the live dir is a torn copy and the aside
      holds the only complete old ledger. Reap the torn live dir and roll
      back from the aside. (Pre-marker code reaped the ASIDE here — the
      one order-of-operations that loses the table.)
    * live missing + aside complete — crashed between the two renames:
      roll back by renaming the aside to live. Rolling back is chosen
      over rolling forward because it is correct even if the compact dir
      is from an older, unrelated interruption; the expiry simply
      re-runs.
    * live partial/missing + aside PARTIAL — unreachable under the
      single-writer protocol (the aside copy must complete before the
      move-in starts); left untouched and reported so an operator sees it
      rather than either side being silently reaped.
    * compact present + live complete — crashed before the swap started
      (or a stale rewrite): reap the compact dir; it is regenerated.
    """
    aside = live_dir.rstrip("/") + ASIDE_SUFFIX
    compact = live_dir.rstrip("/") + COMPACT_SUFFIX
    actions: List[str] = []
    if fs.exists(aside):
        if _complete(live_dir, fs):
            fs.rmtree(aside)
            actions.append("reaped_aside")
        elif _complete(aside, fs):
            if fs.exists(live_dir):
                fs.rmtree(live_dir)
                actions.append("reaped_partial_live")
            fs.rename(aside, live_dir)
            actions.append("restored_live_from_aside")
        else:
            # Neither side is provably whole — never guess with rmtree.
            actions.append("unrecoverable_both_partial")
            return actions
    if fs.exists(compact) and _complete(live_dir, fs):
        fs.rmtree(compact)
        actions.append("reaped_compact")
    return actions


def _swap_in(new_dir: str, live_dir: str, fs=LOCAL_FS) -> None:
    """write-new → move-old-aside → move-new-in → drop aside.

    Crash windows and recovery (NOT atomic — see ``recover_swap``): between
    the two renames the live path does not exist, so an interruption there
    makes the table look snapshot-less until ``recover_swap`` (run
    automatically at the start of ``expire_snapshots`` and by
    ``vacuum_staging``) restores it from the ``.__expired__`` aside copy.
    Data is never lost: every byte is in either the aside or the compact
    directory at all times. Single-writer per table root is assumed; on an
    object store each rename is a non-atomic prefix copy+delete, which the
    same single-writer assumption covers.

    A ``new_dir`` without ``COMPLETE_MARKER`` raises before anything moves:
    ``recover_swap`` would take the swapped-in ledger for a torn copy
    forever after.
    """
    if not _complete(new_dir, fs):
        raise RuntimeError(
            f"{new_dir} was written without its {COMPLETE_MARKER} marker; ledger "
            "swaps need mapreduce.fileoutputcommitter.marksuccessfuljobs=true"
        )
    aside = live_dir.rstrip("/") + ASIDE_SUFFIX
    if fs.exists(aside):
        fs.rmtree(aside)
    fs.rename(live_dir, aside)
    fs.rename(new_dir, live_dir)
    fs.rmtree(aside)


def latest_writers(snap_rows: List[dict]) -> Dict[int, str]:
    """bucket -> run_id of the run that last rewrote it, replayed from the
    snapshot ledger's commit order (each row records the buckets it
    touched)."""
    latest: Dict[int, str] = {}
    for r in sorted(snap_rows, key=lambda r: r["seq"]):
        for b in r["buckets"]:
            latest[int(b)] = r["run_id"]
    return latest


def expire_snapshots(
    spark: SparkSession, output_path: str, keep_last: int = 3, fs=LOCAL_FS
) -> Optional[dict]:
    """Expire runs outside the keep-last window that are not latest writer
    of any bucket; compact the snapshots + lineage tables accordingly.
    Returns a report dict, or None when there is no snapshots table.
    ``fs`` is the driver-side filesystem seam (``sources/fs.py``) used for
    the metadata swap; interrupted prior swaps are repaired first."""
    root = output_path.rstrip("/")
    snap_path = root + "/snapshots"
    lin_path = root + "/lineage"

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    recovered = recover_swap(snap_path, fs) + recover_swap(lin_path, fs)
    snaps = read_snapshots(spark, snap_path)
    if snaps is None:
        return None
    rows = [r.asDict() for r in snaps.collect()]  # one row per commit
    seqs = sorted(r["seq"] for r in rows)
    cutoff = seqs[-keep_last] if keep_last <= len(seqs) else seqs[0]
    window_runs = {r["run_id"] for r in rows if r["seq"] >= cutoff}
    writer_runs = set(latest_writers(rows).values())
    keep_runs = window_runs | writer_runs
    expired_runs = sorted({r["run_id"] for r in rows} - keep_runs)

    report = {
        "snapshots_before": len(rows),
        "keep_last": keep_last,
        "kept_runs": sorted(keep_runs),
        "expired_runs": expired_runs,
        "kept_for_latest_writer": sorted(writer_runs - window_runs),
        "recovered_swaps": recovered,
    }
    if not expired_runs:
        report["snapshots_after"] = len(rows)
        report["lineage_rows_expired"] = 0
        return report

    keep_lit = list(keep_runs)
    new_snaps = (
        spark.read.schema(SNAPSHOT_SCHEMA)
        .parquet(snap_path)
        .where(F.col("run_id").isin(keep_lit))
    )
    new_snaps.coalesce(1).write.mode("overwrite").parquet(
        snap_path + COMPACT_SUFFIX
    )
    _swap_in(snap_path + COMPACT_SUFFIX, snap_path, fs)

    lin = spark.read.schema(LINEAGE_SCHEMA).parquet(lin_path)
    n_before = lin.count()
    kept_lin = lin.where(F.col("run_id").isin(keep_lit))
    kept_lin.coalesce(1).write.mode("overwrite").parquet(lin_path + COMPACT_SUFFIX)
    _swap_in(lin_path + COMPACT_SUFFIX, lin_path, fs)

    # run_ids and snapshot rows are not 1:1 (a resume-append commits a new
    # row under the original run_id), so count kept ROWS, not kept runs
    report["snapshots_after"] = sum(1 for r in rows if r["run_id"] in keep_runs)
    report["lineage_rows_expired"] = n_before - spark.read.schema(
        LINEAGE_SCHEMA
    ).parquet(lin_path).count()
    return report


def _tree_bytes(path: str, fs) -> int:
    total = 0
    stack = [path]
    while stack:
        d = stack.pop()
        for name in fs.listdir(d):
            p = d.rstrip("/") + "/" + name
            if fs.isdir(p):
                stack.append(p)
            else:
                try:
                    total += fs.getsize(p)
                except OSError:
                    pass
    return total


def vacuum_staging(output_path: str, fs=LOCAL_FS) -> dict:
    """Remove crash leftovers under the table root: Spark staging dirs
    (``_temporary``) and interrupted-swap dirs (``*.__expired__`` /
    ``*.__compact__``, via ``recover_swap`` — which RESTORES a mid-swap
    table rather than deleting it). Underscore/dotted staging paths are
    invisible to readers, so this never changes query results — it
    reclaims storage after killed jobs. Runs on the ``fs`` seam, so it
    works against object-store prefixes as well as local dirs."""
    removed, freed, recovered = [], 0, []
    stack = [output_path.rstrip("/")]
    while stack:
        d = stack.pop()
        names = set(fs.listdir(d))
        for name in sorted(names):
            p = d + "/" + name
            if name == "_temporary":
                freed += _tree_bytes(p, fs)
                fs.rmtree(p)
                removed.append(p[len(output_path.rstrip("/")) + 1 :])
            elif name.endswith(ASIDE_SUFFIX) or name.endswith(COMPACT_SUFFIX):
                live = d + "/" + name.rsplit(".__", 1)[0]
                before = fs.exists(p)
                acts = recover_swap(live, fs)
                recovered.extend(f"{name}:{a}" for a in acts)
                if before and not fs.exists(p):
                    removed.append(p[len(output_path.rstrip("/")) + 1 :])
            elif fs.isdir(p):
                stack.append(p)
    return {
        "staging_dirs_removed": removed,
        "bytes_freed": freed,
        "recovered_swaps": recovered,
    }
