"""Snapshot expiration + staging vacuum (sources/maintenance.py,
jobs/expire_table.py): the retention invariant is that expiry NEVER touches
data files and never expires the latest writer of any bucket, so
validate_table reconciles identically before and after."""

import json
import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"),
)

from corsearch_project_spark.fixtures.gen_pages import default_rules, gen_pages
from corsearch_project_spark.plans.merge_pipeline import MergeConfig, run_merge
from corsearch_project_spark.sources.maintenance import (
    expire_snapshots,
    latest_writers,
    vacuum_staging,
)
from corsearch_project_spark.sources.snapshots import read_snapshots

from test_merge import BUCKETS, _extract_all, _table_state, _write_pages


def _merge(spark, out, tmp_path, rows, run_id):
    src = str(tmp_path / f"{run_id}.parquet")
    _write_pages(rows, src)
    return run_merge(
        spark,
        MergeConfig(increment_path=src, output_path=out, run_id=run_id,
                    buckets=BUCKETS),
        default_rules(),
    )


def _swap_body(r, donor):
    r2 = dict(r)
    r2["html"] = donor["html"]
    r2["text"] = donor["text"]
    return r2


def _three_commit_table(spark, tmp_path):
    """extract R-base (all buckets) + merge M1 (some buckets) + merge M2
    (a different bucket) — a history where R-base is outside any small
    keep window but remains latest writer of untouched buckets."""
    base = gen_pages(60, seed=95, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "exp")
    m1 = [_swap_body(base[0], base[20]), _swap_body(base[1], base[21])]
    rep1 = _merge(spark, out, tmp_path, m1, "M1")
    m2 = [_swap_body(base[5], base[30])]
    rep2 = _merge(spark, out, tmp_path, m2, "M2")
    assert rep1["buckets_rewritten"] and rep2["buckets_rewritten"]
    return out


def test_expire_preserves_validation_and_data(spark, tmp_path):
    from validate_table import validate_table

    out = _three_commit_table(spark, tmp_path)
    state_before = _table_state(spark, out)

    report = expire_snapshots(spark, out, keep_last=1)
    # R-base is latest writer of every bucket M1/M2 didn't rewrite -> kept
    # even though only M2 is inside the window; M1's buckets may or may not
    # all be superseded by M2 (different urls -> different buckets), so only
    # assert the invariants, not the exact expiry set.
    assert "R-exp" in report["kept_runs"]
    assert "M2" in report["kept_runs"]
    assert report["snapshots_after"] <= report["snapshots_before"]

    # data files untouched, latest-per-bucket reconciliation still green
    assert _table_state(spark, out) == state_before
    v = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "M2",
        BUCKETS,
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert v["ok"], v


def test_expire_drops_fully_superseded_run(spark, tmp_path):
    """A run whose every bucket was later rewritten and that is outside the
    window must actually be expired (rows gone from both ledgers)."""
    base = gen_pages(40, seed=96, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "sup")
    # M-all rewrites EVERY bucket (body swap for every url), then M-last
    # rewrites every bucket again -> M-all is fully superseded
    donors = base[20:] + base[:20]
    rep_a = _merge(spark, out, tmp_path,
                   [_swap_body(r, d) for r, d in zip(base, donors)], "M-all")
    assert set(rep_a["buckets_rewritten"]) == set(
        r.url_bucket for r in spark.read.parquet(
            os.path.join(out, "extracted")).select("url_bucket").distinct().collect()
    )
    donors2 = base[10:] + base[:10]
    _merge(spark, out, tmp_path,
           [_swap_body(r, d) for r, d in zip(base, donors2)], "M-last")

    report = expire_snapshots(spark, out, keep_last=1)
    assert "M-all" in report["expired_runs"]
    snaps = read_snapshots(spark, os.path.join(out, "snapshots"))
    assert "M-all" not in {r["run_id"] for r in snaps.collect()}
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.where(lin.run_id == "M-all").count() == 0
    # kept seqs unchanged (no renumbering): next commit continues the chain
    kept_seqs = sorted(r["seq"] for r in snaps.collect())
    assert kept_seqs == sorted(set(kept_seqs))
    assert max(kept_seqs) == 2


def test_expire_noop_when_window_covers_all(spark, tmp_path):
    out = _three_commit_table(spark, tmp_path)

    def file_state(d):
        fs = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                fs[p] = os.path.getmtime(p)
        return fs

    before = file_state(out)
    report = expire_snapshots(spark, out, keep_last=10)
    assert report["expired_runs"] == []
    assert report["lineage_rows_expired"] == 0
    assert file_state(out) == before  # ledgers not even rewritten


def test_latest_writers_replay():
    rows = [
        {"seq": 0, "run_id": "A", "buckets": [0, 1, 2]},
        {"seq": 1, "run_id": "B", "buckets": [1]},
        {"seq": 2, "run_id": "C", "buckets": [2]},
    ]
    assert latest_writers(rows) == {0: "A", 1: "B", 2: "C"}


def test_vacuum_removes_staging_only(spark, tmp_path):
    base = gen_pages(30, seed=97, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "vac")
    ext = os.path.join(out, "extracted")
    junk = os.path.join(ext, "url_bucket=0", "_temporary", "0", "task_1")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-stale.parquet"), "wb") as f:
        f.write(b"x" * 1234)

    state_before = _table_state(spark, out)
    rep = vacuum_staging(ext)
    assert rep["bytes_freed"] >= 1234
    assert len(rep["staging_dirs_removed"]) == 1
    assert not os.path.exists(os.path.join(ext, "url_bucket=0", "_temporary"))
    assert _table_state(spark, out) == state_before


class _RecordingFS:
    """Object-store-shaped FS: same five calls as fs.LocalFS but with every
    mutation recorded, and rename implemented as copy+delete — the
    non-atomic prefix semantics S3/GCS adapters actually have. Running the
    full expiry through it proves maintenance never bypasses the seam with
    a raw os call (the round-3 'local-FS-only' finding)."""

    def __init__(self):
        import shutil

        self._shutil = shutil
        self.ops = []

    def exists(self, p):
        return os.path.exists(p)

    def rename(self, src, dst):
        self.ops.append(("rename", src, dst))
        self._shutil.copytree(src, dst)
        self._shutil.rmtree(src)

    def rmtree(self, p):
        self.ops.append(("rmtree", p))
        self._shutil.rmtree(p, ignore_errors=True)

    def listdir(self, p):
        return os.listdir(p)

    def isdir(self, p):
        return os.path.isdir(p)

    def getsize(self, p):
        return os.path.getsize(p)


def test_expire_through_injected_object_store_fs(spark, tmp_path):
    """Expiry must work end-to-end through a copy+delete-rename FS object
    — i.e. driver-side maintenance has no hidden os.rename dependence."""
    from validate_table import validate_table

    base = gen_pages(40, seed=98, dup_frac=0.0)
    out = _extract_all(spark, tmp_path, base, "ofs")
    donors = base[20:] + base[:20]
    _merge(spark, out, tmp_path,
           [_swap_body(r, d) for r, d in zip(base, donors)], "O1")
    _merge(spark, out, tmp_path,
           [_swap_body(r, d) for r, d in zip(base, donors[5:] + donors[:5])],
           "O2")

    fs = _RecordingFS()
    report = expire_snapshots(spark, out, keep_last=1, fs=fs)
    assert report["expired_runs"]  # something actually got expired
    # every swap mutation went through the seam: 2 renames + >=1 rmtree per
    # swapped ledger (snapshots + lineage)
    renames = [o for o in fs.ops if o[0] == "rename"]
    assert len(renames) == 4
    v = validate_table(
        spark,
        os.path.join(out, "extracted"),
        os.path.join(out, "lineage"),
        "O2",
        BUCKETS,
        snapshots_path=os.path.join(out, "snapshots"),
    )
    assert v["ok"], v


def test_interrupted_swap_is_recovered(spark, tmp_path):
    """Simulate a crash inside _swap_in's rename window (live missing,
    aside + compact present): the next expire_snapshots must restore the
    ledger and still produce a correct expiry."""
    import shutil

    from corsearch_project_spark.sources.maintenance import recover_swap

    out = _three_commit_table(spark, tmp_path)
    snap = os.path.join(out, "snapshots")
    state_before = _table_state(spark, out)
    snaps_before = {r["run_id"] for r in read_snapshots(spark, snap).collect()}

    # crash state: compact written, live renamed aside, move-in never ran
    shutil.copytree(snap, snap + ".__compact__")
    os.rename(snap, snap + ".__expired__")
    assert read_snapshots(spark, snap) is None  # table looks snapshot-less

    report = expire_snapshots(spark, out, keep_last=10)
    assert "restored_live_from_aside" in report["recovered_swaps"]
    assert "reaped_compact" in report["recovered_swaps"]
    assert {r["run_id"] for r in read_snapshots(spark, snap).collect()} == snaps_before
    assert _table_state(spark, out) == state_before
    assert not os.path.exists(snap + ".__expired__")
    assert not os.path.exists(snap + ".__compact__")

    # idempotent: a clean table recovers nothing
    assert recover_swap(snap) == []


def test_vacuum_reaps_swap_leftovers(spark, tmp_path):
    """vacuum_staging repairs interrupted swaps (restoring a mid-swap
    ledger) and reaps completed-swap leftovers."""
    import shutil

    out = _three_commit_table(spark, tmp_path)
    snap = os.path.join(out, "snapshots")
    lin = os.path.join(out, "lineage")
    state_before = _table_state(spark, out)

    # mid-swap crash on snapshots; completed-swap leftover on lineage
    os.rename(snap, snap + ".__expired__")
    shutil.copytree(lin, lin + ".__expired__")

    rep = vacuum_staging(out)
    assert any("restored_live_from_aside" in r for r in rep["recovered_swaps"])
    assert any("reaped_aside" in r for r in rep["recovered_swaps"])
    assert os.path.exists(snap) and not os.path.exists(snap + ".__expired__")
    assert not os.path.exists(lin + ".__expired__")
    assert _table_state(spark, out) == state_before


def test_expire_cli(spark, tmp_path, capsys):
    import expire_table as J

    out = _three_commit_table(spark, tmp_path)
    rc = J.main(["--output", out, "--keep-last", "1"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "vacuum" in rep and rep["kept_runs"]

    rc = J.main(["--output", str(tmp_path / "nope"), "--keep-last", "1"])
    assert rc == 1


# ---------------------------------------------------------------- S3 crashes


class _InjectedCrash(Exception):
    pass


class _CrashableObjectStoreFS:
    """Object-store double with fault injection: rename is a per-file
    copy+delete honoring the seam's ordering contract (COMPLETE_MARKER
    copied LAST, deleted FIRST — sources/fs.py), rmtree is per-file, and
    every single file mutation ticks a fuse that raises after
    ``fail_after`` mutations. Sweeping the fuse over every index proves a
    crash at ANY point inside the non-atomic maintenance swap leaves a
    state recover_swap/vacuum_staging can repair without data loss."""

    def __init__(self, fail_after=None):
        self.fail_after = fail_after
        self.ops = 0

    def _tick(self):
        self.ops += 1
        if self.fail_after is not None and self.ops > self.fail_after:
            raise _InjectedCrash(f"injected crash at mutation {self.ops}")

    @staticmethod
    def _files(root):
        from corsearch_project_spark.sources.maintenance import COMPLETE_MARKER

        out = []
        for d, _, names in os.walk(root):
            for n in names:
                out.append(os.path.join(d, n))
        # deterministic, marker-neutral base order
        return sorted(out), COMPLETE_MARKER

    def exists(self, p):
        return os.path.exists(p)

    def isdir(self, p):
        return os.path.isdir(p)

    def listdir(self, p):
        return os.listdir(p)

    def getsize(self, p):
        return os.path.getsize(p)

    def rename(self, src, dst):
        import shutil

        files, marker = self._files(src)
        # copy phase: marker last
        for f in sorted(files, key=lambda f: os.path.basename(f) == marker):
            rel = os.path.relpath(f, src)
            target = os.path.join(dst, rel)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            self._tick()
            shutil.copy2(f, target)
        # delete phase: marker first
        for f in sorted(files, key=lambda f: os.path.basename(f) != marker):
            self._tick()
            os.remove(f)
        shutil.rmtree(src, ignore_errors=True)

    def rmtree(self, p):
        import shutil

        if not os.path.exists(p):
            return
        files, marker = self._files(p)
        # reap is delete-shaped: marker first, so a half-reaped dir never
        # masquerades as complete
        for f in sorted(files, key=lambda f: os.path.basename(f) != marker):
            self._tick()
            os.remove(f)
        shutil.rmtree(p, ignore_errors=True)


def test_swap_crash_anywhere_on_object_store_recovers(spark, tmp_path):
    """Fault-injection sweep (round-4 verdict item 6): run snapshot expiry
    through the copy+delete FS double, crashing after every k-th file
    mutation in turn. After each crash, vacuum_staging (the repair entry
    point) + a re-run of the expiry must converge to the same table state
    as a crash-free expiry — ledgers complete, no staging leftovers, no
    torn directory ever mistaken for a whole one."""
    import shutil

    # M2 rewrites exactly M1's urls, so M1 is fully superseded and
    # keep_last=1 genuinely expires it — the swap (the code under test)
    # must actually run.
    base = gen_pages(40, seed=96, dup_frac=0.0)
    src_table = _extract_all(spark, tmp_path, base, "exp")
    m1 = [_swap_body(base[0], base[20]), _swap_body(base[1], base[21])]
    _merge(spark, src_table, tmp_path, m1, "M1")
    m2 = [_swap_body(base[0], base[25]), _swap_body(base[1], base[26])]
    _merge(spark, src_table, tmp_path, m2, "M2")

    # Reference: the state a crash-free object-store expiry produces.
    ref = str(tmp_path / "ref")
    shutil.copytree(src_table, ref)
    rep = expire_snapshots(spark, ref, keep_last=1, fs=_CrashableObjectStoreFS())
    assert rep["expired_runs"]
    want_state = _table_state(spark, ref)
    want_runs = {r["run_id"] for r in
                 read_snapshots(spark, os.path.join(ref, "snapshots")).collect()}

    k = 0
    completed_without_crash = False
    while not completed_without_crash:
        k += 1
        root = str(tmp_path / f"crash{k}")
        shutil.copytree(src_table, root)
        fs = _CrashableObjectStoreFS(fail_after=k)
        try:
            expire_snapshots(spark, root, keep_last=1, fs=fs)
            completed_without_crash = True
        except _InjectedCrash:
            pass

        # repair + finish with a crash-free object-store FS
        vrep = vacuum_staging(root, fs=_CrashableObjectStoreFS())
        assert not any(
            "unrecoverable" in a for a in vrep["recovered_swaps"]
        ), (k, vrep)
        expire_snapshots(spark, root, keep_last=1, fs=_CrashableObjectStoreFS())

        snap = os.path.join(root, "snapshots")
        assert os.path.exists(os.path.join(snap, "_SUCCESS")), k
        assert not os.path.exists(snap + ".__expired__"), k
        assert not os.path.exists(snap + ".__compact__"), k
        got_runs = {r["run_id"] for r in read_snapshots(spark, snap).collect()}
        assert got_runs == want_runs, (k, got_runs, want_runs)
        assert _table_state(spark, root) == want_state, k
    assert k > 10  # the sweep actually exercised many distinct crash points


def test_recover_swap_prefers_complete_ledger_over_partial_live(tmp_path):
    """Unit pin of the marker rule: a torn move-in (partial live, complete
    aside) must roll BACK — reaping the aside here is the one
    order-of-operations that loses the table."""
    from corsearch_project_spark.sources.maintenance import recover_swap

    live = tmp_path / "snapshots"
    aside = tmp_path / "snapshots.__expired__"
    # complete aside (the old ledger), torn live copy (no marker yet)
    aside.mkdir()
    (aside / "part-00000.parquet").write_bytes(b"OLD")
    (aside / "_SUCCESS").write_bytes(b"")
    live.mkdir()
    (live / "part-00000.parquet").write_bytes(b"NEW-TORN")

    acts = recover_swap(str(live), fs=_CrashableObjectStoreFS())
    assert acts == ["reaped_partial_live", "restored_live_from_aside"]
    assert (live / "_SUCCESS").exists()
    assert (live / "part-00000.parquet").read_bytes() == b"OLD"
    assert not aside.exists()

    # and when NEITHER side carries the marker, nothing is reaped
    live2 = tmp_path / "lineage"
    aside2 = tmp_path / "lineage.__expired__"
    live2.mkdir(); (live2 / "x.parquet").write_bytes(b"a")
    aside2.mkdir(); (aside2 / "x.parquet").write_bytes(b"b")
    acts2 = recover_swap(str(live2), fs=_CrashableObjectStoreFS())
    assert acts2 == ["unrecoverable_both_partial"]
    assert live2.exists() and aside2.exists()


def test_swap_in_refuses_markerless_ledger(tmp_path):
    """A compact ledger written without _SUCCESS (marksuccessfuljobs off)
    must fail the swap loudly, before the live ledger is touched."""
    import pytest

    from corsearch_project_spark.sources.maintenance import COMPACT_SUFFIX, _swap_in

    live = tmp_path / "snapshots"
    live.mkdir()
    (live / "part-00000.parquet").write_bytes(b"OLD")
    (live / "_SUCCESS").write_bytes(b"")
    compact = tmp_path / ("snapshots" + COMPACT_SUFFIX)
    compact.mkdir()
    (compact / "part-00000.parquet").write_bytes(b"NEW")

    with pytest.raises(RuntimeError, match="marksuccessfuljobs"):
        _swap_in(str(compact), str(live), fs=_CrashableObjectStoreFS())
    assert (live / "part-00000.parquet").read_bytes() == b"OLD"
    assert (compact / "part-00000.parquet").exists()
