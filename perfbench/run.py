#!/usr/bin/env python3
"""Benchmark of the extraction pipeline, ``plans.extract_pipeline.run_extract``.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

Run it from the repository root. One process drives ``run_extract`` on
``local[<nproc>]`` in a closed loop with one caller: the next call starts
when the previous one has committed its data and lineage.

* ``--trace 0`` builds the session, makes the cold rep and WARMUP_REPS
  untimed reps, then times reps for ``--seconds`` seconds (at least
  MIN_REPS) and prints the end-to-end metrics.
* ``--trace 1`` is the separate traced process. It turns on Spark's event
  log, times untraced warm reps, then one rep with driver-side spans around
  the pipeline's public functions, and attributes the event log's stages to
  layers by their operators. A single-process pass then times the
  ``webextract`` functions per document. It prints the per-layer metrics.

Inputs are generated from ``--seed`` before anything is timed, and the
oracle is computed once per seed in this process. Every timed rep is then
checked against the oracle; a mismatch makes the run exit non-zero.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
records the host, the Spark set-up and the workload. Scratch files live
under ``.bench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import sys
import time
from typing import Dict, List, Optional, Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_REPS = 3
WARMUP_REPS = 1  # untimed reps after the cold one, while the JVM's JIT warms up
UNTRACED_REPS = 2  # trace mode, before the traced rep; one more follows it
RUN_BUDGET_S = 140.0  # stop starting reps after this; the run must end within 180 s
RESUME_RUN_ID = "resume-tail"

E2E_UNITS = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "mb_per_s": "MB/s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
    "clean_doc_frac": "fraction",
    "ok_rep_frac": "fraction",
}

KINDS = {"html": "html", "pdf": "pdf", "docx": "docx", "text_passthrough": "text"}

LAYER_UNITS: Dict[str, str] = {
    "session.build_s": "s",
    "kernel.py_start_s": "s",
    "io.scan.input_mb": "MB",
    "io.scan.passes": "ratio",
    "io.write.executor_s": "s",
    "io.write.files": "count",
    "io.write.mb": "MB",
    "io.done_buckets.wall_s": "s",
    "partitioning.hot_hosts.wall_s": "s",
    "partitioning.kernel_task.max_over_median": "ratio",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.dedupe.shuffle_mb": "MB",
    "pipeline.kernel_exchange.shuffle_mb": "MB",
    "pipeline.write_exchange.shuffle_mb": "MB",
    "pipeline.driver_unattributed_s": "s",
    "kernel.executor_s": "s",
    "kernel.py_run_s": "s",
    "kernel.py_sent_mb": "MB",
    "kernel.py_received_mb": "MB",
    **{f"kernel.extract_s.{k}": "s" for k in KINDS.values()},
    "kernel.boundary_s": "s",
    **{f"kernel.extract_us_p99.{k}": "us" for k in KINDS.values()},
    "kernel.error_docs": "count",
    "catalog.dual.executor_s": "s",
    "catalog.assets.executor_s": "s",
    "catalog.tables.executor_s": "s",
    "catalog.prefilter.rows_in_frac": "fraction",
    "catalog.prefilter.rows_per_batch": "rows",
    "catalog.assets.rows_out": "count",
    "catalog.tables.rows_out": "count",
    **{
        f"webextract.{k}.{m}": u
        for k in KINDS.values()
        for m, u in (("us_p50", "us"), ("us_p99", "us"), ("us_max", "us"), ("cpu_s", "s"))
    },
    "webextract.html.us_per_kb": "us/KB",
    "webextract.html.tokenize_s": "s",
    "webextract.html.build_dom_s": "s",
    "webextract.html.blocks_s": "s",
    "lineage.rollup.wall_s": "s",
    "lineage.append.wall_s": "s",
    "lineage.jobs": "count",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def p99(values: List[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[math.ceil(0.99 * len(s)) - 1])


# ---------------------------------------------------------------------------
# Spark session and teardown
# ---------------------------------------------------------------------------

def session_conf(wd: str, eventlog: Optional[str]) -> Dict[str, str]:
    """Confs that keep Spark's scratch files inside the work dir; the event
    log (trace mode only) goes there too. Plan strings are kept unabridged
    so the attribution can read table locations from them."""
    tmp = os.path.join(wd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(wd, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(wd, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.maxMetadataStringLength": "4096",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


# ---------------------------------------------------------------------------
# reps
# ---------------------------------------------------------------------------

class Bench:
    """One workload's state: its output root and, for resume_tail, the
    committed state each rep starts from."""

    def __init__(self, spark, wl, wd: str) -> None:
        from corsearch_project_spark.fixtures.gen_pages import default_rules

        self.spark, self.wl = spark, wl
        self.rules = default_rules()  # as jobs/run_extract.py
        self.out = os.path.join(wd, "out")
        self.state = os.path.join(wd, "resume_state")

    def config(self, run_id: str, **kw):
        from corsearch_project_spark.plans.extract_pipeline import ExtractConfig
        from perfbench.workloads import BUCKETS, SALT

        return ExtractConfig(
            input_path=self.wl.input_path,
            output_path=self.out,
            run_id=run_id,
            buckets=BUCKETS,
            salt=SALT,
            with_markdown=self.wl.catalog,
            with_doc_assets=self.wl.catalog,
            with_doc_tables=self.wl.catalog,
            **kw,
        )

    def _run(self, cfg) -> Tuple[float, dict]:
        from corsearch_project_spark.plans.extract_pipeline import run_extract

        t0 = time.perf_counter()
        report = run_extract(self.spark, cfg, self.rules)
        return time.perf_counter() - t0, report

    def cold(self) -> float:
        """The first call of the session. On resume_tail it commits every
        bucket but the pending ones, and that state is kept for the reps."""
        from perfbench.workloads import BUCKETS

        shutil.rmtree(self.out, ignore_errors=True)
        if self.wl.resume:
            done = [b for b in range(BUCKETS) if b not in self.wl.pending]
            wall, _ = self._run(self.config(RESUME_RUN_ID, bucket_whitelist=done))
            shutil.rmtree(self.state, ignore_errors=True)
            shutil.copytree(self.out, self.state)
            return wall
        return self._run(self.config("cold"))[0]

    def rep(self, i: int) -> Tuple[float, dict]:
        shutil.rmtree(self.out, ignore_errors=True)
        if self.wl.resume:
            shutil.copytree(self.state, self.out)
            return self._run(self.config(RESUME_RUN_ID, resume=True))
        return self._run(self.config(f"rep{i}"))

    def check(self, report: dict) -> Tuple[List[str], dict]:
        """Gate the committed tables; returns (problems, per-rep figures)."""
        from perfbench.workloads import gate, tree_bytes

        problems, ext = gate(self.wl, self.out)
        if ext is None:
            return problems, {}
        written = set(report["buckets_written"])
        if self.wl.resume and sorted(written) != self.wl.pending:
            problems.append(f"resume wrote buckets {sorted(written)}, pending {self.wl.pending}")
        rows = [
            (u, k, us)
            for u, b, k, us in zip(
                ext.column("url").to_pylist(),
                ext.column("url_bucket").to_pylist(),
                ext.column("doc_kind").to_pylist(),
                ext.column("extract_us").to_pylist(),
            )
            if b in written
        ]
        return problems, {
            "docs": report["docs_out"],
            # payload of the documents this rep wrote, from the generated input
            "bytes": sum(self.wl.payload[r[0]] for r in rows),
            "errors": sum(1 for r in rows if r[1] == "error"),
            "stored": tree_bytes(self.out),
            "rows": rows,
        }


def timed_reps(bench: Bench, seconds: float, t_start: float, n_min: int):
    """Closed loop of reps until ``seconds`` of timed calls and ``n_min``
    reps; stops at the first rep that fails. Returns (walls, figures,
    attempted, failed)."""
    walls: List[float] = []
    figs: List[dict] = []
    attempted = failed = 0
    while attempted < n_min or sum(walls) < seconds:
        if time.monotonic() - t_start > RUN_BUDGET_S:
            log("run budget spent; no more reps")
            break
        attempted += 1
        try:
            wall, report = bench.rep(attempted)
            problems, fig = bench.check(report)
        except Exception as e:  # a raising rep is a failed rep, reported below
            problems, wall, fig = [f"rep raised {e!r}"], None, {}
        if problems:
            failed += 1
            log(f"rep {attempted} FAILED: {'; '.join(problems)}")
            break
        log(f"rep {attempted}: {wall:.3f} s {report['phase_wall_s']}")
        walls.append(wall)
        figs.append(fig)
    return walls, figs, attempted, failed


# ---------------------------------------------------------------------------
# modes
# ---------------------------------------------------------------------------

def end_to_end(make_session, wl, wd: str, seconds: float, t_start: float) -> dict:
    from perfbench.host import PeakRss

    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = make_session(None)
        build_s = time.perf_counter() - t0
        try:
            bench = Bench(spark, wl, wd)
            cold_s = bench.cold()
            log(f"setup: build_session {build_s:.3f} s, cold rep {cold_s:.3f} s")
            warm, _, attempted, failed = timed_reps(bench, 0.0, t_start, WARMUP_REPS)
            walls, figs = [], []
            if not failed:
                walls, figs, attempted, failed = timed_reps(bench, seconds, t_start, MIN_REPS)
        finally:
            stop_spark(spark)
    metrics = {}
    if walls:
        docs = sum(f["docs"] for f in figs)
        metrics = {
            "wall_s": statistics.median(walls),
            "docs_per_s": statistics.median(f["docs"] / w for w, f in zip(walls, figs)),
            "mb_per_s": statistics.median(f["bytes"] / 1e6 / w for w, f in zip(walls, figs)),
            "setup_s": build_s + cold_s,
            "worker_peak_rss_mb": rss.worker_peak / 1e6,
            "stored_bytes_per_input_byte": statistics.median(
                f["stored"] / wl.payload_bytes for f in figs
            ),
            "clean_doc_frac": 1.0 - sum(f["errors"] for f in figs) / docs,
            "ok_rep_frac": 1.0 - failed / attempted,
        }
    extra = {"warmup_walls_s": warm, "walls_s": walls, "build_session_s": build_s,
             "cold_rep_s": cold_s,
             "jvm_peak_rss_mb": rss.jvm_peak / 1e6}
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "extra": extra}


def traced(make_session, wl, wd: str, t_start: float) -> dict:
    from perfbench.attribution import EventLog, Spans

    evdir = os.path.join(wd, "eventlog")
    t0 = time.perf_counter()
    spark = make_session(evdir)
    build_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, wl, wd)
        cold = (time.time(), bench.cold(), time.time())
        walls, _, attempted, failed = timed_reps(bench, 0.0, t_start, UNTRACED_REPS)
        spans = Spans()
        if not failed:
            attempted += 1
            span_t0 = time.time()
            with spans.active():
                traced_wall, report = bench.rep(attempted)
            span_t1 = time.time()
            problems, fig = bench.check(report)
            if problems:
                failed += 1
                log(f"traced rep FAILED: {'; '.join(problems)}")
        if not failed:
            # the rep after the traced one brackets it with the rep before, so
            # the warm-up trend cancels out of trace.overhead_s
            after, _, n_after, failed = timed_reps(bench, 0.0, t_start, 1)
            attempted += n_after
            bracket = walls[-1:] + after
        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    finally:
        stop_spark(spark)
    if failed:
        return {"attempted": attempted, "failed": failed, "metrics": {}, "extra": {}}
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    ev = EventLog(logs[0])
    m = layer_metrics(
        ev, ev.window(cold[0], cold[2]), ev.window(span_t0, span_t1), spans, wl, bench,
        fig, traced_wall, batch_rows,
    )
    m["session.build_s"] = build_s
    m["trace.overhead_s"] = traced_wall - statistics.median(bracket)
    m.update(webextract_pass(wl))
    extra = {
        "untraced_walls_s": walls + bracket[1:],
        "traced_wall_s": traced_wall,
        "spans": [(s.name, round(s.dur, 4), s.parent) for s in spans.records],
    }
    return {"attempted": attempted, "failed": failed, "metrics": m, "extra": extra}


def layer_metrics(ev, cold, w, spans, wl, bench: Bench, fig, wall, batch_rows) -> Dict[str, float]:
    from perfbench.attribution import max_over_median, rows_per_batch

    inp = wl.input_path + "]"
    targets = {e.id: e.target for e in ev.executions.values()}

    def node(name, target=None, contains=""):
        return lambda m: (m.node == name and contains in m.detail
                          and (target is None or targets.get(m.execution) == target))

    def exch(pattern, tables=None):
        rx = re.compile(pattern)
        return lambda m: (m.node == "Exchange" and rx.search(m.detail) is not None
                          and (tables is None or targets.get(m.execution) in tables))

    scan_details: Dict[int, str] = {}
    for mt in ev.metrics.values():
        if mt.node.startswith("Scan parquet"):
            scan_details[mt.execution] = scan_details.get(mt.execution, "") + mt.detail

    def scans_table(ex_id, table):
        return f"/{table}]" in scan_details.get(ex_id, "")

    k_stages = w.stages_of("kernel:extracted", inp)
    kernel_s = sum(s.executor_s for s in k_stages)
    main_py = node("MapInArrow", "extracted")
    m: Dict[str, float] = {
        "kernel.py_start_s": cold.sql_total(
            node("MapInArrow"), "time to start Python workers") / 1e3,
        "kernel.executor_s": kernel_s,
        "kernel.py_run_s": w.sql_total(main_py, "time to run Python workers") / 1e3,
        "kernel.py_sent_mb": w.sql_total(main_py, "data sent to Python workers") / 1e6,
        "kernel.py_received_mb": w.sql_total(main_py, "data returned from Python workers") / 1e6,
    }

    # per-document extraction time, read back from the rows this rep wrote
    by_kind: Dict[str, List[int]] = {}
    for _, kind, us in fig["rows"]:
        by_kind.setdefault(kind, []).append(us)
    for raw, k in KINDS.items():
        m[f"kernel.extract_s.{k}"] = sum(by_kind.get(raw, [])) / 1e6
        m[f"kernel.extract_us_p99.{k}"] = p99(by_kind.get(raw, []))
    m["kernel.boundary_s"] = kernel_s - sum(sum(v) for v in by_kind.values()) / 1e6
    m["kernel.error_docs"] = len(by_kind.get("error", []))

    # the task-level input metric read the same few KB for a one-column and
    # a full scan of the input, so a scan counts the sizes of the files it opens
    scan_bytes = w.driver_total(
        "size of files read", lambda mt: mt.node.startswith("Scan parquet") and inp in mt.detail
    )
    write_stages = [s for s in w.stages if w.layer(s, inp).startswith("write:")]
    m.update({
        "io.scan.input_mb": scan_bytes / 1e6,
        "io.scan.passes": scan_bytes / wl.input_file_bytes,
        "io.write.executor_s": sum(s.executor_s for s in write_stages),
        "io.write.files": w.driver_total("number of written files"),
        "io.write.mb": w.driver_total("written output") / 1e6,
        "io.done_buckets.wall_s": spans.total("io.done_buckets"),
        "partitioning.hot_hosts.wall_s": spans.total("partitioning.hot_hosts"),
        "partitioning.kernel_task.max_over_median": max_over_median(
            [ms for s in k_stages for ms in s.run_ms]
        ),
        "pipeline.jobs": len(w.jobs),
        "pipeline.stages": len(w.stages),
        "pipeline.dedupe.shuffle_mb": w.sql_total(
            exch(r"hashpartitioning\(url#\d+,"), "shuffle bytes written") / 1e6,
        "pipeline.kernel_exchange.shuffle_mb": w.sql_total(
            exch(r"hashpartitioning\(url_bucket#\d+, salt#"), "shuffle bytes written") / 1e6,
        "pipeline.write_exchange.shuffle_mb": w.sql_total(
            exch(r"hashpartitioning\(url_bucket#\d+, \d+\)",
                 ("extracted", "doc_assets", "doc_tables")),
            "shuffle bytes written") / 1e6,
    })

    # Driver time: spans cover the eager public calls; queries run outside
    # every span (the lineage rollup's collect) are counted from the event
    # log; the rest of the traced wall is the pipeline's own driver time.
    top = spans.top_level()
    outside = [
        e for e in w.executions
        if not any(s.start - 0.01 <= e.start and e.end <= s.end + 0.01 for s in top)
    ]
    m["pipeline.driver_unattributed_s"] = (
        wall - sum(s.dur for s in top) - sum(e.dur for e in outside)
    )
    rollup = [e for e in w.executions if e.target is None and scans_table(e.id, "extracted")]
    lineage_ids = {e.id for e in rollup} | {
        e.id for e in w.executions
        if e.target in ("lineage", "snapshots") or scans_table(e.id, "snapshots")
    }
    m["lineage.rollup.wall_s"] = sum(e.dur for e in rollup)
    m["lineage.append.wall_s"] = (
        spans.total("lineage.append_lineage") + spans.total("lineage.append_snapshot")
    )
    m["lineage.jobs"] = sum(1 for j in w.jobs if j[2] in lineage_ids)

    # catalog arms: the dual kernel is the main kernel emitting markdown
    dual = w.sql_total(
        node("MapInArrow", "extracted", "extracted_md"), "number of output rows") > 0
    prefilter = lambda mt: (mt.node == "Filter" and "255044462D" in mt.detail
                            and targets.get(mt.execution) in ("doc_assets", "doc_tables"))
    arms = sum(1 for e in w.executions if e.target in ("doc_assets", "doc_tables"))
    filter_rows = w.sql_total(prefilter, "number of output rows")
    m.update({
        "catalog.dual.executor_s": kernel_s if dual else 0.0,
        "catalog.assets.executor_s": sum(
            s.executor_s for s in w.stages_of("kernel:doc_assets", inp)),
        "catalog.tables.executor_s": sum(
            s.executor_s for s in w.stages_of("kernel:doc_tables", inp)),
        "catalog.prefilter.rows_in_frac": (
            filter_rows / (arms * len(wl.oracle)) if arms else 0.0),
        "catalog.prefilter.rows_per_batch": rows_per_batch(
            w.sql_per_task(prefilter, "number of output rows"), batch_rows),
        "catalog.assets.rows_out": _count_rows(os.path.join(bench.out, "doc_assets")),
        "catalog.tables.rows_out": _count_rows(os.path.join(bench.out, "doc_tables")),
    })
    return m


def _count_rows(path: str) -> int:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def webextract_pass(wl) -> Dict[str, float]:
    """Single-process timings of the extraction core per document, and of
    the HTML parser's phases. A phase function that no longer exists
    reads 0."""
    from corsearch_project_spark.fixtures.gen_pages import default_rules
    from corsearch_project_spark.webextract import htmlx
    from corsearch_project_spark.webextract.extract import extract_document
    from corsearch_project_spark.webextract.rules import rule_for_url
    from corsearch_project_spark.webextract.textnorm import decode_bytes

    rules = default_rules()
    us: Dict[str, List[float]] = {k: [] for k in KINDS.values()}
    cpu: Dict[str, float] = {k: 0.0 for k in KINDS.values()}
    html_kb = 0.0
    phases = {"tokenize_s": 0.0, "build_dom_s": 0.0, "blocks_s": 0.0}
    tokenize = getattr(htmlx, "tokenize", None)
    build_dom = getattr(htmlx, "build_dom", None)
    from_dom = getattr(htmlx, "extract_html_from_dom", None)
    for d in wl.docs:
        rule = rule_for_url(d["url"], rules)
        c0, t0 = time.process_time(), time.perf_counter()
        r = extract_document(d["url"], d["html"], d["text"], rule)
        t1, c1 = time.perf_counter(), time.process_time()
        kind = KINDS.get(r.doc_kind)
        if kind is None:
            continue
        us[kind].append((t1 - t0) * 1e6)
        cpu[kind] += c1 - c0
        if kind == "html":
            html_kb += len(d["html"]) / 1024
            if tokenize and build_dom and from_dom:
                src = decode_bytes(d["html"], rule.charset_override)
                a = time.perf_counter()
                toks = tokenize(src)
                b = time.perf_counter()
                dom = build_dom(toks)
                c = time.perf_counter()
                from_dom(dom, rule)
                phases["tokenize_s"] += b - a
                phases["build_dom_s"] += c - b
                phases["blocks_s"] += time.perf_counter() - c
    out: Dict[str, float] = {}
    for k, v in us.items():
        out[f"webextract.{k}.us_p50"] = statistics.median(v) if v else 0.0
        out[f"webextract.{k}.us_p99"] = p99(v)
        out[f"webextract.{k}.us_max"] = max(v) if v else 0.0
        out[f"webextract.{k}.cpu_s"] = cpu[k]
    out["webextract.html.us_per_kb"] = sum(us["html"]) / html_kb if html_kb else 0.0
    out.update({f"webextract.html.{k}": v for k, v in phases.items()})
    return out


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def host_info(master: str) -> dict:
    import platform

    import pyarrow
    import pyspark

    from perfbench.host import nproc

    return {
        "nproc": nproc(),
        "master": master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the smoke check runs tiny corpora)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "corsearch_project_spark")):
        print(f"error: no corsearch_project_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from corsearch_project_spark.plans.session import build_session
    from perfbench import workloads
    from perfbench.host import nproc

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    wd = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    # Spark and Python scratch files stay in the work dir; SPARK_LOCAL_DIRS
    # would override spark.local.dir, so it is set too.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(wd, "spark-local")
    os.environ["TMPDIR"] = os.path.join(wd, "tmp")

    wl = workloads.build(args.workload, args.seed, wd, args.scale)
    master = f"local[{nproc()}]"

    def make_session(eventlog):
        return build_session("perfbench", master=master, extra=session_conf(wd, eventlog))

    if args.trace:
        res = traced(make_session, wl, wd, t_start)
        units = LAYER_UNITS
    else:
        res = end_to_end(make_session, wl, wd, args.seconds, t_start)
        units = E2E_UNITS
    correct = res["failed"] == 0 and set(res["metrics"]) == set(units)
    record = {"host": host_info(master), "workload": wl.info(), "trace": args.trace,
              "run_s": time.monotonic() - t_start, **res["extra"]}
    result = {
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(res["metrics"].items())},
    }
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**record, "result": result}, f, indent=1, default=str)
    shutil.rmtree(wd, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    if not correct:
        log("result is not correct; exiting non-zero")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
