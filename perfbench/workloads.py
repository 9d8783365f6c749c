"""Seeded inputs, the single-process oracle and the correctness gate.

Every input is a pure function of (workload, seed) and is written as a
multi-file Parquet pages table. The oracle runs the extraction core in this
process, once per seed, and the gate compares each committed table against
it after every timed rep. Nothing here is timed.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from corsearch_project_spark.fixtures.gen_pages import (
    HOSTS,
    _EPOCH,
    default_rules,
    gen_pages,
    make_docx,
    make_html,
    pages_to_pandas,
)
from corsearch_project_spark.webextract.rules import rule_for_url

WORKLOADS = ("crawl_mix", "large_pages", "resume_tail", "crawl_catalog")

# One run of a listed workload costs 50-75 s on a busy 4-core host, about
# half of it Spark start-up and the cold rep; the regression check makes 22
# runs per workload within a fixed time budget (see METRICS.md).
BUCKETS = 16
SALT = 8  # jobs/run_extract.py's --salt default
INPUT_FILES = 8
CRAWL_DOCS = 2000
LARGE_PAGES = 400
DOCX_FRAC = 0.08
PENDING_BUCKETS = BUCKETS // 8
_WORDS = ("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta")


@dataclass
class Workload:
    name: str
    seed: int
    input_path: str
    rows: int
    payload: Dict[str, int]  # url -> payload bytes (html + utf-8 text) of its latest row
    input_file_bytes: int
    kind_mix: Dict[str, int]
    oracle: Dict[str, Tuple[str, str, Optional[str]]]  # url -> (kind, text sha, md sha)
    assets: Dict[str, tuple] = field(default_factory=dict)
    tables: Dict[str, list] = field(default_factory=dict)
    docs: List[dict] = field(default_factory=list)  # deduplicated input rows
    pending: List[int] = field(default_factory=list)  # resume_tail only

    @property
    def payload_bytes(self) -> int:
        return sum(self.payload.values())

    @property
    def catalog(self) -> bool:
        return self.name == "crawl_catalog"

    @property
    def resume(self) -> bool:
        return self.name == "resume_tail"

    def info(self) -> dict:
        return {
            "workload": self.name,
            "seed": self.seed,
            "rows": self.rows,
            "docs": len(self.oracle),
            "payload_mb": round(self.payload_bytes / 1e6, 3),
            "kind_mix": self.kind_mix,
        }


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

_ARTICLE_RE = re.compile(rb"<article>(.*)</article>", re.S)


def _large_page(seed: int, i: int) -> dict:
    """One HTML page of 50-75 KB: the content blocks of several fixture
    pages, wrapped in script, style and navigation bulk that the extractor
    must tokenize and then strip."""
    rng = random.Random((seed << 24) ^ (0xB16 + i))
    host = rng.choices(HOSTS, weights=[50, 14, 9, 7, 5, 4, 4, 3, 2, 2], k=1)[0]
    target = rng.randint(50_000, 75_000)
    script = "".join(
        f"function f{k}(a,b){{return a.{rng.choice(_WORDS)}+b*{k};}}\n" for k in range(300)
    )
    style = "".join(f".c{k}{{margin:{k}px;color:#{k:06x}}}\n" for k in range(200))
    nav = "".join(
        f'<li><a href="/{rng.choice(_WORDS)}/{k}">{rng.choice(_WORDS)}</a></li>' for k in range(120)
    )
    articles: List[bytes] = []
    size = len(script) + len(style) + len(nav)
    while size < target - 2_000:
        m = _ARTICLE_RE.search(make_html(rng))
        block = m.group(1) if m else b""
        articles.append(block)
        size += len(block) + 40
    body = b"".join(b"<section>" + a + b"</section>" for a in articles)
    doc = (
        f"<!doctype html><html><head><title>Page {i}</title>"
        f"<style>{style}</style><script>{script}</script></head><body>"
        f"<nav><ul>{nav}</ul></nav>"
        '<div class="story-body"><article>'
    ).encode() + body + b"</article></div><footer>&copy; 2024</footer></body></html>"
    return {
        "url": f"https://{host}/long/{rng.choice(_WORDS)}/{i}",
        "warc_ts": _EPOCH,
        "html": doc,
        "text": None,
        "lang": "en",
    }


def _docx_rows(seed: int, n: int) -> List[dict]:
    rows = []
    for i in range(n):
        rng = random.Random((seed << 22) ^ (0xD0C + i))
        host = HOSTS[i % len(HOSTS)]
        rows.append(
            {
                "url": f"https://{host}/files/{rng.choice(_WORDS)}-{i}.docx",
                "warc_ts": _EPOCH,
                "html": make_docx(rng),
                "text": None,
                "lang": "en",
            }
        )
    return rows


def generate_rows(name: str, seed: int, scale: float = 1.0) -> List[dict]:
    if name == "large_pages":
        return [_large_page(seed, i) for i in range(max(1, int(LARGE_PAGES * scale)))]
    n = max(8, int(CRAWL_DOCS * scale))
    rows = gen_pages(n, seed=seed, skew="heavy", dup_frac=0.05)
    if name == "crawl_catalog":
        rows += _docx_rows(seed, max(1, int(n * DOCX_FRAC)))
    return rows


def write_input(rows: List[dict], path: str) -> int:
    """Write ``rows`` as INPUT_FILES Parquet files; returns bytes on disk.
    Timestamps are coerced to microseconds, which Spark's reader needs."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pages_to_pandas(rows), preserve_index=False)
    per = -(-len(rows) // INPUT_FILES)
    for f in range(INPUT_FILES):
        pq.write_table(
            table.slice(f * per, per),
            os.path.join(path, f"part-{f:04d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet")))


def latest_wins(rows: List[dict]) -> List[dict]:
    """Single-process form of the pipeline's dedupe: latest warc_ts per url,
    then the larger payload, then the fallback text."""
    best: Dict[str, dict] = {}
    for r in rows:
        key = (r["warc_ts"], len(r["html"] or b""), r["text"] is not None, r["text"] or "")
        cur = best.get(r["url"])
        if cur is None or key > cur[0]:
            best[r["url"]] = (key, r)
    return [v[1] for v in best.values()]


# ---------------------------------------------------------------------------
# buckets
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit value: Spark's ``xxhash64`` of a
    string column (seed 42, over its UTF-8 bytes)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def url_bucket(url: str, buckets: int = BUCKETS) -> int:
    """``operators.partitioning.with_url_bucket``: pmod(xxhash64(url), B)."""
    return xxhash64(url.encode("utf-8")) % buckets


def pending_buckets(urls: List[str], seed: int) -> List[int]:
    """The buckets resume_tail leaves uncommitted: a seeded pick among the
    PENDING_BUCKETS-sets whose document count is nearest to their share of
    the corpus, so every seed resumes about the same number of documents."""
    from itertools import combinations

    per = [0] * BUCKETS
    for u in urls:
        per[url_bucket(u)] += 1
    target = len(urls) * PENDING_BUCKETS / BUCKETS
    sets = sorted(combinations(range(BUCKETS), PENDING_BUCKETS),
                  key=lambda c: abs(sum(per[b] for b in c) - target))
    return list(random.Random(seed).choice(sets[:8]))


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------

def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _oracle_doc(doc: dict, rules, dual: bool) -> Tuple[str, str, Optional[str]]:
    """The kernel's contract for one document, including its poison-document
    guard: a raising document becomes an 'error' row with the digest of ''."""
    from corsearch_project_spark.webextract.extract import (
        extract_document,
        extract_document_both,
    )

    rule = rule_for_url(doc["url"], rules)
    try:
        if dual:
            r, _, md_sha = extract_document_both(doc["url"], doc["html"], doc["text"], rule)
            return r.doc_kind, r.text_sha256, md_sha
        r = extract_document(doc["url"], doc["html"], doc["text"], rule)
        return r.doc_kind, r.text_sha256, None
    except Exception:
        return "error", _sha(""), (_sha("") if dual else None)


def _oracle_assets(data: bytes) -> Optional[tuple]:
    from corsearch_project_spark.webextract.docxx import docx_assets_probe
    from corsearch_project_spark.webextract.pdfx import extract_pdf_assets
    from corsearch_project_spark.webextract.sniff import sniff_kind

    kind = sniff_kind(data)
    if kind == "pdf":
        a = extract_pdf_assets(data)
    elif kind == "zip":
        cp = docx_assets_probe(data)
        if cp is None:
            return None
        kind, a = "docx", {**cp, "producer": None, "links": [], "outline": []}
    else:
        return None
    return (
        kind,
        *(a[k] for k in ("title", "author", "subject", "producer", "created")),
        tuple((int(p), u) for p, u in a["links"]),
        tuple((int(d), t) for d, t in a["outline"]),
    )


def _oracle_tables(data: bytes) -> list:
    from corsearch_project_spark.webextract.docxx import docx_tables
    from corsearch_project_spark.webextract.pdfx import pdf_tables
    from corsearch_project_spark.webextract.sniff import sniff_kind

    kind = sniff_kind(data)
    if kind == "zip":
        kind, tables = "docx", docx_tables(data)
    elif kind == "pdf":
        tables = pdf_tables(data)
    else:
        return []
    return sorted(
        (kind, t["page"], t_i, r_i, t["n_cols"], "|".join(row))
        for t_i, t in enumerate(tables)
        for r_i, row in enumerate(t["rows"])
    )


def build(name: str, seed: int, workdir: str, scale: float = 1.0) -> Workload:
    """Generate the workload's input under ``workdir`` and its oracle."""
    rows = generate_rows(name, seed, scale)
    input_path = os.path.join(workdir, "input")
    file_bytes = write_input(rows, input_path)
    rules = default_rules()
    docs = latest_wins(rows)
    catalog = name == "crawl_catalog"
    oracle = {d["url"]: _oracle_doc(d, rules, catalog) for d in docs}
    mix: Dict[str, int] = {}
    for kind, _, _ in oracle.values():
        mix[kind] = mix.get(kind, 0) + 1
    wl = Workload(
        name=name,
        seed=seed,
        input_path=input_path,
        rows=len(rows),
        payload={d["url"]: len(d["html"] or b"") + len((d["text"] or "").encode()) for d in docs},
        input_file_bytes=file_bytes,
        kind_mix=dict(sorted(mix.items())),
        oracle=oracle,
        docs=docs,
    )
    if catalog:
        for d in docs:
            data = d["html"] or b""
            a = _oracle_assets(data)
            if a is not None:
                wl.assets[d["url"]] = a
            t = _oracle_tables(data)
            if t:
                wl.tables[d["url"]] = t
    if name == "resume_tail":
        wl.pending = pending_buckets(list(oracle), seed)
    return wl


# ---------------------------------------------------------------------------
# gate
# ---------------------------------------------------------------------------

def _read(path: str, columns: List[str]) -> Optional[pa.Table]:
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def read_extracted(out: str, catalog: bool) -> Optional[pa.Table]:
    cols = ["url", "doc_kind", "text_sha256", "extract_us", "url_bucket"]
    return _read(os.path.join(out, "extracted"), cols + (["md_sha256"] if catalog else []))


def gate(wl: Workload, out: str) -> Tuple[List[str], Optional[pa.Table]]:
    """Compare the committed tables under ``out`` with the oracle. Returns
    (problems, extracted table); an empty list means the rep is correct."""
    problems: List[str] = []
    ext = read_extracted(out, wl.catalog)
    if ext is None:
        return ["no extracted table"], None
    urls = ext.column("url").to_pylist()
    got = dict(zip(urls, zip(ext.column("doc_kind").to_pylist(),
                             ext.column("text_sha256").to_pylist(),
                             ext.column("md_sha256").to_pylist() if wl.catalog
                             else [None] * len(urls))))
    if len(urls) != len(got):
        problems.append(f"{len(urls) - len(got)} duplicate urls in extracted")
    if set(got) != set(wl.oracle):
        problems.append(
            f"url sets differ: {len(set(wl.oracle) - set(got))} missing, "
            f"{len(set(got) - set(wl.oracle))} unexpected"
        )
    bad = [u for u, v in wl.oracle.items() if u in got and got[u] != v]
    if bad:
        problems.append(f"{len(bad)} digest mismatches, e.g. {bad[0]}")

    lin = _read(os.path.join(out, "lineage"), ["url_bucket", "doc_count"])
    buckets = lin.column("url_bucket").to_pylist() if lin is not None else []
    if sorted(buckets) != sorted(set(ext.column("url_bucket").to_pylist())):
        problems.append(f"lineage rows {len(buckets)} do not cover the buckets one each")
    if lin is not None and sum(lin.column("doc_count").to_pylist()) != len(set(urls)):
        problems.append("lineage doc_count does not sum to the distinct urls")

    if wl.catalog:
        problems += _gate_catalog(wl, out)
    return problems, ext


def _gate_catalog(wl: Workload, out: str) -> List[str]:
    problems = []
    at = _read(os.path.join(out, "doc_assets"), ["url", "kind", "title", "author", "subject",
                                                  "producer", "created", "links", "outline"])
    got_assets = {}
    for r in (at.to_pylist() if at is not None else []):
        got_assets[r["url"]] = (
            r["kind"], r["title"], r["author"], r["subject"], r["producer"], r["created"],
            tuple((x["page"], x["uri"]) for x in r["links"]),
            tuple((x["depth"], x["title"]) for x in r["outline"]),
        )
    if got_assets != wl.assets:
        diff = set(got_assets.items()) ^ set(wl.assets.items())
        problems.append(f"doc_assets differ from the oracle on {len(diff)} rows")
    tt = _read(os.path.join(out, "doc_tables"),
               ["url", "kind", "page", "table_idx", "row_idx", "n_cols", "cells"])
    got_tables: Dict[str, list] = {}
    for r in (tt.to_pylist() if tt is not None else []):
        got_tables.setdefault(r["url"], []).append(
            (r["kind"], r["page"], r["table_idx"], r["row_idx"], r["n_cols"], r["cells"])
        )
    got_tables = {u: sorted(v) for u, v in got_tables.items()}
    if got_tables != wl.tables:
        problems.append(
            f"doc_tables differ from the oracle on "
            f"{len(set(got_tables) ^ set(wl.tables)) or 'some'} urls"
        )
    return problems


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's .crc side files and
    _SUCCESS markers excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total
