"""Serial core pass: the real ``FullTextParser.parse_offline`` run in the
benchmark process over each workload's unique pages.

It yields the expected output of every url (the correctness gate's
reference); untraced runs spread it over forked processes.  Traced, each
page runs serially twice, plain and with every core layer wrapped (see
``trace.core_targets``), which yields the ``core.*`` per-doc timings, the
per-layer self times, counts and the tracing overhead.
"""

from __future__ import annotations

import calendar
import multiprocessing
import statistics
import time

from article_extractor_spark.core.charset import decode_html
from article_extractor_spark.core.urlutil import Url, UrlError

from . import trace

NULL_ROW = (None, None, None, None, None)


def date_micros(d) -> int | None:
    """The operator stores ``date.replace(tzinfo=None)``; Spark reads it
    back as UTC, so compare as UTC microseconds since the epoch."""
    if d is None:
        return None
    d = d.replace(tzinfo=None)
    return calendar.timegm(d.timetuple()) * 1_000_000 + d.microsecond


def _decoded(page, charset: bool) -> str:
    """The html string the operator hands to the core for this page:
    ``extract_bytes`` sniffs the charset, ``extract`` decodes UTF-8 with
    replacement."""
    if charset:
        return decode_html(page.body, page.content_type)[0]
    return page.body.decode("utf-8", "replace")


def _extract(parser, url: str, html: str) -> tuple:
    """One document exactly as ``operators.extract._extract_rows`` does it:
    a hard failure becomes an all-null row."""
    try:
        u = Url.parse(url)
    except UrlError:
        u = None
    try:
        art = parser.parse_offline([html], url=u)
    except Exception:  # noqa: BLE001 - mirrors the operator's contract
        return NULL_ROW
    return (art.title, art.author, date_micros(art.date), art.thumbnail_url,
            art.html)


def run(parser, pages, charset: bool) -> tuple[dict, list[float]]:
    """Untraced pass -> ({page key: expected row}, per-doc ms)."""
    expected, doc_ms = {}, []
    for p in pages:
        t0 = time.perf_counter()
        html = _decoded(p, charset)
        expected[p.key] = _extract(parser, p.key, html)
        doc_ms.append((time.perf_counter() - t0) * 1e3)
    return expected, doc_ms


_FORKED = None     # (parser, pages, charset) inherited by run_parallel's workers


def _expected_at(i: int) -> tuple:
    parser, pages, charset = _FORKED
    return _extract(parser, pages[i].key, _decoded(pages[i], charset))


def run_parallel(parser, pages, charset: bool, procs: int = 4) -> dict:
    """{page key: expected row}, as :func:`run` computes it, over ``procs``
    forked processes (for untraced runs, which need no timings).  Fork
    before the JVM starts."""
    global _FORKED
    _FORKED = (parser, pages, charset)
    try:
        with multiprocessing.get_context("fork").Pool(procs) as pool:
            rows = pool.map(_expected_at, range(len(pages)), chunksize=1)
            pool.close()
            pool.join()
    finally:
        _FORKED = None
    return {p.key: r for p, r in zip(pages, rows)}


def run_traced(parser, pages, charset: bool):
    """Each page untraced and traced with every core layer wrapped, back
    to back, so both timings see the same machine state.  Returns
    (expected rows, untraced per-doc ms, recorder with one ``core.doc``
    root span per page, traced per-doc ms)."""
    rec = trace.Recorder()
    decode = rec.wrap("charset.decode", _decoded) if charset else _decoded
    targets = trace.core_targets(rec)
    expected, doc_ms = {}, []
    traced_ms = []

    def untraced(p):
        t0 = time.perf_counter()
        expected[p.key] = _extract(parser, p.key, _decoded(p, charset))
        doc_ms.append((time.perf_counter() - t0) * 1e3)

    def traced(p):
        with trace.patched(targets):
            rec.owner = p.key
            sid = rec.begin("core.doc")
            try:
                _extract(parser, p.key, decode(p, charset))
            finally:
                rec.end(sid)
        return rec.spans[sid][3] - rec.spans[sid][2]

    # the second run of a page is faster (warm caches): alternate the order
    for i, p in enumerate(pages):
        if i % 2:
            traced_ms.append(traced(p) / 1e6)
            untraced(p)
        else:
            untraced(p)
            traced_ms.append(traced(p) / 1e6)
    return expected, doc_ms, rec, traced_ms


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, -(-len(v) * q // 100) - 1))
    return v[int(k)]


def count_nodes(pages, charset: bool) -> int:
    """DOM nodes of every page, from a separate untimed parse."""
    from article_extractor_spark.core.dom import parse_html

    total = 0
    for p in pages:
        try:
            root = parse_html(_decoded(p, charset)).get_root_element()
        except RecursionError:
            continue
        stack = [root] if root is not None else []
        while stack:
            n = stack.pop()
            total += 1
            stack.extend(n.children)
    return total


def layer_metrics(rec: trace.Recorder, traced_ms: list[float],
                  untraced_ms: list[float], n_nodes: int) -> dict[str, float]:
    """Per-layer metrics of the serial pass (ms values are per doc)."""
    n_docs = len(untraced_ms)
    self_ns = rec.self_ns()
    out = {metric: self_ns.get(span, 0) / 1e6 / n_docs
           for span, metric in trace.CORE_SPANS.items()}
    out["core.other_ms"] = self_ns.get("core.doc", 0) / 1e6 / n_docs
    out["core.traced_ms_per_doc"] = sum(traced_ms) / n_docs
    untraced_total = sum(untraced_ms)
    out["core.ms_per_doc"] = untraced_total / n_docs
    out["core.doc_ms_p50"] = percentile(untraced_ms, 50)
    out["core.doc_ms_tail"] = percentile(untraced_ms, 99)
    c = rec.counts
    out["xpath.evals"] = c["xpath_evals"] / n_docs
    out["readability.attempts"] = (c["readability_passes"] / c["readability_docs"]
                                   if c["readability_docs"] else 0.0)
    out["fulltext.ftr_hit_frac"] = c["ftr_hits"] / n_docs
    out["dom.nodes"] = n_nodes / n_docs
    # 1 - traced docs/s / untraced docs/s, per doc; the median keeps a few
    # large pages' garbage collection from deciding it
    out["trace.overhead"] = statistics.median(
        1.0 - u / t for u, t in zip(untraced_ms, traced_ms))
    return out
