"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed and writes its inputs under the run's work
directory; the program under test only ever sees those generated files.
Nothing is downloaded and nothing outside the checkout is read: the
synthetic ``documents`` table is generated here in the shape of the
repository's ``sf`` tables, and the real pages come from the golden
fixtures tracked under ``tests/fixtures/``.

Each generator returns a list of :class:`Page` — one per *unique* page,
with the urls of all its replicas — so the serial core pass runs each
unique page once and the Spark output of every replica is checked against
it.  Replicas differ only in a ``?r=`` query suffix, which the extraction
output does not depend on (the correctness gate would catch it if it did).
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# word list of the repository's synthetic ``documents`` tables
VOCAB = ("a the data spark line column order small sort fast value scan hash "
         "slow group agg filter batch part vector query table key join merge "
         "window stream big customer row").split()
SOURCES = [f"src{i}" for i in range(20)]
LANGS = ["en", "fr", "de", "es", "zh"]

FTR_HOSTS = {"golem": "golem.de", "phoronix": "phoronix.com",
             "youtube": "youtube.com", "hardwareluxx": "hardwareluxx.de",
             "heise-1": "heise.de", "spiegel-1": "spiegel.de"}

# legacy charsets for the WARC workload, each with words it can encode
LEGACY_WORDS = {
    "windows-1252": ["café", "naïve", "über", "façade", "señor"],
    "iso-8859-2": ["żółw", "łódź", "český", "węgiel"],
    "koi8-r": ["привет", "мир", "новости", "город"],
    "windows-1251": ["статья", "текст", "новости"],
    "shift_jis": ["日本語", "東京", "記事"],
    "gbk": ["中文", "北京", "新闻"],
}
UTF8_WORDS = ["naïve", "Grüße", "żółw", "привет", "日本語", "中文"]
NON_200 = [(404, "Not Found"), (301, "Moved Permanently"),
           (500, "Internal Server Error"), (410, "Gone")]


@dataclass
class Page:
    """One unique input page and the urls of its replicas."""
    key: str                      # base url; the serial pass runs this one
    body: bytes                   # bytes as the program receives them
    urls: list[str] = field(default_factory=list)
    content_type: str | None = None   # HTTP Content-Type (WARC only)
    status: int = 200                 # HTTP status (WARC only)
    expected_html: str | None = None  # golden output, ftr fixtures only
    kind: str = "page"


def _replica_urls(base: str, tag: str, replicas: int) -> list[str]:
    return [f"{base}?r={tag}-{k}" for k in range(replicas)]


def _text(rng: random.Random) -> str:
    """A documents.text value: 44..577 chars of vocabulary words."""
    target = rng.randint(44, 577)
    words: list[str] = []
    n = 0
    while n < target:
        w = rng.choice(VOCAB)
        words.append(w)
        n += len(w) + 1
    return " ".join(words)[:target].rstrip()


def deep_page(depth: int, tag: str) -> bytes:
    """Nesting far past libxml2's 256-level cap."""
    return ("<!DOCTYPE html><html><head><title>Deep " + tag + "</title></head>"
            "<body>" + "<div>" * depth
            + "<p>Deeply nested text, with commas, to score.</p>"
            + "</div>" * depth + "</body></html>").encode()


def hostile_pages(rng: random.Random, tag: str, n_failing: int,
                  host: str = "hostile.example.com") -> list[Page]:
    """``n_failing`` pages nested 1200..3000 deep.  Today the core raises
    ``RecursionError`` on these and the operator emits an all-null row,
    which gives ``failed_frac`` a measured non-zero base."""
    out = []
    for i in range(n_failing):
        base = f"https://{host}/deep/{tag}/{i}"
        out.append(Page(base, deep_page(rng.randint(1200, 3000), f"{tag}-{i}"),
                        [base], kind="deep"))
    return out


def synth_documents(seed: int, n_docs: int, sf_dir: str) -> list[dict]:
    """Write ``{sf_dir}/documents.parquet`` (doc_id, text, lang, source,
    n_chars) — the table ``sources.pages.synthesize_pages`` reads."""
    rng = random.Random(seed)
    first = rng.randrange(1_000_000) * 10
    rows = []
    for i in range(n_docs):
        text = _text(rng)
        rows.append({"doc_id": first + i, "text": text,
                     "lang": rng.choice(LANGS), "source": rng.choice(SOURCES),
                     "n_chars": len(text)})
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(sf_dir, "documents.parquet"))
    return rows


def synth_narrow(seed: int, n_docs: int, replicas: int, n_failing: int,
                 sf_dir: str) -> tuple[list[Page], str]:
    """Unique synthetic pages (replicated in Spark by the workload) plus
    the hostile pages.  Returns (pages, replica url tag)."""
    from article_extractor_spark.sources.pages import synthesize_page_py

    tag = f"{seed:x}"
    pages = []
    for r in synth_documents(seed, n_docs, sf_dir):
        url, html = synthesize_page_py(r["doc_id"], r["text"], r["source"])
        pages.append(Page(url, html.encode("utf-8"),
                          _replica_urls(url, tag, replicas)))
    pages += hostile_pages(random.Random(seed ^ 0xD1), tag, n_failing)
    return pages, tag


def _inject_bad_bytes(rng: random.Random, body: bytes, count: int) -> bytes:
    """Insert undecodable UTF-8 sequences at seeded positions inside text
    runs (between '>' and '<'), never inside markup."""
    positions = [i for i in range(1, len(body)) if body[i - 1:i] == b">"]
    picks = sorted(rng.sample(positions, min(count, len(positions))),
                   reverse=True)
    out = bytearray(body)
    for i in picks:
        out[i:i] = rng.choice([b"\xff\xfe", b"\xc3\x28", b"\xed\xa0\x80",
                               b"\x80\x81\x82"])
    return bytes(out)


def real_pages(seed: int, fixture_dir: str, replicas: int,
               n_failing: int, n_bad_bytes: int, table_dir: str) -> list[Page]:
    """All readability and ftr golden fixtures under seeded urls, plus
    hostile pages; writes the replicated (url, html) table as parquet."""
    rng = random.Random(seed)
    tag = f"{seed:x}"
    pages: list[Page] = []
    rd_dir = os.path.join(fixture_dir, "readability")
    for name in sorted(os.listdir(rd_dir)):
        with open(os.path.join(rd_dir, name, "source.html"), "rb") as f:
            body = f.read()
        base = f"http://fakehost/test/{name}/"
        pages.append(Page(base, body, _replica_urls(base, tag, replicas)))
    for name, host in sorted(FTR_HOSTS.items()):
        d = os.path.join(fixture_dir, "ftr", name)
        with open(os.path.join(d, "source.html"), "rb") as f:
            body = f.read()
        with open(os.path.join(d, "expected.html"), "rb") as f:
            expected = f.read().decode("utf-8")
        base = f"https://www.{host}/"
        pages.append(Page(base, body, _replica_urls(base, tag, replicas),
                          expected_html=expected, kind="ftr"))
    # undecodable bytes: seeded small fixtures with broken UTF-8 inside text
    small = [p for p in pages[:-len(FTR_HOSTS)] if len(p.body) < 60_000]
    for i, src in enumerate(rng.sample(small, n_bad_bytes)):
        base = f"http://fakehost/test/bad-bytes-{tag}-{i}/"
        pages.append(Page(base, _inject_bad_bytes(rng, src.body, 8),
                          _replica_urls(base, tag, replicas), kind="bad_bytes"))
    pages += hostile_pages(rng, tag, n_failing)

    rows = [(u, p.body) for p in pages for u in p.urls]
    rng.shuffle(rows)
    os.makedirs(table_dir, exist_ok=True)
    pq.write_table(pa.table({"url": [u for u, _ in rows],
                             "html": pa.array([b for _, b in rows], pa.binary())}),
                   os.path.join(table_dir, "pages.parquet"))
    return pages


def _http_head(status: int, reason: str, content_type: str) -> bytes:
    return (f"HTTP/1.1 {status} {reason}\r\nContent-Type: {content_type}\r\n"
            "\r\n").encode("latin-1")


def warc_segments(seed: int, n_pages: int, n_segments: int, legacy_share: float,
                  non200_share: float, n_failing: int, docs_dir: str,
                  seg_dir: str) -> list[Page]:
    """gzip'd WARC segments of unequal size built with
    ``sources.warc.build_warc``: synthetic pages, a seeded share re-encoded
    into a legacy charset (declared in the HTTP Content-Type or only in
    ``<meta>``), a seeded share of non-200 responses, and hostile pages."""
    from article_extractor_spark.sources.pages import synthesize_page_py
    from article_extractor_spark.sources.warc import build_warc

    rng = random.Random(seed)
    docs = synth_documents(seed, n_pages, docs_dir)
    # fixed counts, seeded choice: every seed has the same mix
    legacy = set(rng.sample(range(n_pages), round(legacy_share * n_pages)))
    non200 = set(rng.sample(range(n_pages), round(non200_share * n_pages)))
    pages: list[Page] = []
    first_html = None
    for i, r in enumerate(docs):
        charset = "utf-8"
        words = UTF8_WORDS
        if i in legacy:
            charset = rng.choice(sorted(LEGACY_WORDS))
            words = LEGACY_WORDS[charset]
        text = r["text"] + " " + " ".join(rng.choice(words) for _ in range(6))
        url, html = synthesize_page_py(r["doc_id"], text, r["source"])
        first_html = first_html or html
        in_header = rng.random() < 0.5
        if not in_header:
            html = html.replace("<head>", f'<head><meta charset="{charset}">', 1)
        ctype = f"text/html; charset={charset}" if in_header else "text/html"
        status = rng.choice(NON_200)[0] if i in non200 else 200
        pages.append(Page(url, html.encode(charset), [url], content_type=ctype,
                          status=status, kind=f"charset:{charset}"))
    for p in hostile_pages(rng, f"{seed:x}", n_failing):
        p.content_type = "text/html; charset=utf-8"
        pages.append(p)
    # one page declared utf-8 whose body carries undecodable bytes
    bad_url = pages[0].key + "-bad-bytes"
    pages.append(Page(bad_url, _inject_bad_bytes(rng, first_html.encode(), 8),
                      [bad_url], content_type="text/html; charset=utf-8",
                      kind="bad_bytes"))

    order = list(range(len(pages)))
    rng.shuffle(order)
    # unequal segments: sizes proportional to 1, 2, 4, ...
    weights = [2 ** i for i in range(n_segments)]
    total = sum(weights)
    cuts, acc = [], 0
    for w in weights:
        acc += w
        cuts.append(round(len(order) * acc / total))
    os.makedirs(seg_dir, exist_ok=True)
    start = 0
    reasons = dict(NON_200)
    for s, end in enumerate(cuts):
        recs = []
        for i in order[start:end]:
            p = pages[i]
            head = _http_head(p.status, reasons.get(p.status, "OK"),
                              p.content_type)
            recs.append((p.urls[0], "2024-01-01T00:00:00Z", head + p.body))
        with open(os.path.join(seg_dir, f"segment-{s:05d}.warc.gz"), "wb") as f:
            f.write(gzip.compress(build_warc(recs, with_http_head=False),
                                  compresslevel=6))
        start = end
    return pages
