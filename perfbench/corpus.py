"""Seeded corpus generators for the benchmark workloads, with a cache.

Each workload's corpus is a pure function of (workload, seed,
GENERATOR_VERSION): the same seed gives the same bytes, and a corpus is
cached under ``<cache>/<workload>/seed-<seed>-v<version>/`` so repeated runs
skip generation.  Generation happens before the benchmark creates its Spark
session, so it is outside both ``setup_s`` and the timed region.

The program under test only ever sees the input files under ``pages/``
(parquet files, or tar shards for ``archive_mixed``).  The known answers the
oracle needs (golden PDF page texts, which documents were deliberately
corrupted, each archive member's expected type and text) go to
``answers.parquet``, which the program never reads.

Layouts:

* ``crawl_html``: a many-file parquet table with the pages schema (url,
  warc_ts, html, text, lang).
* ``archive_mixed``: WebDataset-style ustar shards of mixed members.
"""

from __future__ import annotations

import bz2
import datetime as dt
import gzip
import hashlib
import io
import json
import lzma
import math
import os
import random
import shutil
import tarfile

import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever generated bytes change, so stale caches are never reused.
GENERATOR_VERSION = 6

PAGE_SEP = "\x0c"
EPOCH = dt.datetime(2025, 1, 1)

# (corpus docs, input files) per workload.  One pass over the corpus takes
# about 4-5 s on four cores.
SIZES = {
    "crawl_html": (1800, 16),
    "archive_mixed": (2400, 16),
}
WORKLOADS = tuple(SIZES)

_COMMON = (
    "the of and to in for on with by from at as is was are be this that which "
    "report total amount due vendor customer address city state order shipment "
    "tracking carrier weight description quantity unit price subtotal tax notes "
    "reference contact phone email status market policy council annual review "
    "project budget data results people service health school water energy "
    "program system local public research season team game music film book"
).split()
_FIELDS = [
    "Invoice Number", "Date", "Due Date", "Customer Name", "Address",
    "Total Amount", "Tax", "Subtotal", "Payment Terms", "PO Number",
    "Contact", "Email", "Status", "Notes", "Author", "Category", "Location",
]
_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
# Non-UTF-8 charsets as Common Crawl pages declare them, with words each
# codec can encode.
_CHARSETS = [
    ("windows-1252", ["café", "naïve", "façade", "déjà", "Zürich", "señor"]),
    ("iso-8859-1", ["résumé", "crème", "über", "Ångström", "piñata"]),
    ("shift_jis", ["日本語", "東京", "報告書", "価格", "住所"]),
    ("koi8-r", ["Привет", "отчёт", "цена", "адрес", "город"]),
    ("gb2312", ["中文", "报告", "价格", "地址", "城市"]),
]
_UTF8_EXTRA = ["naïve", "résumé", "—", "’", "Łódź", "東京", "данные", "✓"]


def _hosts(rng: random.Random, n: int) -> list[str]:
    """Zipf-skewed hosts: a few hosts own most pages."""
    weights = [1.0 / k for k in range(1, 41)]
    return [f"host{k}.example" for k in rng.choices(range(1, 41), weights, k=n)]


def _pseudo_words(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return [
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 10)))
        for _ in range(n)
    ]


def _sentence_pool(rng: random.Random, n: int) -> list[str]:
    vocab = _COMMON + _pseudo_words(rng, 600)
    out = []
    for _ in range(n):
        words = rng.choices(vocab, k=rng.randint(6, 22))
        words[0] = words[0].capitalize()
        out.append(" ".join(words) + rng.choice([".", ".", ".", "?", "!"]))
    return out


def _date(rng: random.Random) -> str:
    y, m, d = rng.randint(1998, 2025), rng.randint(1, 12), rng.randint(1, 28)
    style = rng.randrange(3)
    if style == 0:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if style == 1:
        return f"{m}/{d}/{y}"
    return f"{_MONTHS[m - 1]} {d}, {y}"


def _script_pool(rng: random.Random) -> list[str]:
    out = []
    for k in range(24):
        body = []
        for j in range(rng.randint(10, 80)):
            body.append(
                f"var v{k}_{j} = document.getElementById('n{j}'); "
                f"if (v{k}_{j} && {j} < {rng.randint(1, 99)}) "
                f"{{ v{k}_{j}.setAttribute('data-x', '<b>{j}</b>'); }}"
            )
        out.append("\n".join(body))
    return out


_CSS = (
    "body{margin:0;font-family:sans-serif} .nav a{padding:4px} "
    "#main p{line-height:1.4} .ad,.sidebar{display:none} "
) * 6


class _HtmlWriter:
    """Common-Crawl-shaped pages: chrome, scripts, article with fields."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.sentences = _sentence_pool(rng, 3000)
        self.scripts = _script_pool(rng)

    def para(self, k: int) -> str:
        return " ".join(self.rng.choices(self.sentences, k=k))

    def page(self, i: int, target: int, extra_words: list[str], charset: str) -> str:
        rng = self.rng
        title = self.para(1)[:60]
        links = "".join(
            f'<li><a href="/s/{rng.randrange(10**6)}">{w}</a></li>'
            for w in rng.choices(_COMMON, k=rng.randint(20, 60))
        )
        scripts = "".join(
            f"<script>{s}</script>"
            for s in rng.sample(self.scripts, rng.randint(1, 4))
        )
        head = (
            f"<!DOCTYPE html><html><head><meta charset=\"{charset}\">"
            f"<title>{title} &amp; {i}</title>"
            '<link rel="stylesheet" href="/main.css">'
            f"{scripts}<style>{_CSS}</style></head><body>"
            f'<nav class="nav"><ul>{links}</ul></nav>'
            "<header><a href='/'>Home</a> | <a href='/about'>About</a></header>"
            f"<div class='sidebar ad'>{self.para(2)} <a href='/buy'>buy</a></div>"
            f"<main><article><h1>{self.para(1)[:80]}</h1>"
            f"<p>Published: {_date(rng)}</p>"
        )
        tail = (
            "</article></main>"
            f"<div class='comments'><p>{self.para(3)}</p></div>"
            "<div id='related-posts'>"
            + "".join(f"<a href='/r{k}'>{self.para(1)[:40]}</a>" for k in range(8))
            + "</div><footer><a href='/tos'>Terms</a> "
            "<a href='/privacy'>Privacy</a></footer></body></html>"
        )
        parts = [head]
        size = len(head) + len(tail)
        while size < target:
            roll = rng.random()
            if roll < 0.55:
                words = self.para(rng.randint(2, 6))
                if extra_words and rng.random() < 0.5:
                    words += " " + " ".join(rng.choices(extra_words, k=3))
                s = f"<p>{words}</p>"
            elif roll < 0.75:
                s = "".join(
                    f"<p>{f}: {self.para(1)[:50]}</p>"
                    for f in rng.sample(_FIELDS, rng.randint(2, 5))
                )
            elif roll < 0.85:
                s = "<table>" + "".join(
                    f"<tr><td>{f}</td><td>{_date(rng)}</td></tr>"
                    for f in rng.sample(_FIELDS, 4)
                ) + "</table>"
            elif roll < 0.93:
                s = "<ul>" + "".join(
                    f"<li>{self.para(1)} &nbsp;{_date(rng)}</li>" for _ in range(4)
                ) + "</ul>"
            else:
                s = (
                    f"<div class='share social'><a href='/x'>{self.para(1)[:30]}</a>"
                    f"</div><p>Updated {_date(rng)} &#8212; {self.para(1)}</p>"
                )
            parts.append(s)
            size += len(s)
        parts.append(tail)
        return "".join(parts)


def _page_size(rng: random.Random) -> int:
    """Median ~25 KB with a lognormal spread."""
    return int(min(70_000, max(8_000, 25_000 * math.exp(rng.gauss(0.0, 0.35)))))


def _kind_plan(rng: random.Random, n: int, shares: list[tuple[str, float]]) -> list[str]:
    """Each kind's count is its share of ``n`` (rounded; the first kind
    takes the remainder), in a seeded order: every seed gets the same mix,
    so seeds differ in content, not in composition."""
    plan = []
    for kind, share in shares[1:]:
        plan += [kind] * round(share * n)
    plan += [shares[0][0]] * (n - len(plan))
    rng.shuffle(plan)
    return plan


def _grammar_doc(rng: random.Random, i: int, kind: str) -> str:
    from fixtures.gen import _grammar_d, _grammar_l

    return {"direct": _grammar_d, "long": _grammar_l}[kind](rng, i)


def _truncated_pdf(rng: random.Random, pdf: bytes) -> bytes:
    """A PDF cut well before its cross-reference table and page content
    end: the parser must fail it onto the error slot."""
    return pdf[: max(16, int(len(pdf) * rng.uniform(0.15, 0.45)))]


def _pages_table(rows: dict) -> pa.Table:
    return pa.table(
        {
            "url": pa.array(rows["url"], pa.string()),
            "warc_ts": pa.array(rows["warc_ts"], pa.timestamp("us")),
            "html": pa.array(rows["html"], pa.binary()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
        }
    )


def _write_parquet_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        part = table.slice(f * step, step)
        pq.write_table(
            part, os.path.join(out_dir, f"part-{f:05d}.parquet"),
            row_group_size=256, compression="snappy",
        )


# Shares are chosen, not measured; LAYERS.md gives the reason for each.
_CRAWL_MIX = [
    ("html", 0.875), ("pdf", 0.03), ("corrupt_pdf", 0.0075),
    ("corrupt_html", 0.0075), ("html_charset", 0.08),
]


def gen_crawl_html(seed: int, n: int):
    """Pages of crawl HTML with a few percent PDFs, non-UTF-8 charsets and
    corrupt documents.  Returns (pages table, answers table)."""
    from pdf_extraction_spark.pdf_parse import build_pdf

    rng = random.Random(f"crawl_html/{seed}/main")
    writer = _HtmlWriter(rng)
    hosts = _hosts(rng, n)
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    ans = {"url": [], "kind": [], "golden": []}
    plan = _kind_plan(rng, n, _CRAWL_MIX)
    # the size tail: 1% of the HTML pages, at seeded positions, with sizes
    # spread evenly over 150-400 KB so every seed has the same tail
    html_at = [i for i, k in enumerate(plan) if k in ("html", "html_charset")]
    n_tail = round(0.01 * n)
    tail = {
        i: 150_000 + 250_000 * k // max(1, n_tail - 1)
        for k, i in enumerate(rng.sample(html_at, n_tail))
    }
    for i, kind in enumerate(plan):
        golden = None
        if kind == "pdf":
            pages = _grammar_doc(rng, i, rng.choice(["direct", "long"])).split(PAGE_SEP)
            body = build_pdf(pages, compress=rng.random() < 0.9)
            golden = PAGE_SEP.join(pages)
        elif kind == "corrupt_pdf":
            pages = _grammar_doc(rng, i, "direct").split(PAGE_SEP)
            body = _truncated_pdf(rng, build_pdf(pages))
        elif kind == "corrupt_html":
            page = writer.page(i, _page_size(rng), _UTF8_EXTRA, "utf-8").encode()
            cut = int(len(page) * rng.uniform(0.3, 0.9))
            body = page[:cut] + b"\xff\xfe\x80<div class='x"
        elif kind == "html_charset":
            charset, words = rng.choice(_CHARSETS)
            body = writer.page(i, tail.get(i) or _page_size(rng), words, charset).encode(charset)
        else:
            body = writer.page(i, tail.get(i) or _page_size(rng), _UTF8_EXTRA, "utf-8").encode()
        rows["url"].append(f"https://{hosts[i]}/main/{kind}/{i}")
        rows["warc_ts"].append(EPOCH + dt.timedelta(seconds=31 * i))
        rows["html"].append(body)
        rows["text"].append(None)  # crawled pages carry no text layer
        rows["lang"].append(rng.choice(["en", "de", "fr", "ja", "ru", "zh"]))
        ans["url"].append(rows["url"][-1])
        ans["kind"].append(kind)
        ans["golden"].append(golden)
    return _pages_table(rows), pa.table(ans)


def _scanned_pdf(text: str) -> bytes:
    from pdf_extraction_spark.operators.ccitt import g4_encode
    from pdf_extraction_spark.operators.ocr import render_page
    from pdf_extraction_spark.pdf_parse import build_pdf

    raster = render_page(text)
    rows = [bytes(1 if v < 128 else 0 for v in raster[j]) for j in range(64)]
    return build_pdf([""], images=[("g4", 128, 64, g4_encode(rows, 128))])


# (member kind, share) for archive_mixed; compressed kinds wrap an inner one.
# Shares are chosen, not measured; LAYERS.md gives the reason for each.
_ARCHIVE_MIX = [
    ("html", 0.28), ("html.gz", 0.05), ("pdf", 0.14), ("pdf_scanned", 0.02),
    ("docx", 0.06), ("xlsx", 0.05), ("pptx", 0.05), ("odt", 0.05),
    ("rtf", 0.05), ("epub", 0.04), ("json", 0.04), ("jsonl", 0.03),
    ("json.xz", 0.02), ("text", 0.05), ("text.bz2", 0.02),
    ("corrupt_pdf", 0.01), ("corrupt_pdf.gz", 0.01), ("corrupt_docx", 0.01),
    ("corrupt_xlsx", 0.01),
]


def _archive_member(rng: random.Random, writer: _HtmlWriter, i: int, kind: str):
    """(extension, bytes, expected doc_type, expected text, corrupt)."""
    from pdf_extraction_spark.operators.docx_text import build_docx
    from pdf_extraction_spark.operators.epub_text import build_epub
    from pdf_extraction_spark.operators.odt_text import build_odt
    from pdf_extraction_spark.operators.pptx_text import build_pptx
    from pdf_extraction_spark.operators.rtf_text import build_rtf
    from pdf_extraction_spark.operators.xlsx_text import build_xlsx
    from pdf_extraction_spark.pdf_parse import build_pdf

    def paras(k):
        return [writer.para(rng.randint(1, 3)) for _ in range(k)]

    base, _, wrap = kind.partition(".")
    if base == "html":
        body = writer.page(i, rng.randint(3_000, 12_000), _UTF8_EXTRA, "utf-8").encode()
        # expected text is the spec parser's, computed by the oracle later
        out = ("html", body, "html", None, False)
    elif base == "pdf":
        pages = [f"{f}: {writer.para(1)}\n{writer.para(2)}"
                 for f in rng.sample(_FIELDS, rng.randint(1, 3))]
        out = ("pdf", build_pdf(pages), "pdf", "\n".join(pages), False)
    elif base == "pdf_scanned":
        text = f"Scanned page {i} {writer.para(1)}"[:120].rstrip()
        text = "".join(c if " " <= c <= "~" else "?" for c in text)
        out = ("pdf", _scanned_pdf(text), "pdf_scanned", text, False)
    elif base == "docx":
        p = paras(rng.randint(2, 8))
        out = ("docx", build_docx(p), "docx", "\n".join(p), False)
    elif base == "xlsx":
        cells = [[writer.para(1)[:30] for _ in range(3)] for _ in range(rng.randint(2, 10))]
        out = ("xlsx", build_xlsx(cells), "xlsx",
               "\n".join("\t".join(r) for r in cells), False)
    elif base == "pptx":
        p = paras(rng.randint(2, 6))
        out = ("pptx", build_pptx(p), "pptx", "\n".join(p), False)
    elif base == "odt":
        p = paras(rng.randint(2, 8))
        out = ("odt", build_odt(p), "odt", "\n".join(p), False)
    elif base == "rtf":
        p = paras(rng.randint(2, 8))
        out = ("rtf", build_rtf(p), "rtf", "\n".join(p), False)
    elif base == "epub":
        p = paras(rng.randint(2, 5))
        out = ("epub", build_epub(p), "epub", "\n".join(p), False)
    elif base == "json":
        text = writer.para(rng.randint(2, 6))
        obj = {"id": i, "title": writer.para(1), "text": text, "tags": ["a", "b"]}
        out = ("json", json.dumps(obj).encode(), "json", text, False)
    elif base == "jsonl":
        texts = paras(rng.randint(2, 6))
        body = "".join(json.dumps({"n": k, "content": t}) + "\n" for k, t in enumerate(texts))
        out = ("jsonl", body.encode(), "jsonl", "\n".join(texts), False)
    elif base == "text":
        lines = [f"{f}: {writer.para(1)}" for f in rng.sample(_FIELDS, 4)]
        text = "\n".join(lines + paras(3)) + " " + rng.choice(_UTF8_EXTRA)
        out = ("txt", text.encode(), "text", text, False)
    elif base == "corrupt_pdf":
        out = ("pdf", _truncated_pdf(rng, build_pdf(paras(2))), None, None, True)
    elif base == "corrupt_docx":
        raw = build_docx(paras(4))
        out = ("docx", raw[: len(raw) // 2], None, None, True)
    elif base == "corrupt_xlsx":
        raw = build_xlsx([[writer.para(1)[:20]] * 2 for _ in range(4)])
        out = ("xlsx", raw[: len(raw) // 2], None, None, True)
    else:
        raise ValueError(kind)
    if not wrap:
        return out
    ext, body, typ, text, corrupt = out
    packed = {
        "gz": lambda b: gzip.compress(b, mtime=0),
        "bz2": bz2.compress,
        "xz": lzma.compress,
    }[wrap](body)
    return (f"{ext}.{wrap}", packed, None if typ is None else f"{typ}.{wrap}",
            text, corrupt)


def gen_archive_mixed(seed: int, n: int):
    """Mixed archive members.  Returns (list of (name, bytes), answers)."""
    rng = random.Random(f"archive_mixed/{seed}/main")
    writer = _HtmlWriter(rng)
    plan = _kind_plan(rng, n, _ARCHIVE_MIX)
    members = []
    ans = {"name": [], "kind": [], "doc_type": [], "text": [], "corrupt": []}
    for i, kind in enumerate(plan):
        ext, body, typ, text, corrupt = _archive_member(rng, writer, i, kind)
        name = f"main/{i:06d}.{ext}"
        members.append((name, body))
        ans["name"].append(name)
        ans["kind"].append(kind)
        ans["doc_type"].append(typ)
        ans["text"].append(text)
        ans["corrupt"].append(corrupt)
    return members, pa.table(ans)


def _write_shards(members, out_dir: str, n_shards: int) -> None:
    """Deterministic ustar shards, members dealt round-robin."""
    os.makedirs(out_dir)
    for s in range(n_shards):
        with tarfile.open(
            os.path.join(out_dir, f"shard-{s:05d}.tar"), "w",
            format=tarfile.USTAR_FORMAT,
        ) as tf:
            for name, body in members[s::n_shards]:
                info = tarfile.TarInfo(name)
                info.size = len(body)
                info.mtime = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(body))


def _dir_digest(root: str) -> tuple[str, int]:
    """sha256 over every file's relative path and bytes; total bytes."""
    h = hashlib.sha256()
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            with open(path, "rb") as f:
                data = f.read()
            h.update(rel.encode() + b"\0" + len(data).to_bytes(8, "big"))
            h.update(data)
            total += len(data)
    return h.hexdigest(), total


def sizes(workload: str, scale: float = 1.0) -> tuple[int, int]:
    n, n_files = SIZES[workload]
    if scale == 1.0:
        return n, n_files
    return max(40, int(n * scale)), max(4, int(n_files * scale))


def _generate(workload: str, seed: int, scale: float, out: str) -> None:
    n, n_files = sizes(workload, scale)
    target = os.path.join(out, "pages")
    if workload == "archive_mixed":
        members, answers = gen_archive_mixed(seed, n)
        _write_shards(members, target, n_files)
    else:
        table, answers = gen_crawl_html(seed, n)
        _write_parquet_files(table, target, n_files)
    pq.write_table(answers, os.path.join(out, "answers.parquet"))


def corpus_dir(cache_root: str, workload: str, seed: int, scale: float = 1.0) -> str:
    name = f"seed-{seed}-v{GENERATOR_VERSION}"
    if scale != 1.0:
        name += f"-x{scale:g}"
    return os.path.join(cache_root, workload, name)


def ensure_corpus(cache_root: str, workload: str, seed: int, scale: float = 1.0) -> dict:
    """Generate the corpus unless a complete cached copy exists; return its
    metadata (paths, doc counts, input bytes, digest)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    final = corpus_dir(cache_root, workload, seed, scale)
    meta_path = os.path.join(final, "corpus.json")
    if not os.path.exists(meta_path):
        tmp = final + f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _generate(workload, seed, scale, tmp)
        digest, _ = _dir_digest(tmp)
        main_bytes = _dir_digest(os.path.join(tmp, "pages"))[1]
        n, _ = sizes(workload, scale)
        meta = {
            "workload": workload,
            "seed": seed,
            "scale": scale,
            "generator_version": GENERATOR_VERSION,
            "docs": n,
            "input_mb": main_bytes / 1e6,
            "digest": digest,
        }
        with open(os.path.join(tmp, "corpus.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = final
    meta["pages"] = os.path.join(final, "pages")
    meta["answers"] = os.path.join(final, "answers.parquet")
    return meta
