"""The workloads: how each calls the program's public entry point, which
control runs split it into layers, and how its outputs are checked.

* ``crawl_html`` runs ``plans.pipeline.run_extraction`` over a parquet
  pages table into committed groups with manifests.
* ``archive_mixed`` runs ``jobs/ingest_archive.py``'s ``main`` over tar
  shards (``read_docs_tar`` -> ``extract_any_text`` -> parquet, then the
  job's summary queries).

Checks run after the timed region and never inside it.
"""

from __future__ import annotations

import contextlib
import gzip
import io
import json
import os
import random
import tarfile
from collections import Counter

import pyarrow.dataset as ds
import pyarrow.parquet as pq

PIPELINE_GROUPS = 4


def _first_file(directory: str) -> str:
    return os.path.join(directory, sorted(os.listdir(directory))[0])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet(df, out: str) -> None:
    df.write.mode("overwrite").parquet(out)


def _identity_batches(batches):
    yield from batches


def _identity(df):
    """Arrow round trip through a Python worker that leaves rows as-is."""
    return df.mapInPandas(_identity_batches, schema=df.schema)


class PagesWorkload:
    """crawl_html: run_extraction over the pages table."""

    entry_name = "plans.pipeline.run_extraction"

    def __init__(self, name: str, meta: dict):
        self.name = name
        self.meta = meta
        self.docs = meta["docs"]

    # -- the entry point ---------------------------------------------------
    def call(self, spark, out: str, warmup: bool = False) -> None:
        """One call on the corpus, or on its first input file for the
        warm-up."""
        from pdf_extraction_spark.plans.pipeline import run_extraction

        source = _first_file(self.meta["pages"]) if warmup else self.meta["pages"]
        run_extraction(spark, source, out, groups=PIPELINE_GROUPS)

    # -- control runs (traced run only) -------------------------------------
    def controls(self, spark, scratch: str):
        """name -> (run, base): each control adds one layer to its base
        control.  The source scan; the exchange run_extraction puts ahead
        of the operator (hash repartition of the page rows); an identity
        Arrow round trip through Python; the extraction operator; and a
        parquet write of its output."""
        from pdf_extraction_spark.operators.balance import rebalance_if_undersplit
        from pdf_extraction_spark.operators.extract import extract_documents
        from pdf_extraction_spark.sources.pages import read_pages

        src = self.meta["pages"]
        nparts = spark.sparkContext.defaultParallelism

        def scan():
            return read_pages(spark, src).select("url", "html", "text")

        def udf():
            return extract_documents(read_pages(spark, src))

        return {
            "scan": (lambda: _noop(scan()), None),
            "exchange": (lambda: _noop(scan().repartition(nparts, "url")), "scan"),
            "identity": (lambda: _noop(_identity(rebalance_if_undersplit(scan()))), "scan"),
            "udf": (lambda: _noop(udf()), "identity"),
            "write": (lambda: _parquet(udf(), scratch), "udf"),
        }

    # -- oracle -------------------------------------------------------------
    def _sample(self, seed: int, answers: dict, k: int) -> list[str]:
        """Seeded sample of urls, always including every PDF and every
        deliberately corrupted document."""
        urls = sorted(answers)
        special = {u for u in urls if answers[u]["kind"] in ("pdf", "corrupt_pdf", "corrupt_html")}
        rng = random.Random(f"sample/{self.name}/{seed}")
        rest = [u for u in urls if u not in special]
        return sorted(special) + rng.sample(rest, min(k, len(rest)))

    def expected(self, seed: int) -> dict:
        """url -> (kind, oracle record or None for a must-fail document)."""
        from tests.oracle import oracle_document

        answers = {r["url"]: r for r in pq.read_table(self.meta["answers"]).to_pylist()}
        sample = self._sample(seed, answers, 200 if self.name == "crawl_html" else 1500)
        inputs = {
            r["url"]: r
            for r in pq.read_table(self.meta["pages"], columns=["url", "html", "text"])
            .filter(ds.field("url").isin(sample))
            .to_pylist()
        }
        out = {}
        for url in sample:
            kind = answers[url]["kind"]
            row = inputs[url]
            if kind == "corrupt_pdf":
                out[url] = (kind, None)
                continue
            text = answers[url]["golden"] if kind == "pdf" else row["text"]
            out[url] = (kind, _normalize(oracle_document(url, row["html"], text)))
        return {"all_urls": set(answers), "sample": out}

    def check(self, out: str, expected: dict) -> dict:
        """Wrong docs in one pass's committed output: missing, duplicated,
        unknown, or (on the sample) different from the oracle."""
        all_urls, sample = expected["all_urls"], expected["sample"]
        manifests = {}
        mdir = os.path.join(out, "_manifests")
        for g in range(PIPELINE_GROUPS):
            with open(os.path.join(mdir, f"group-{g}.json")) as f:
                manifests[g] = json.load(f)
        # hive layout: out/group=<g>/*.parquet; "_manifests" is skipped
        table = ds.dataset(out, format="parquet", partitioning="hive").to_table()
        counts = Counter(table.column("url").to_pylist())
        wrong = set(all_urls - set(counts))  # missing
        wrong |= {u for u, c in counts.items() if c != 1 or u not in all_urls}
        rows = table.filter(ds.field("url").isin(list(sample))).to_pylist()
        for row in rows:
            url = row["url"]
            kind, want = sample[url]
            got = _normalize(row)
            if want is None or kind == "corrupt_html":
                ok = got["doc_kind"] == "error" and got["error"] is not None
                ok = ok or (want is not None and got == want)
            else:
                ok = got == want
            if not ok:
                wrong.add(url)
        n_manifest = sum(m["n_rows"] for m in manifests.values())
        # the manifests must account for every row: a gap between their sum
        # and the corpus counts as that many wrong docs
        return {
            "attempted": len(all_urls),
            "wrong": max(len(wrong), abs(n_manifest - len(all_urls))),
            "wrong_sample": sorted(wrong)[:5],
            "manifest_rows": n_manifest,
            "distinct_urls": len(counts),
            "checksums": [manifests[g]["output_checksum"] for g in range(PIPELINE_GROUPS)],
            "output_files": sum(
                1 for g in range(PIPELINE_GROUPS)
                for f in os.listdir(os.path.join(out, f"group={g}"))
                if f.endswith(".parquet")
            ),
        }

    # -- replay inputs (traced run) -------------------------------------------
    def replay_inputs(self, seed: int, k: int) -> list[tuple]:
        """Seeded sample of (url, html, text) input rows, always including
        every PDF and corrupt document."""
        answers = {r["url"]: r for r in pq.read_table(self.meta["answers"]).to_pylist()}
        urls = self._sample(seed + 1, answers, k)
        tbl = pq.read_table(self.meta["pages"], columns=["url", "html", "text"])
        rows = tbl.filter(ds.field("url").isin(urls)).to_pylist()
        return [(r["url"], r["html"], r["text"]) for r in sorted(rows, key=lambda r: r["url"])]


def _normalize(rec: dict) -> dict:
    """One record shape for pipeline rows and oracle records: pairs and
    spans as tuples."""

    def pairs(p):
        if p is None:
            return None
        return [tuple(x.values()) if isinstance(x, dict) else tuple(x) for x in p]

    return {
        "doc_kind": rec["doc_kind"],
        "extracted_text": rec["extracted_text"],
        "fields": pairs(rec["fields"]),
        "page_fields": None if rec["page_fields"] is None else [pairs(p) for p in rec["page_fields"]],
        "spans": pairs(rec["spans"]),
        "error": rec["error"],
    }


class ArchiveWorkload:
    """archive_mixed: jobs/ingest_archive.py main over tar shards."""

    entry_name = "jobs.ingest_archive.main"

    def __init__(self, name: str, meta: dict, nproc: int):
        self.name = name
        self.meta = meta
        self.docs = meta["docs"]
        self.nproc = nproc

    @staticmethod
    def _glob(source: str) -> str:
        return os.path.join(source, "*.tar")

    def call(self, spark, out: str, warmup: bool = False) -> None:
        """One call on every shard, or on the first shard for the warm-up."""
        from jobs.ingest_archive import main

        pages = self.meta["pages"]
        source = _first_file(pages) if warmup else self._glob(pages)
        # main() reuses the running session (getOrCreate) and prints a
        # summary line, which must not become the benchmark's last line
        with contextlib.redirect_stdout(io.StringIO()):
            rc = main(["--input", source, "--output", out,
                       "--format", "tar", "--cpus", str(self.nproc)])
        if rc != 0:
            raise RuntimeError(f"ingest_archive main returned {rc}")

    def controls(self, spark, scratch: str):
        """The same controls as ``crawl_html``'s, over the tar source and
        ``extract_any_text`` as the job keys them.  The job has no exchange
        of its own; its exchange layer is the under-split rebalance that
        ``extract_any_text`` applies."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.operators.any_text import extract_any_text
        from pdf_extraction_spark.operators.balance import rebalance_if_undersplit
        from pdf_extraction_spark.sources.tarsource import read_docs_tar

        src = self._glob(self.meta["pages"])

        def keyed():
            return read_docs_tar(spark, src).select(
                F.xxhash64(F.concat_ws("!", "archive", "name")).alias("doc_id"),
                F.col("archive").alias("source"), "name", "content",
            )

        def udf():
            return extract_any_text(keyed(), passthrough=["source", "name"])

        return {
            "scan": (lambda: _noop(keyed()), None),
            "exchange": (lambda: _noop(rebalance_if_undersplit(keyed())), "scan"),
            "identity": (lambda: _noop(_identity(rebalance_if_undersplit(keyed()))), "exchange"),
            "udf": (lambda: _noop(udf()), "identity"),
            "write": (lambda: _parquet(udf(), scratch), "udf"),
        }

    def members(self) -> dict[str, bytes]:
        out = {}
        for shard in sorted(os.listdir(self.meta["pages"])):
            with tarfile.open(os.path.join(self.meta["pages"], shard)) as tf:
                for m in tf.getmembers():
                    out[m.name] = tf.extractfile(m).read()
        return out

    def expected(self, seed: int) -> dict:
        """name -> (doc_type, text, corrupt) for every member.  HTML text is
        the stdlib-parser spec's, computed from the member bytes."""
        from pdf_extraction_spark.html_extract import extract_main_text_spec

        answers = pq.read_table(self.meta["answers"]).to_pylist()
        raw = self.members()
        out = {}
        for a in answers:
            text = a["text"]
            if a["doc_type"] == "html":
                text = extract_main_text_spec(raw[a["name"]])
            elif a["doc_type"] == "html.gz":
                text = extract_main_text_spec(gzip.decompress(raw[a["name"]]))
            out[a["name"]] = (a["doc_type"], text, a["corrupt"])
        return out

    def check(self, out: str, expected: dict) -> dict:
        """Every member exactly once; types and texts equal the generator's
        answers; errors (and only missing text) exactly on corrupt members."""
        table = ds.dataset(out, format="parquet").to_table(
            columns=["name", "doc_type", "text", "error"]
        )
        rows = table.to_pylist()
        counts = Counter(r["name"] for r in rows)
        wrong = set(expected) - set(counts)
        wrong |= {n for n, c in counts.items() if c != 1 or n not in expected}
        for r in rows:
            if r["name"] not in expected:
                continue
            typ, text, corrupt = expected[r["name"]]
            if corrupt:
                ok = r["text"] is None
            else:
                ok = r["error"] is None and r["doc_type"] == typ and r["text"] == text
            if not ok:
                wrong.add(r["name"])
        return {
            "attempted": len(expected),
            "wrong": len(wrong),
            "wrong_sample": sorted(wrong)[:5],
            "distinct_names": len(counts),
            "errors": sum(1 for r in rows if r["error"] is not None),
            "output_files": sum(1 for f in os.listdir(out) if f.endswith(".parquet")),
        }

    def replay_inputs(self, seed: int, k: int) -> list[tuple]:
        """Seeded sample of members as (name, bytes, None)."""
        raw = self.members()
        rng = random.Random(f"replay/{self.name}/{seed}")
        names = sorted(rng.sample(sorted(raw), min(k, len(raw))))
        return [(n, raw[n], None) for n in names]


def make(name: str, meta: dict, nproc: int):
    if name == "archive_mixed":
        return ArchiveWorkload(name, meta, nproc)
    return PagesWorkload(name, meta)
