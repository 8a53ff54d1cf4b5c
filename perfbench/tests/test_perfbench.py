"""Tests for the benchmark's own pieces.

    python -m pytest perfbench/tests -q

The end-to-end test starts Spark (about two minutes on four cores); the
rest run in-process on small corpora.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import corpus, run, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SCALE = 0.03


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("corpus"))


@pytest.mark.parametrize("workload", corpus.WORKLOADS)
def test_corpus_is_a_function_of_the_seed(tmp_path, workload):
    a = corpus.ensure_corpus(str(tmp_path / "a"), workload, 7, SCALE)
    b = corpus.ensure_corpus(str(tmp_path / "b"), workload, 7, SCALE)
    c = corpus.ensure_corpus(str(tmp_path / "c"), workload, 8, SCALE)
    assert a["digest"] == b["digest"]
    assert a["digest"] != c["digest"]
    # the cached copy is reused, not regenerated
    again = corpus.ensure_corpus(str(tmp_path / "a"), workload, 7, SCALE)
    assert again["digest"] == a["digest"]


_PAIR = pa.struct([("field", pa.string()), ("value", pa.string())])
_OUTPUT_SCHEMA = pa.schema([
    ("url", pa.string()), ("doc_kind", pa.string()), ("extracted_text", pa.string()),
    ("fields", pa.list_(_PAIR)), ("page_fields", pa.list_(pa.list_(_PAIR))),
    ("spans", pa.list_(pa.struct([("label", pa.string()), ("start", pa.int32()),
                                  ("end", pa.int32())]))),
    ("error", pa.string()),
])


def _pipeline_output(wl, out: str) -> None:
    """What run_extraction commits, computed in-process by the kernel:
    out/group=<g>/part.parquet plus one manifest per group."""
    from pdf_extraction_spark.kernel import extract_document

    rows = pq.read_table(wl.meta["pages"], columns=["url", "html", "text"]).to_pylist()
    groups = {g: [] for g in range(workloads.PIPELINE_GROUPS)}
    for i, r in enumerate(rows):
        url, kind, text, fields, page_fields, sp, err = extract_document(
            r["url"], r["html"], r["text"])
        pairs = lambda p: None if p is None else [{"field": f, "value": v} for f, v in p]
        groups[i % len(groups)].append({
            "url": url, "doc_kind": kind, "extracted_text": text,
            "fields": pairs(fields),
            "page_fields": None if page_fields is None else [pairs(p) for p in page_fields],
            "spans": None if sp is None else [{"label": l, "start": s, "end": e} for l, s, e in sp],
            "error": err,
        })
    os.makedirs(os.path.join(out, "_manifests"))
    for g, recs in groups.items():
        os.makedirs(os.path.join(out, f"group={g}"))
        pq.write_table(pa.Table.from_pylist(recs, _OUTPUT_SCHEMA),
                       os.path.join(out, f"group={g}", "part-0.parquet"))
        with open(os.path.join(out, "_manifests", f"group-{g}.json"), "w") as f:
            json.dump({"group": g, "n_rows": len(recs), "output_checksum": 0}, f)


def _wrong_frac(wl, out, expected) -> float:
    verdict = run.check_passes(wl, [{"out": out}], expected)
    return verdict["wrong"] / verdict["attempted"]


def test_planted_wrong_rows_are_counted(tmp_path, cache):
    meta = corpus.ensure_corpus(cache, "crawl_html", 5, SCALE)
    wl = workloads.make("crawl_html", meta, 4)
    expected = wl.expected(5)
    good = str(tmp_path / "good")
    _pipeline_output(wl, good)
    assert _wrong_frac(wl, good, expected) == 0.0

    def planted(name, edit):
        dst = str(tmp_path / name)
        shutil.copytree(good, dst)
        path = os.path.join(dst, "group=1", "part-0.parquet")
        recs = pq.read_table(path).to_pylist()
        edit(recs)
        pq.write_table(pa.Table.from_pylist(recs, _OUTPUT_SCHEMA), path)
        return dst

    def change_text(recs):
        recs[0]["extracted_text"] = (recs[0]["extracted_text"] or "") + "x"

    def drop(recs):
        recs.pop()

    def duplicate(recs):
        recs.append(dict(recs[0]))

    for name, edit in (("changed", change_text), ("dropped", drop), ("duplicated", duplicate)):
        assert _wrong_frac(wl, planted(name, edit), expected) > 0, name

    # a manifest that miscounts its group's rows
    miscounted = planted("miscounted", lambda recs: None)
    path = os.path.join(miscounted, "_manifests", "group-2.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["n_rows"] += 1
    with open(path, "w") as f:
        json.dump(manifest, f)
    assert _wrong_frac(wl, miscounted, expected) > 0


def test_planted_wrong_archive_member_is_counted(tmp_path, cache):
    from pdf_extraction_spark.operators.any_text import extract_any

    meta = corpus.ensure_corpus(cache, "archive_mixed", 5, SCALE)
    wl = workloads.make("archive_mixed", meta, 4)
    expected = wl.expected(5)
    recs = []
    for name, raw in sorted(wl.members().items()):
        try:
            typ, text = extract_any(raw)
            err = None
        except Exception as e:
            typ, text, err = "error", None, str(e)
        recs.append({"name": name, "doc_type": typ, "text": text, "error": err})
    assert any(expected[r["name"]][2] for r in recs), "corpus has corrupt members"
    out = tmp_path / "docs"
    out.mkdir()
    pq.write_table(pa.Table.from_pylist(recs), str(out / "part-0.parquet"))
    assert _wrong_frac(wl, str(out), expected) == 0.0
    i = next(i for i, r in enumerate(recs) if r["text"])
    recs[i]["text"] = recs[i]["text"][:-1]
    pq.write_table(pa.Table.from_pylist(recs), str(out / "part-0.parquet"))
    assert _wrong_frac(wl, str(out), expected) > 0


@pytest.mark.parametrize("workload", corpus.WORKLOADS)
def test_replay_equals_kernel(cache, workload):
    meta = corpus.ensure_corpus(cache, workload, 6, SCALE)
    wl = workloads.make(workload, meta, 4)
    inputs = wl.replay_inputs(6, 50)
    tracer = spans.Tracer()
    samples = spans.replay_kernel(
        tracer, None,
        [(k, b, t) for k, b, t in inputs if b is None or b[:5] == b"%PDF-" or b.lstrip()[:1] == b"<"],
    )
    assert samples["kernel.extract_document"]
    assert samples["kernel.label_spans"]
    docs = [s for s in tracer.spans if s["name"] == "replay.doc"]
    assert docs and all(s["end"] >= s["start"] for s in docs)


def test_replay_detects_drift(monkeypatch, cache):
    from pdf_extraction_spark import kernel

    meta = corpus.ensure_corpus(cache, "crawl_html", 6, SCALE)
    inputs = workloads.make("crawl_html", meta, 4).replay_inputs(6, 5)
    real = kernel.extract_document
    monkeypatch.setattr(kernel, "extract_document",
                        lambda *a: real(*a)[:-1] + ("drifted",))
    with pytest.raises(RuntimeError, match="drifted from kernel.extract_document"):
        spans.replay_kernel(spans.Tracer(), None, inputs)


def test_self_time_subtracts_children():
    t = spans.Tracer()
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)  # overlaps a: union covers 1..5
    assert t.self_times()["root"] == pytest.approx(6.0)


def test_benchmark_json_names_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END_UNITS)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER_UNITS)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.END_TO_END_UNITS[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.PER_LAYER_UNITS[m["name"]]
    assert {w["name"] for w in spec["workloads"]} <= set(corpus.WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_html", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.slow
def test_traced_run_end_to_end(tmp_path):
    """A small traced run: correct output, every per-layer metric, a span
    file, and the CPU of the layers, each measured on its own, within 10%
    of the process tree's CPU."""
    env = dict(os.environ, PERFBENCH_WORK=str(tmp_path / "work"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_html", "--seed", "3",
         "--seconds", "1", "--trace", "1", "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, env=env,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER_UNITS)
    assert result["metrics"]["trace.attributed_cpu_frac"]["value"] == pytest.approx(1.0, abs=0.10)
    traces = os.listdir(tmp_path / "work" / "traces")
    assert len(traces) == 1
    with open(tmp_path / "work" / "traces" / traces[0]) as f:
        trace = json.load(f)
    assert any(s["name"] == "spark.job" for s in trace["spans"])
    # sanity check of the thread sampler: Python workers plus the JVM's
    # thread classes cover the process tree
    for p_ in trace["summary"]["passes"]:
        layers = (p_["cpu_s"]["python"] + sum(
            p_["threads_cpu_s"].get(k, 0.0) for k in ("jvm.tasks", "jvm.driver", "jvm.jit", "jvm.gc")))
        assert layers == pytest.approx(p_["cpu_s"]["total"], rel=0.10)
    # no process of the run outlives it
    leftover = subprocess.run(["pgrep", "-f", str(tmp_path)], capture_output=True, text=True)
    assert leftover.stdout.strip() == ""
