"""Spans for the traced run, Spark event-log reconstruction, and the
in-process kernel replay.

Spans are kept in memory and written once, at exit.  Each span has a name,
start, end (epoch seconds), parent span id and trace id.  They come from
three sources: the benchmark's own calls into the program, the Spark jobs
and stages read back from the event log (parented to the entry-point call
that ran them), and the replay, which makes one span per document and per
public function called.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name, start, end, parent=None, trace=None, **attrs) -> int:
        sid = next(self._ids)
        if trace is None:
            trace = sid if parent is None else self.spans[parent - 1]["trace"]
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace, **attrs})
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child
        spans (children's intervals merged, clipped to the parent)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = defaultdict(float)
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "self_s": self.self_times(),
                       "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single) application logged under ``log_dir``,
    in the rolling layout Spark 4 writes: ``eventlog_v2_<app>/events_<n>_<app>``."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") == "Exchange" else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


class EventLog:
    """Jobs, stages, tasks and SQL plans from one application's events."""

    def __init__(self, events: list[dict]):
        self.jobs = {}
        self.tasks = defaultdict(list)  # stage id -> task records
        self.plans = {}  # execution id -> latest plan
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1e3,
                    "stages": e["Stage IDs"],
                    "execution": props.get("spark.sql.execution.id"),
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                acc = defaultdict(int)
                for a in info.get("Accumulables", []):
                    if a.get("Metadata") == "sql" and str(a.get("Update", "")).lstrip("-").isdigit():
                        acc[a["Name"]] += int(a["Update"])
                self.tasks[e["Stage ID"]].append({
                    "start": info["Launch Time"] / 1e3,
                    "end": info["Finish Time"] / 1e3,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "output_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "py_in": acc.get("data sent to Python workers", 0),
                    "py_out": acc.get("data returned from Python workers", 0),
                })
            elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                self.plans[str(e["executionId"])] = e["sparkPlanInfo"]

    def call_summary(self, start: float, end: float) -> dict:
        """Layer figures for the jobs submitted within one call [start, end]."""
        jobs = sorted(
            (j for j in self.jobs.values() if start <= j["start"] <= end and "end" in j),
            key=lambda j: j["start"],
        )
        by_exec = defaultdict(list)
        for j in jobs:
            by_exec[j["execution"]].append(j)
        tasks_of = lambda js: [t for j in js for s in j["stages"] for t in self.tasks.get(s, [])]
        write_exec = [x for x, js in by_exec.items() if any(t["output_bytes"] for t in tasks_of(js))]
        write_jobs = [j for x in write_exec for j in by_exec[x]]
        write_start = min((j["start"] for j in write_jobs), default=end)
        write_end = max((j["end"] for j in write_jobs), default=end)
        before = [j for j in jobs if j["end"] <= write_start]
        tasks = tasks_of(jobs)
        jvm_only = [j for j in jobs if not any(t["py_in"] for t in tasks_of([j]))]
        py_stages = [
            s for j in jobs for s in j["stages"]
            if any(t["py_in"] for t in self.tasks.get(s, []))
        ]
        skew = 0.0
        if py_stages:
            durs = sorted(t["end"] - t["start"] for t in self.tasks[py_stages[-1]])
            med = statistics.median(durs)
            skew = durs[-1] / med if med > 0 else 0.0
        return {
            "jobs": jobs,
            "spark_jobs": len(jobs),
            "exchanges": sum(_count_exchanges(self.plans[x]) for x in by_exec if x in self.plans),
            "pre_write_s": sum(j["end"] - j["start"] for j in before),
            "write_s": write_end - write_start if write_jobs else 0.0,
            "post_write_s": end - write_end if write_jobs else 0.0,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "output_mb": sum(t["output_bytes"] for t in tasks) / 1e6,
            "python_in_mb": sum(t["py_in"] for t in tasks) / 1e6,
            "python_out_mb": sum(t["py_out"] for t in tasks) / 1e6,
            "task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "jvm_only_jobs_cpu_s": sum(t["cpu_s"] for t in tasks_of(jvm_only)),
            "task_skew": skew,
        }

    def add_spans(self, tracer: Tracer, parent: int, summary: dict) -> None:
        """Jobs and their stages as child spans of the entry-point call."""
        for j in summary["jobs"]:
            jid = tracer.add("spark.job", j["start"], j["end"], parent,
                             execution=j["execution"])
            for s in j["stages"]:
                ts = self.tasks.get(s)
                if ts:
                    tracer.add("spark.stage", min(t["start"] for t in ts),
                               max(t["end"] for t in ts), jid, stage=s,
                               tasks=len(ts), task_cpu_s=sum(t["cpu_s"] for t in ts))


# ---------------------------------------------------------------------------
# In-process replay
# ---------------------------------------------------------------------------

def _timed(tracer, parent, name, samples, fn, *args):
    t0 = time.time()
    p0 = time.perf_counter()
    out = fn(*args)
    dt = time.perf_counter() - p0
    tracer.add(name, t0, t0 + dt, parent)
    samples[name].append(dt * 1e6)
    return out


def replay_kernel(tracer: Tracer, parent: int, docs) -> dict[str, list[float]]:
    """Replay ``kernel.extract_document`` doc by doc, calling the public
    functions it calls in the order it calls them, and assert that the
    chained result equals ``extract_document``'s own output.  Returns
    per-function samples in microseconds."""
    from pdf_extraction_spark import kernel
    from pdf_extraction_spark.html_extract import extract_main_text
    from pdf_extraction_spark.pdf_parse import extract_pdf_pages

    samples = defaultdict(list)
    for url, html, text in docs:
        d0 = time.time()
        did = tracer.add("replay.doc", d0, d0, parent, url=url)
        try:
            if html is not None and bytes(html[:5]) == b"%PDF-":
                kind = "pdf"
                pages = _timed(tracer, did, "pdf_parse.extract_pdf_pages", samples,
                               extract_pdf_pages, bytes(html))
                etext = _timed(tracer, did, "kernel.concat_pages_direct", samples,
                               kernel.concat_pages_direct, pages)
                fields = _timed(tracer, did, "kernel.extract_fields_direct", samples,
                                kernel.extract_fields_direct, etext)
                page_fields = _timed(tracer, did, "kernel.extract_fields_ocr", samples,
                                     kernel.extract_fields_ocr, pages)
            elif html is not None:
                kind = "html"
                etext = _timed(tracer, did, "html_extract.extract_main_text", samples,
                               extract_main_text, bytes(html))
                fields = _timed(tracer, did, "kernel.extract_fields_direct", samples,
                                kernel.extract_fields_direct, etext)
                page_fields = None
            else:
                kind = "text"
                pages = (text or "").split(kernel.PAGE_SEP)
                etext = _timed(tracer, did, "kernel.concat_pages_direct", samples,
                               kernel.concat_pages_direct, pages)
                fields = _timed(tracer, did, "kernel.extract_fields_direct", samples,
                                kernel.extract_fields_direct, etext)
                page_fields = _timed(tracer, did, "kernel.extract_fields_ocr", samples,
                                     kernel.extract_fields_ocr, pages)
            spans = _timed(tracer, did, "kernel.label_spans", samples,
                           kernel.label_spans, etext, fields)
            chained = (url, kind, etext, fields, page_fields, spans, None)
        except Exception as e:  # the kernel's own containment rule
            chained = (url, "error", None, None, None, None, f"{type(e).__name__}: {e}")
        tracer.spans[did - 1]["end"] = time.time()
        ref = _timed(tracer, parent, "kernel.extract_document", samples,
                     kernel.extract_document, url, html, text)
        if tuple(ref) != chained:
            raise RuntimeError(
                f"replay drifted from kernel.extract_document on {url}: "
                f"{str(chained)[:200]} != {str(ref)[:200]}"
            )
    return samples


def replay_any_text(tracer: Tracer, parent: int, members) -> dict[str, list[float]]:
    """Replay the archive front door on each member: the sniffer, then the
    full ``extract_any`` dispatch (also keyed by the doc type it returns;
    a member it raises on is keyed ``error``, as the batch wrapper types
    it).  Returns samples in microseconds."""
    from pdf_extraction_spark.operators.any_text import extract_any, sniff_doc_type

    samples = defaultdict(list)
    for name, raw in members:
        d0 = time.time()
        did = tracer.add("replay.member", d0, d0, parent, member=name)
        _timed(tracer, did, "operators.any_text.sniff_doc_type", samples,
               sniff_doc_type, raw)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            doc_type = extract_any(raw)[0]
        except Exception:  # contained by the batch wrapper in the job
            doc_type = "error"
        dt = time.perf_counter() - p0
        tracer.add("operators.any_text.extract_any", t0, t0 + dt, did, doc_type=doc_type)
        samples["operators.any_text.extract_any"].append(dt * 1e6)
        samples[f"operators.any_text.extract_any.{doc_type}"].append(dt * 1e6)
        tracer.spans[did - 1]["end"] = time.time()
    return samples


def stats(xs: list[float]) -> dict[str, float]:
    """mean, p50, p99 of a sample (0 for an empty one)."""
    if not xs:
        return {"mean": 0.0, "p50": 0.0, "p99": 0.0}
    s = sorted(xs)
    return {
        "mean": sum(s) / len(s),
        "p50": s[len(s) // 2],
        "p99": s[min(len(s) - 1, int(len(s) * 0.99))],
    }
