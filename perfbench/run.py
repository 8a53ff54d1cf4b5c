"""End-to-end extraction benchmark, split by layer.

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run:

1. generates the workload's corpus from ``--seed`` (or reuses the cached
   copy under ``.perfbench/corpus``), before any timing starts;
2. sets up cold: ``get_spark`` at ``local[nproc]`` starts a new JVM, and
   the entry point is called once on the corpus's first input file as a
   warm-up (worker start-up, first-call imports, the JIT's first
   compiles); ``setup_s`` is the time from the ``get_spark`` call to the
   end of the warm-up;
3. calls the workload's public entry point on the corpus, one call at a
   time from this one process (a closed loop with one client), for
   ``--seconds``; each call is a pass.  The first ``SETTLING_PASSES``
   still run while the JIT compiles; the throughput and CPU figures are
   medians over the passes after them;
4. checks every pass's output against the oracle, outside the timed region,
   then deletes the outputs;
5. prints each metric by name with its unit, writes a run record under
   ``.perfbench/runs``, and prints one JSON object as the last line.

With ``--trace 0`` the JSON carries the end-to-end metrics.  With
``--trace 1`` the run first does all of the above with tracing off, then
sets up a traced session (Spark event log on), repeats the passes with
spans around every call, runs the control runs that isolate each layer and
the in-process kernel replay, writes the span file under
``.perfbench/traces`` and prints the per-layer metrics.

Workloads: ``crawl_html`` and ``archive_mixed`` (see ``corpus.py``,
``BENCHMARK.json`` and ``LAYERS.md``).  ``PERFBENCH_WORK`` overrides the
work directory; ``--scale`` shrinks the corpus for the benchmark's own
tests.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus, procfs, spans, workloads  # noqa: E402

# The JIT keeps compiling over the first calls: the first two timed passes
# use 20-40% more CPU than the ones after them.  Every run makes at least
# MIN_PASSES passes (about --seconds on four cores) and reports medians over
# the passes after the settling ones.
MIN_PASSES = 5
SETTLING_PASSES = 2
# A traced run measures an untraced and a traced set of passes, each of
# this many passes at least and half of --seconds, so that it ends in time.
TRACED_MIN_PASSES = 3

END_TO_END_UNITS = {
    "docs_per_s": "1/s",
    "cpu_ms_per_doc": "ms",
    "setup_s": "s",
    "worker_rss_peak_mb": "MB",
}

# Every per-layer metric is measured on every workload: a control run or a
# replay of the workload's own front door, or the event log of its entry
# point.  LAYERS.md maps them to the end-to-end metrics they should move.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "operators.arrow_roundtrip_s": "s",
    "operators.udf_s": "s",
    "operators.python_in_mb": "MB",
    "operators.python_out_mb": "MB",
    "operators.task_skew": "ratio",
    "kernel.extract_document_us.p50": "us",
    "kernel.extract_document_us.p99": "us",
    "kernel.extract_document_us.mean": "us",
    "kernel.extract_fields_direct_us.mean": "us",
    "kernel.extract_fields_ocr_us.mean": "us",
    "kernel.concat_pages_direct_us.mean": "us",
    "kernel.label_spans_us.mean": "us",
    "html_extract.extract_main_text_us.mean": "us",
    "html_extract.extract_main_text_us.p99": "us",
    "pdf_parse.extract_pdf_pages_us.mean": "us",
    "pdf_parse.extract_pdf_pages_us.p99": "us",
    "operators.any_text.sniff_doc_type_us.mean": "us",
    "operators.any_text.extract_any_us.mean": "us",
    "operators.any_text.extract_any_us.p99": "us",
    "entry.overhead_s": "s",
    "entry.pre_write_s": "s",
    "entry.write_s": "s",
    "entry.post_write_s": "s",
    "entry.spark_jobs": "count",
    "entry.exchanges": "count",
    "entry.shuffle_write_mb": "MB",
    "entry.output_mb": "MB",
    "entry.output_files": "count",
    "trace.cpu_s.source": "s",
    "trace.cpu_s.exchange": "s",
    "trace.cpu_s.arrow_roundtrip": "s",
    "trace.cpu_s.udf": "s",
    "trace.cpu_s.write": "s",
    "trace.cpu_s.entry_jobs": "s",
    "trace.cpu_s.jit_gc": "s",
    "trace.attributed_cpu_frac": "frac",
    "trace.overhead_frac": "frac",
}

# replay sample sizes (documents) per workload
REPLAY_DOCS = {"crawl_html": 300, "archive_mixed": 600}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _settled(passes: list[dict]) -> list[dict]:
    """The passes after the settling ones (at least the last one)."""
    return passes[min(SETTLING_PASSES, len(passes) - 1):]


def _jit_gc(threads_cpu_s: dict) -> float:
    return threads_cpu_s.get("jvm.jit", 0.0) + threads_cpu_s.get("jvm.gc", 0.0)


def _source_digest() -> str:
    h = hashlib.sha256()
    for top in ("pdf_extraction_spark", "jobs"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def check_passes(wl, passes: list[dict], expected) -> dict:
    """Oracle check of every pass's output; returns docs attempted and
    wrong over all passes."""
    results = [wl.check(p["out"], expected) for p in passes]
    for p, r in zip(passes, results):
        p["check"] = r
    if "checksums" in results[0]:
        # the manifests' semantic checksums must agree across passes; a
        # pass that disagrees without a detected wrong doc counts as wrong
        for r in results[1:]:
            if r["checksums"] != results[0]["checksums"] and r["wrong"] == 0:
                r["wrong"] = r["attempted"]
    return {
        "attempted": sum(r["attempted"] for r in results),
        "wrong": sum(r["wrong"] for r in results),
    }


class Bench:
    """One benchmark run: sessions, timed passes, checks, layer split."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
        self.out_root = os.path.join(work, "out", args.workload)
        self.spark = None
        self.jvm = None

    # -- sessions -------------------------------------------------------------
    def conf(self, event_log: str | None = None) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + event_log,
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup(self, wl, conf: dict, label: str, tracer=None, parent=None) -> tuple[float, float]:
        """One cold set-up: stop the running JVM, if any, and wait until it
        and its Python workers have exited; then ``get_spark`` (which starts
        a new JVM) and one warm-up call.  Returns (get_spark_s, warmup_s)."""
        from pdf_extraction_spark.session import get_spark

        self.stop_jvm()
        self.reap(timeout=30)
        out = os.path.join(self.out_root, f"warmup-{label}")
        shutil.rmtree(out, ignore_errors=True)
        t0, w0 = time.perf_counter(), time.time()
        self.spark = get_spark(app="perfbench", cpus=self.nproc, extra_conf=conf)
        t1, w1 = time.perf_counter(), time.time()
        wl.call(self.spark, out, warmup=True)
        t2 = time.perf_counter()
        if tracer is not None:
            tracer.add("session.get_spark", w0, w1, parent)
            tracer.add("session.warmup", w1, w1 + (t2 - t1), parent)
        self.jvm = procfs.find_jvm(os.getpid())
        return t1 - t0, t2 - t1

    def stop_jvm(self) -> None:
        """Stop the session and shut its JVM down (waiting for it to exit),
        so that the next ``get_spark`` launches a new JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        self.jvm = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def reap(self, timeout: float) -> None:
        """Wait for every process below this one to end: SIGTERM at once,
        SIGKILL after half of ``timeout``."""
        me = os.getpid()
        deadline = time.monotonic() + timeout
        while True:
            left = [p for p in procfs.descendants(me) if p != me]
            if not left or time.monotonic() > deadline:
                break
            for p in left:
                try:
                    os.kill(p, signal.SIGTERM if time.monotonic() < deadline - timeout / 2
                            else signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process this run
        started to end."""
        self.stop_jvm()
        self.reap(timeout=60)

    # -- timed passes -----------------------------------------------------------
    def passes(self, wl, label: str, tracer=None, parent=None) -> list[dict]:
        """Call the entry point on the corpus until ``--seconds`` are used
        (half of them in a traced run)."""
        seconds, min_passes = self.args.seconds, MIN_PASSES
        if self.args.trace:
            seconds, min_passes = seconds / 2, TRACED_MIN_PASSES
        out = []
        t_start = time.monotonic()
        while True:
            dest = os.path.join(self.out_root, f"{label}-{len(out)}")
            shutil.rmtree(dest, ignore_errors=True)
            cpu0 = procfs.tree_cpu(self.jvm)
            steal0 = procfs.steal_core_s()
            sampler = procfs.ThreadSampler(self.jvm) if tracer is not None else None
            w0, t0 = time.time(), time.perf_counter()
            with sampler or contextlib.nullcontext():
                wl.call(self.spark, dest)
            dt = time.perf_counter() - t0
            steal1 = procfs.steal_core_s()
            cpu1 = procfs.tree_cpu(self.jvm)
            rec = {
                "out": dest,
                "start": w0,
                "end": w0 + dt,
                "wall_s": dt,
                "cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu1},
                "steal_core_s": steal1 - steal0,
            }
            if tracer is not None:
                rec["span"] = tracer.add(f"entry.{wl.entry_name}", w0, w0 + dt, parent)
                rec["threads_cpu_s"] = sampler.by_class()
                rec["threads_by_name_cpu_s"] = sampler.by_name()
            out.append(rec)
            elapsed = time.monotonic() - t_start
            typical = _median([p["wall_s"] for p in out])
            if len(out) >= min_passes and elapsed + typical > seconds:
                return out

    # -- one run ------------------------------------------------------------------
    def run(self) -> tuple[bool, int, int, dict]:
        args = self.args
        meta = corpus.ensure_corpus(
            os.path.join(self.work, "corpus"), args.workload, args.seed, args.scale
        )
        wl = workloads.make(args.workload, meta, self.nproc)
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)

        setup = self.setup(wl, self.conf(), "untraced")
        load0, calib0 = procfs.loadavg(), procfs.calibration_s()
        timed = self.passes(wl, "timed")
        load1, calib1 = procfs.loadavg(), procfs.calibration_s()
        rss_mb = procfs.python_worker_hwm_mb(self.jvm)
        versions = {
            "spark": self.spark.version,
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        docs = wl.docs
        settled = _settled(timed)
        e2e = {
            "docs_per_s": _median([docs / p["wall_s"] for p in settled]),
            "cpu_ms_per_doc": _median([p["cpu_s"]["total"] * 1e3 / docs for p in settled]),
            "setup_s": sum(setup),
            "worker_rss_peak_mb": rss_mb,
        }
        layers, traced = None, []
        if args.trace:
            layers, traced = self.traced(wl, e2e["docs_per_s"], setup)
        expected = wl.expected(args.seed)
        verdict = check_passes(wl, timed + traced, expected)
        shutil.rmtree(self.out_root, ignore_errors=True)  # bounded disk use
        wrong_frac = verdict["wrong"] / verdict["attempted"]
        record = {
            "git_commit": _git_commit(),
            "source_digest": _source_digest(),
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": self.nproc,
            "master": f"local[{self.nproc}]",
            "input_docs": docs,
            "input_mb": meta["input_mb"],
            "corpus_digest": meta["digest"],
            "generator_version": meta["generator_version"],
            "versions": versions,
            "setup_s": {"get_spark_s": setup[0], "warmup_s": setup[1]},
            "passes": [{k: v for k, v in p.items() if k != "out"} for p in timed],
            "steal_core_s": sum(p["steal_core_s"] for p in timed),
            "loadavg_start": load0,
            "loadavg_end": load1,
            "calibration_s": [calib0, calib1],
            "attempted": verdict["attempted"],
            "wrong_docs": verdict["wrong"],
            "wrong_docs_frac": wrong_frac,
            "end_to_end": e2e,
            "per_layer": layers,
        }
        os.makedirs(os.path.join(self.work, "runs"), exist_ok=True)
        path = os.path.join(
            self.work, "runs", f"{args.workload}-seed{args.seed}-{self.stamp}.json"
        )
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"run record: {os.path.relpath(path, ROOT)}")
        for name, unit in END_TO_END_UNITS.items():
            print(f"{name} = {e2e[name]:.6g} {unit}")
        print(f"wrong_docs_frac = {wrong_frac:.6g} frac "
              f"({verdict['wrong']} of {verdict['attempted']} docs)")
        if layers is not None:
            for name, unit in PER_LAYER_UNITS.items():
                print(f"{name} = {layers[name]:.6g} {unit}")
        if args.trace:
            metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
        return verdict["wrong"] == 0, verdict["attempted"], verdict["wrong"], metrics

    # -- traced run -------------------------------------------------------------
    def traced(self, wl, untraced_dps: float, cold_setup) -> tuple[dict, list[dict]]:
        """Per-layer metrics from a traced session: spans around every call,
        the Spark event log, control runs and the in-process replay.  Also
        returns the traced passes, whose outputs are checked like the
        untraced ones."""
        tracer = spans.Tracer()
        root = tracer.add("perfbench.traced_run", time.time(), 0.0, None,
                          workload=self.args.workload, seed=self.args.seed)
        log_dir = os.path.join(self.work, "eventlog", self.stamp)
        os.makedirs(log_dir)
        self.setup(wl, self.conf(log_dir), "traced", tracer, root)
        timed = self.passes(wl, "traced", tracer, root)

        # each control adds one layer to its base control; wall time and
        # process-tree CPU less the JIT compiler and GC threads (counted as
        # a layer of their own) are each the smaller of two runs
        controls, controls_cpu, base = {}, {}, {}
        scratch = os.path.join(self.out_root, "control-write")
        for name, (fn, base[name]) in wl.controls(self.spark, scratch).items():
            runs, cpus = [], []
            for _ in range(2):
                cpu0 = procfs.tree_cpu(self.jvm)
                w0, t0 = time.time(), time.perf_counter()
                with procfs.ThreadSampler(self.jvm) as sampler:
                    fn()
                runs.append(time.perf_counter() - t0)
                cpus.append(procfs.tree_cpu(self.jvm)["total"] - cpu0["total"]
                            - _jit_gc(sampler.by_class()))
                tracer.add(f"control.{name}", w0, w0 + runs[-1], root, cpu_s=cpus[-1])
            controls[name] = min(runs)
            controls_cpu[name] = min(cpus)
        shutil.rmtree(scratch, ignore_errors=True)

        def layer(values, name):
            return values[name] - (values[base[name]] if base[name] else 0.0)

        inputs = wl.replay_inputs(self.args.seed, REPLAY_DOCS[self.args.workload])
        # the kernel takes text rows, PDFs and markup; the archive front
        # door takes any bytes
        kernel_in = [
            (k, b, t) for k, b, t in inputs
            if b is None or b[:5] == b"%PDF-" or b.lstrip()[:1] == b"<"
        ]
        rid = tracer.add("replay.kernel", time.time(), 0.0, root)
        samples = spans.replay_kernel(tracer, rid, kernel_in)
        tracer.spans[rid - 1]["end"] = time.time()
        rid = tracer.add("replay.any_text", time.time(), 0.0, root)
        samples.update(spans.replay_any_text(
            tracer, rid, [(k, b) for k, b, _ in inputs if b is not None]))
        tracer.spans[rid - 1]["end"] = time.time()

        self.spark.stop()
        self.spark = None
        log = spans.EventLog(spans.read_event_log(log_dir))
        calls = []
        for p in timed:
            c = log.call_summary(p["start"], p["end"])
            log.add_spans(tracer, p["span"], c)
            calls.append(c)
        tracer.spans[root - 1]["end"] = time.time()

        m = {}
        m["session.get_spark_s"], m["session.warmup_s"] = cold_setup
        m["sources.scan_s"] = controls["scan"]
        m["operators.arrow_roundtrip_s"] = layer(controls, "identity")
        m["operators.udf_s"] = layer(controls, "udf")
        med = lambda key: _median([c[key] for c in calls])
        m["operators.python_in_mb"] = med("python_in_mb")
        m["operators.python_out_mb"] = med("python_out_mb")
        m["operators.task_skew"] = med("task_skew")
        for name, key in (("kernel.extract_document_us", "kernel.extract_document"),
                          ("html_extract.extract_main_text_us", "html_extract.extract_main_text"),
                          ("pdf_parse.extract_pdf_pages_us", "pdf_parse.extract_pdf_pages"),
                          ("operators.any_text.extract_any_us", "operators.any_text.extract_any")):
            st = spans.stats(samples[key])
            for q in ("p50", "p99", "mean"):
                if f"{name}.{q}" in PER_LAYER_UNITS:
                    m[f"{name}.{q}"] = st[q]
        for fn in ("extract_fields_direct", "extract_fields_ocr",
                   "concat_pages_direct", "label_spans"):
            m[f"kernel.{fn}_us.mean"] = spans.stats(samples[f"kernel.{fn}"])["mean"]
        m["operators.any_text.sniff_doc_type_us.mean"] = spans.stats(
            samples["operators.any_text.sniff_doc_type"])["mean"]
        m["entry.overhead_s"] = _median([p["wall_s"] for p in timed]) - controls["udf"]
        m["entry.pre_write_s"] = med("pre_write_s")
        m["entry.write_s"] = med("write_s")
        m["entry.post_write_s"] = med("post_write_s")
        m["entry.spark_jobs"] = med("spark_jobs")
        m["entry.exchanges"] = med("exchanges")
        m["entry.shuffle_write_mb"] = med("shuffle_write_mb")
        m["entry.output_mb"] = med("output_mb")
        m["entry.output_files"] = _median([
            sum(f.endswith(".parquet") for _, _, fs in os.walk(p["out"]) for f in fs)
            for p in timed
        ])

        # CPU of an entry-point call by layer, each layer measured on its
        # own: source, exchange, Arrow round trip, UDF and write from the
        # control runs' process-tree CPU (less JIT and GC); the entry
        # point's own jobs (lineage, summary queries: every job that runs
        # no Python) from the event log plus its driver threads (planning,
        # commit) from /proc; and the call's JIT compiler and GC threads
        # from /proc.  What no layer covers stays unattributed.
        layer_cpu = {
            "source": controls_cpu["scan"],
            **{k: layer(controls_cpu, c) for k, c in (
                ("exchange", "exchange"), ("arrow_roundtrip", "identity"),
                ("udf", "udf"), ("write", "write"))},
        }
        entry_jobs = [c["jvm_only_jobs_cpu_s"] + p["threads_cpu_s"].get("jvm.driver", 0.0)
                      for c, p in zip(calls, timed)]
        jit_gc = [_jit_gc(p["threads_cpu_s"]) for p in timed]
        for k, v in layer_cpu.items():
            m[f"trace.cpu_s.{k}"] = v
        m["trace.cpu_s.entry_jobs"] = _median(entry_jobs)
        m["trace.cpu_s.jit_gc"] = _median(jit_gc)
        m["trace.attributed_cpu_frac"] = _median([
            (sum(layer_cpu.values()) + e + j) / p["cpu_s"]["total"]
            for e, j, p in zip(entry_jobs, jit_gc, timed)
        ])
        traced_dps = _median([wl.docs / p["wall_s"] for p in _settled(timed)])
        m["trace.overhead_frac"] = 1.0 - traced_dps / untraced_dps

        summary = {
            "metrics": m,
            "controls_s": controls,
            "controls_cpu_s": controls_cpu,
            "calls": [{k: v for k, v in c.items() if k != "jobs"} for c in calls],
            "passes": [{k: v for k, v in p.items() if k != "out"} for p in timed],
            "extract_any_us_by_doc_type": {
                k[len(prefix):]: spans.stats(v)
                for prefix in ["operators.any_text.extract_any."]
                for k, v in samples.items() if k.startswith(prefix)
            },
        }
        path = os.path.join(self.work, "traces",
                            f"{self.args.workload}-seed{self.args.seed}-{self.stamp}.json")
        tracer.write(path, summary)
        print(f"span file: {os.path.relpath(path, ROOT)}")
        return m, timed


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=corpus.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size factor (tests use a small corpus)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.environ.get("PERFBENCH_WORK", os.path.join(ROOT, ".perfbench"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM and its Python workers inherit these: imports of the program
    # resolve to this checkout, and scratch files stay inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # fail fast, before any work, when the program is not in this checkout
    import pdf_extraction_spark.session  # noqa: F401
    import jobs.ingest_archive  # noqa: F401
    import tests.oracle  # noqa: F401

    bench = Bench(args, work)
    try:
        correct, attempted, failed, metrics = bench.run()
    finally:
        bench.shutdown()
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
