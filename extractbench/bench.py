"""One benchmark run: a workload, a seed, a timed budget, traced or not.

Three sessions, each opened by one set-up cycle (session, input load
and a warm-up pass, timed into ``setup_s``), all at ``local[cores]``:

1. A fresh JVM.  Transform workloads run the correctness pass;
   ``commit_resume`` runs the uninterrupted pipeline, as a submitted
   job would, then the simulated kill.
2. Transform workloads: timed passes (``l4``).  ``commit_resume``:
   the restart.
3. Transform workloads: more timed passes.  ``commit_resume``: a
   second kill and restart, then a restart of the finished job.

A traced run has Spark's event log on from the JVM launch, runs the
commit cycle on the transform workloads too, repeats the passes in a
session with the event log off and times ``local[1]`` passes in one
more; after Spark stops it replays every row through the wrapped
per-document layer functions in this process.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

from ragflow_spark.session import get_spark
from ragflow_spark.spark import pipeline, udfs
from ragflow_spark.spark.pipeline import PipelineConfig, transform_chunks, transform_extracted

from . import checks, corpus, eventlog
from .procmem import PeakRss
from .stats import median, summary
from .trace import Tracer, patched

WORKLOADS = ("cc_mix", "pdf_heavy", "commit_resume")
TRANSFORM = PipelineConfig(out_dir="")
COMMIT = {"n_buckets": 8, "buckets_per_commit": 4}  # two commit groups
SAMPLE_EVERY = 8  # untraced runs check one row in 8 against the single-process reference
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

DOC_LAYERS = [  # (module, attribute the caller looks up, span name)
    ("ragflow_spark.spark.udfs", "extract_document_ex", "spark.udfs.extract_document"),
    ("ragflow_spark.spark.udfs", "chunk_sections", "chunk.templates.chunk"),
    ("ragflow_spark.spark.udfs", "content_tokens", "text.tokenizer.content_tokens"),
    ("ragflow_spark.extract.html", "decode_bytes", "text.codec.decode"),
    ("ragflow_spark.extract.html", "parse_html", "extract.dom.parse"),
    ("ragflow_spark.extract.html", "select_main_content", "extract.boilerplate.select"),
    ("ragflow_spark.extract.html", "render_text", "extract.render.render"),
    ("ragflow_spark.parsers.pdf", "extract_pdf_text_mode", "parsers.pdf.extract"),
]
COMMIT_LAYERS = [
    ("ragflow_spark.spark.pipeline", "_delete_path", "spark.pipeline.delete_path"),
    ("ragflow_spark.spark.pipeline", "_write_stage_marker", "spark.pipeline.stage_marker"),
    ("ragflow_spark.spark.pipeline", "_append_manifest", "spark.pipeline.manifest_append"),
    ("ragflow_spark.catalog", "Catalog.overwrite_partitions", "catalog.overwrite_partitions"),
]


class BenchError(Exception):
    """The run cannot produce a comparable result (not a mismatch)."""


def cores_available() -> int:
    return len(os.sched_getaffinity(0))


def load_pins() -> dict:
    if not os.path.exists(PINS):
        return {}
    with open(PINS, encoding="utf-8") as f:
        return json.load(f)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, root: str):
        if workload not in WORKLOADS:
            raise BenchError(f"unknown workload {workload!r}; choose from {', '.join(WORKLOADS)}")
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.cores = cores_available()
        tag = f"{workload}-seed{seed}-trace{int(traced)}"
        self.results = os.path.join(root, ".bench_work", "results")
        self.work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
        self.tag = tag
        self.tracer = Tracer(clock=time.time)
        self.setup_s: list[float] = []
        self.session_rss: list[int] = []
        self.samples: dict[str, list[float]] = {}
        self.failed: set[str] = set()
        self.run_failures: list[str] = []
        self.chunk_counts: set[int] = set()
        self.facts: dict = {}
        self.spark = None
        self.pages = None

    # ---- set-up -------------------------------------------------------

    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        self.docs = corpus.build(self.workload, self.seed)
        self.pages_dir = os.path.join(self.work, "pages")
        self.warm_dir = os.path.join(self.work, "warm")
        corpus.write_parquet(self.docs, self.pages_dir, n_files=4 * self.cores)
        corpus.write_parquet(self.docs[: 16 * self.cores], self.warm_dir, n_files=self.cores)
        self.facts["input_digest"] = corpus.input_digest(self.docs)
        self.facts["doc_types"] = corpus.type_histogram(self.docs)
        self.facts["n_docs"] = len(self.docs)
        self.facts["input_bytes"] = sum(len(d.html) for d in self.docs)
        self.facts["gen_s"] = time.perf_counter() - t0
        pin = self.pin()
        if pin and pin["input"] != self.facts["input_digest"]:
            raise BenchError(
                f"input digest {self.facts['input_digest'][:16]} differs from the pinned "
                f"{pin['input'][:16]} for {self.workload} seed {self.seed}: the generator "
                "changed, so this run is not comparable with earlier ones"
            )

    def pin(self) -> dict | None:
        return load_pins().get(self.workload, {}).get(str(len(self.docs)), {}).get(str(self.seed))

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def start(self, cores: int, label: str) -> None:
        """One set-up cycle on the shipped session factory at
        ``local[cores]`` (``get_spark`` reads the core count from
        SPARK_GRAFT_CPUS)."""
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{label}", trace=label):
            self.spark = get_spark("extractbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.pages = self.spark.read.parquet(self.pages_dir)
            self.group(f"setup.{label}")
            transform_chunks(self.spark.read.parquet(self.warm_dir), TRANSFORM).count()
        self.setup_s.append(time.perf_counter() - t0)
        conf = dict(self.spark.sparkContext.getConf().getAll())
        self.facts.setdefault("spark_conf", {})[label] = conf

    def stop(self) -> None:
        """End the session and record its peak RSS.  A full GC then
        hands the JVM heap the session grew back to the OS, so the next
        session's peak is its own."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = self.pages = None
        SparkContext._jvm.java.lang.System.gc()
        self.session_rss.append(self.rss.lap())

    def event_log_at_launch(self) -> None:
        """Spark's event log for every session of this run: the confs
        go on the JVM's launch line, where every SparkConf, and so
        every ``get_spark`` session, picks them up."""
        self.event_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.event_dir, exist_ok=True)
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"

    def event_log_off(self) -> None:
        """No event log for later sessions (a system property set now
        overrides the launch-line conf)."""
        from pyspark import SparkContext

        SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")

    # ---- timed passes -------------------------------------------------

    def jvm_gc_s(self) -> float:
        """Summed collection time of the JVM's garbage collectors (in
        local mode one JVM runs every task)."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def passes(self, label: str, budget_s: float, min_n: int, max_n: int = 12) -> None:
        """Timed ``transform_chunks(...).count()`` passes over the whole
        input until ``budget_s`` is spent (at least ``min_n``), appended
        to the ``label`` samples; each pass is job group
        ``label.<index>``."""
        walls = self.samples.setdefault(label, [])
        gc = self.samples.setdefault(f"{label}.gc_s", [])
        deadline = time.perf_counter() + budget_s
        for k in range(max_n):
            if k >= min_n and time.perf_counter() >= deadline:
                break
            name = f"{label}.{len(walls)}"
            self.group(name)
            gc0 = self.jvm_gc_s() if self.traced else 0.0
            with self.tracer.span(name, trace=label):
                t0 = time.perf_counter()
                n = transform_chunks(self.pages, TRANSFORM).count()
                walls.append(time.perf_counter() - t0)
            if self.traced:
                gc.append(self.jvm_gc_s() - gc0)
            self.chunk_counts.add(n)

    # ---- correctness --------------------------------------------------

    def fail(self, what: str) -> None:
        self.run_failures.append(what)

    def check_pinned(self, key: str, digest: str) -> None:
        self.facts[f"{key}_digest"] = digest
        pin = self.pin()
        if pin and key in pin and pin[key] != digest:
            self.fail(f"{key} digest {digest[:16]} differs from the pinned {pin[key][:16]}")

    def check_transform(self) -> None:
        """Per-url text oracle on every row, pinned digests, and the
        single-process reference on a seeded sample of rows."""
        self.group("check")
        with self.tracer.span("check", trace="check"):
            ex = (
                transform_extracted(self.pages)
                .select("url", "doc_type", "title", "text", "sections", "extract_mode")
                .toPandas()
            )
            ch = (
                transform_chunks(self.pages, TRANSFORM)
                .select("url", "chunk_ord", "content", "chunk_id")
                .toPandas()
            )
        self.extracted = {
            u: (t, ti, tx, list(s), m)
            for u, t, ti, tx, s, m in zip(
                ex["url"], ex["doc_type"], ex["title"], ex["text"], ex["sections"], ex["extract_mode"]
            )
        }
        rows = list(zip(ch["url"], ch["chunk_ord"], ch["content"], ch["chunk_id"]))
        self.chunks = by_url(rows)
        self.chunk_counts.add(len(rows))
        self.failed.update(
            checks.extraction_mismatches(
                self.docs, {u: (e[0], e[2], e[4]) for u, e in self.extracted.items()}
            )
        )
        if len(ex) != len(self.docs) or len(self.extracted) != len(self.docs):
            self.fail(f"{len(ex)} extracted rows, {len(self.extracted)} urls for {len(self.docs)} docs")
        self.check_pinned("text", checks.row_digest((u, e[2]) for u, e in self.extracted.items()))
        self.check_pinned("chunks", checks.row_digest(rows))
        sample = self.docs[self.seed % SAMPLE_EVERY :: SAMPLE_EVERY]
        self.failed.update(checks.reference_mismatches(sample, self.extracted, self.chunks))
        pdf_modes = [e[4] for e in self.extracted.values() if e[0] == "pdf"]
        self.facts["pdf_fallback"] = sum(m != "interp" for m in pdf_modes)
        self.facts["pdf_rows"] = len(pdf_modes)

    # ---- commit path --------------------------------------------------

    def pipeline_run(self, name: str) -> dict:
        """One timed ``run_pipeline`` into the run's output dir, appended
        to the ``name`` samples; job group and span ``name.<index>``."""
        cfg = PipelineConfig(out_dir=os.path.join(self.work, "out"), **COMMIT)
        walls = self.samples.setdefault(name, [])
        call = f"{name}.{len(walls)}"
        with patched(self.tracer, COMMIT_LAYERS if self.traced else []):
            self.group(call)
            with self.tracer.span(call, trace=call):
                t0 = time.perf_counter()
                totals = pipeline.run_pipeline(self.spark, self.pages, cfg)
                walls.append(time.perf_counter() - t0)
        return totals

    def commit_run(self) -> None:
        """Uninterrupted run_pipeline into a fresh dir."""
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        first = self.pipeline_run("commit.run")
        chunks_dir = PipelineConfig(out_dir=out).chunks_dir
        committed = checks.read_chunks(chunks_dir)
        self.committed_digest = checks.row_digest(committed)
        self.facts["chunks_dir_bytes"] = dir_bytes(chunks_dir)
        for p in checks.manifest_problems(out, COMMIT["n_buckets"]):
            self.fail(f"manifest after the uninterrupted run: {p}")
        if first["n_pages"] != len(self.docs):
            self.fail(f"run_pipeline saw {first['n_pages']} pages of {len(self.docs)}")
        if first["n_extract_err"] or first["n_pdf_fallback"]:
            self.fail(f"run_pipeline degraded rows: {first}")
        self.chunk_counts.add(len(committed))
        self.facts["commit_totals"] = first

    def kill(self) -> None:
        """The simulated kill: the manifest rows of the last half of the
        commit groups are deleted, nothing else."""
        self.killed = checks.simulate_kill(os.path.join(self.work, "out"))
        self.facts["killed_buckets"] = self.killed

    def restart(self) -> None:
        """The restart after the kill: it must re-run exactly the killed
        buckets, reproduce the committed chunks exactly and leave every
        bucket done exactly once in the manifest."""
        out = os.path.join(self.work, "out")
        second = self.pipeline_run("commit.resume")
        resumed = checks.read_chunks(PipelineConfig(out_dir=out).chunks_dir)
        for p in checks.manifest_problems(out, COMMIT["n_buckets"]):
            self.fail(f"manifest after the restart: {p}")
        if checks.row_digest(resumed) != self.committed_digest:
            self.fail("committed chunks after the restart differ from the uninterrupted run")
        if second["buckets"] != len(self.killed):
            self.fail(f"restart re-ran {second['buckets']} buckets, the kill removed {len(self.killed)}")
        if self.workload == "commit_resume":
            self.check_pinned("chunks", self.committed_digest)
            sample = self.docs[self.seed % SAMPLE_EVERY :: SAMPLE_EVERY]
            self.failed.update(checks.reference_mismatches(sample, None, by_url(resumed)))

    def noop_restart(self) -> None:
        """Restarting a finished job must find every bucket committed."""
        totals = self.pipeline_run("commit.noop")
        if totals["buckets"] != 0:
            self.fail(f"restart of a finished job re-ran {totals['buckets']} buckets")

    # ---- the run ------------------------------------------------------

    def execute(self) -> dict:
        os.makedirs(self.work, exist_ok=True)
        self.facts["loadavg_1m_start"] = os.getloadavg()[0]
        self.facts["nproc"] = self.cores
        self.make_inputs()
        self.rss = PeakRss().start()
        half = 0.5 * self.seconds
        commit = self.workload == "commit_resume"
        if self.traced:
            self.event_log_at_launch()
        try:
            self.start(self.cores, "cold")
            if commit:  # a fresh JVM, as a submitted job gets
                self.commit_run()
                self.kill()
            else:
                self.check_transform()
            self.stop()
            self.start(self.cores, "warm")
            if commit:  # each restart comes up in a new session
                self.restart()
            if self.traced or not commit:
                self.passes("l4", half, min_n=2)
            self.stop()
            self.start(self.cores, "warm2")
            if commit:  # killed again at the same point; then a finished job
                self.kill()
                self.restart()
                self.noop_restart()
            if self.traced or not commit:
                self.passes("l4", half, min_n=2)
            if self.traced:
                self.traced_extras(half)
        finally:
            self.stop()
            self.rss.stop()
        if len(self.chunk_counts) != 1:
            self.fail(f"chunk counts differ between passes: {sorted(self.chunk_counts)}")
        self.facts["loadavg_1m_end"] = os.getloadavg()[0]
        self.facts["samples"] = self.samples
        self.facts["setup_samples"] = self.setup_s
        self.facts["session_peak_rss_mb"] = [b / (1 << 20) for b in self.session_rss]
        return self.layers() if self.traced else self.end_to_end()

    def traced_extras(self, budget_s: float) -> None:
        """Traced runs only: the commit cycle on a transform workload's
        corpus (so the commit-path counters exist everywhere), the
        ``l4`` passes again with the event log off (the tracing
        overhead) and ``local[1]`` passes (the 1-to-nproc scaling)."""
        if self.workload != "commit_resume":
            self.commit_run()
            self.kill()
            self.restart()
        self.stop()
        self.event_log_off()
        self.start(self.cores, "untraced")
        self.passes("untraced", budget_s, min_n=2)
        self.stop()
        self.start(1, "local1")
        self.passes("l1", budget_s, min_n=3)

    def end_to_end(self) -> dict:
        n = len(self.docs)
        if self.workload == "commit_resume":
            docs_per_s = n / self.samples["commit.run"][0]
            resume_s = median(self.samples["commit.resume"])
        else:
            dps = [n / w for w in self.samples["l4"]]
            self.facts["summaries"] = {"l4_docs_per_s": summary(dps)}
            # a transform job keeps no checkpoint: after a kill it
            # reruns from the start, so its recovery time is one pass
            docs_per_s = median(dps)
            resume_s = median(self.samples["l4"])
        self.facts.setdefault("summaries", {})["setup_s"] = summary(self.setup_s)
        return {
            "docs_per_s": docs_per_s,
            "resume_s": resume_s,
            "setup_s": median(self.setup_s),
            # the typical session's peak: a G1 heap's growth in any one
            # session swings by a third from run to run
            "peak_rss_mb": median(self.session_rss) / (1 << 20),
        }

    # ---- the traced run's per-layer figures ---------------------------

    def add_job_spans(self, log: eventlog.EventLog) -> None:
        """Each Spark job becomes a span under the benchmark call span
        that submitted it (matched by job group), each stage a span
        under its job."""
        calls = {sp.name: sp for sp in self.tracer.spans if sp.parent is None}
        for job in log.jobs.values():
            call = calls.get(job.group)
            js = self.tracer.add(
                "spark.job", job.submit_ms / 1000, (job.end_ms or job.submit_ms) / 1000,
                call.id if call else None, trace=job.group, job_id=job.job_id,
            )
            for st in log.stages_of(job):
                self.tracer.add(
                    "spark.stage", (st.submit_ms or job.submit_ms) / 1000,
                    (st.complete_ms or st.submit_ms or job.submit_ms) / 1000, js.id,
                    trace=job.group, stage=st.name, tasks=len(st.tasks), python=st.is_python,
                )

    def commit_layers(self, log: eventlog.EventLog) -> dict:
        run = next(sp for sp in self.tracer.spans if sp.name == "commit.run.0")
        spans = [sp for sp in self.tracer.spans if sp.parent is not None and sp.name.startswith(
            ("spark.pipeline.", "catalog."))]
        in_run = [sp for sp in spans if sp.parent == run.id]
        # the input is staged between the last delete of the stage dir
        # and the stage marker (a run too small to stage has neither)
        marker = min(
            (sp.start for sp in in_run if sp.name == "spark.pipeline.stage_marker"), default=None
        )
        staged_from = max(
            (sp.end for sp in in_run if sp.name == "spark.pipeline.delete_path"
             and marker is not None and sp.end <= marker),
            default=marker,
        )
        writes = [sp for sp in spans if sp.name == "catalog.overwrite_partitions"]
        appends = sorted(
            (sp for sp in spans if sp.name == "spark.pipeline.manifest_append"), key=lambda s: s.start
        )
        groups = [
            next(a.end for a in appends if a.parent == w.parent and a.start >= w.end) - w.start
            for w in writes
        ]
        st = eventlog.pass_stats(log, "commit.run.0")
        return {
            "spark.pipeline.stage_write_s": marker - staged_from if marker else 0.0,
            "spark.pipeline.commit_groups": sum(w.parent == run.id for w in writes),
            "spark.pipeline.group_s_p50": median(groups),
            "spark.pipeline.group_s_max": max(groups),
            "spark.pipeline.jobs": st.jobs,
            "spark.pipeline.shuffle_bytes": st.shuffle_write_bytes,
            "spark.pipeline.manifest_append_s": median([a.end - a.start for a in appends]),
            "catalog.bytes_written_per_input_byte": (
                self.facts["chunks_dir_bytes"] / self.facts["input_bytes"]
            ),
        }

    def layers(self) -> dict:
        log = eventlog.parse_dir(self.event_dir)
        self.add_job_spans(log)
        local = [eventlog.pass_stats(log, f"l4.{k}") for k in range(len(self.samples["l4"]))]

        def med(f) -> float:
            return median([f(p) for p in local])

        # the first replay is untimed: lazy imports, tables and the
        # tokenizer's caches fill here, as they do in a reused worker
        refs = replay(self.docs)
        t0 = time.perf_counter()
        with patched(self.tracer, DOC_LAYERS):
            replay(self.docs, self.tracer)
        t1 = time.perf_counter()
        replay(self.docs)
        replay_s = time.perf_counter() - t1
        traced_replay_s = t1 - t0
        if self.workload != "commit_resume":  # every row against the reference
            self.failed.update(
                checks.reference_mismatches(self.docs, self.extracted, self.chunks, refs)
            )
        totals = self.tracer.totals()
        n = len(self.docs)
        types = self.facts["doc_types"]
        html, pdf = types.get("html", 0), types.get("pdf", 0)

        def per_ms(name: str, denom: int) -> float:
            return 1000 * totals.get(name, {}).get("self_s", 0.0) / denom if denom else 0.0

        tokens = totals.get("text.tokenizer.content_tokens", {"calls": 0})["calls"]
        if self.workload == "commit_resume":
            ct = self.facts["commit_totals"]
            fallback, pdf_rows = ct["n_pdf_fallback"], ct["n_pdf"]
        else:
            fallback, pdf_rows = self.facts["pdf_fallback"], self.facts["pdf_rows"]
        python_task_s = med(lambda p: p.python_task_ms) / 1000
        dps = median([n / w for w in self.samples["l4"]])
        dps_untraced = median([n / w for w in self.samples["untraced"]])
        dps_1 = median([n / w for w in self.samples["l1"]])
        out = {
            "spark.scale_eff_1_to_4": dps_untraced / (self.cores * dps_1),
            "text.codec.decode_ms": per_ms("text.codec.decode", html),
            "extract.dom.parse_ms": per_ms("extract.dom.parse", html),
            "extract.boilerplate.select_ms": per_ms("extract.boilerplate.select", html),
            "extract.render.render_ms": per_ms("extract.render.render", html),
            "parsers.pdf.extract_ms": per_ms("parsers.pdf.extract", pdf),
            "parsers.pdf.fallback_rate": fallback / pdf_rows if pdf_rows else 0.0,
            "spark.udfs.extract_document_ms": per_ms("spark.udfs.extract_document", n),
            "spark.udfs.docs_by_type.html": html,
            "spark.udfs.docs_by_type.pdf": pdf,
            "spark.udfs.docs_by_type.other": n - html - pdf,
            "chunk.templates.chunk_ms": per_ms("chunk.templates.chunk", n),
            "chunk.chunks_per_doc": tokens / n,
            "text.tokenizer.content_tokens_ms": per_ms("text.tokenizer.content_tokens", tokens),
            "spark.udfs.python_task_s": python_task_s,
            "spark.udfs.boundary_share": 1 - replay_s / python_task_s,
            "spark.tasks": med(lambda p: p.tasks),
            "spark.task_ms_p50": med(lambda p: p.task_ms_p50),
            "spark.task_ms_max": med(lambda p: p.task_ms_max),
            "spark.task_skew": med(lambda p: p.task_skew),
            "spark.slot_occupancy": med(lambda p: p.slot_occupancy(self.cores)),
            # young collections come every few passes: pool them
            "spark.gc_share": sum(self.samples["l4.gc_s"]) / sum(self.samples["l4"]),
            **self.commit_layers(log),
            "bench.traced_dps_ratio": dps / dps_untraced,
            "bench.span_overhead_ratio": traced_replay_s / replay_s,
        }
        self.facts["replay_s"] = replay_s
        self.facts["layer_totals"] = totals
        return out


def by_url(rows) -> dict[str, list[tuple[int, str]]]:
    out: dict[str, list[tuple[int, str]]] = {}
    for url, ordinal, content, *_ in rows:
        out.setdefault(url, []).append((int(ordinal), content))
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f)) for f in files if not f.startswith((".", "_"))
        )
    return total


def replay(docs: list[corpus.Doc], tracer: Tracer | None = None) -> dict[str, tuple]:
    """The chunk UDF's per-document work, in this process: extraction,
    chunking and tokenization of every row, each row under its own
    trace id when traced."""
    refs = {}
    for d in docs:
        with tracer.span("doc", trace=d.url) if tracer else nullcontext():
            ex, chunks = checks.reference_doc(d)
            for c in chunks:
                udfs.content_tokens(c)
        refs[d.url] = (ex, chunks)
    return refs
