"""The extraction job: pages -> extracted + chunks, resumable.

Restates the reference's ingest pipeline (SURVEY.md §3.1) as one Spark
job.  Scale design (100 TB / 10^12 rows):

* **Partitioning** — work is split into ``n_buckets`` url-hash buckets
  (``pmod(xxhash64(url), B)``), the Spark analogue of the reference's
  doc->task split (api/db/services/task_service.py:337-366).  Hashing
  full urls spreads even a viral host's pages uniformly, and AQE handles
  residual size skew; giant single documents are bounded by an html
  byte cap (reference caps at 128 MB, rag/settings.py:58).
* **Checkpoint / lineage** — each bucket commits independently: output
  is written with dynamic partition overwrite keyed by ``bucket``, then
  the driver writes the group's manifest rows (bucket, counts, bytes,
  wall time, status, input fingerprint) as one parquet file through the
  Hadoop FS API, and reads them back on restart — no Spark job either
  way.  The per-bucket counts come from the chunk UDF's accumulator
  (``_ModeStatsParam``), so a group's plan has the same size whatever
  its bucket count.  Committed buckets are skipped (the reference's
  digest/reuse logic, task_service.py:370-455); a bucket interrupted
  mid-write is simply overwritten — idempotent, no dupes, no holes.
* **No driver-side loops over rows** — the driver iterates over bucket
  *ids* only (B is O(thousands) at full scale, same order as the
  manifest itself).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from .udfs import (
    BUCKET_STATS,
    CHUNKS_SCHEMA,
    EXTRACTED_SCHEMA,
    extract_batches,
    make_chunk_batches,
)

MAX_HTML_BYTES = 128 * 1024 * 1024  # parity: rag/settings.py:58
# parquet codec for the chunk output, the staged input and the
# manifest: zstd writes 27% fewer bytes than snappy at equal wall time
# on this corpus (A/B at 100k pages, BENCH.md r4) — at 10^12 rows
# output bytes are the write cost
CODEC = "zstd"
# bound the number of commit groups per run: each group is one job over
# the input (its own buckets of the staged copy, or every split of an
# unstaged one-wave input), so unbounded group counts would turn a
# 4096-bucket corpus into thousands of jobs
MAX_COMMIT_GROUPS = 8


class _ModeStatsParam(AccumulatorParam):
    """Merges ``{bucket: [n_pages, n_chunks, bytes_in, n_pdf,
    n_pdf_fallback, n_extract_err]}`` dicts (``udfs.BUCKET_STATS``)
    from the chunker UDF (udfs.make_chunk_batches): every count of a
    bucket's manifest row.  The PDF counts record the interpreter
    fallback rate per bucket (VERDICT r3 #3: a corpus-scale
    interpreter regression must not silently degrade extraction to the
    legacy scanner / ``text`` column); n_extract_err counts the failed
    documents (mode "extract-error") of ANY type separately, so an HTML
    regression cannot pass for a PDF one.

    Exact, not at-least-once: the UDF runs in the write job's result
    stage (after the group's ``repartition`` shuffle when there is
    one), and Spark 4.1's DAGScheduler merges a result task's
    accumulator updates only on its partition's first successful
    completion; failed or killed attempts report only
    ``countFailedValues`` accumulators, which a Python accumulator is
    not.  ``CollectMetricsExec`` (``Observation``) reports through an
    accumulator under the same rule, so these counts are as exact as
    observed aggregates of the same stage.  A writer that shuffled
    after the UDF would move it to a map stage, whose re-runs merge
    again — for both channels alike."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            cur = a.get(k)
            if cur is None:
                a[k] = list(v)
            else:
                for i in range(len(v)):
                    cur[i] += v[i]
        return a


@dataclass
class PipelineConfig:
    out_dir: str
    template: str = "naive"
    budget: int = 128
    delimiters: str = "\n!?。；！？"
    n_buckets: int = 8
    buckets_per_commit: int = 4  # group buckets per write to bound job count

    def __post_init__(self):
        # checked before any Spark work: n_buckets < 1 used to commit
        # nothing and report success, buckets_per_commit < 1 failed
        # only after staging the whole input
        for name in ("n_buckets", "buckets_per_commit"):
            if getattr(self, name) < 1:
                raise ValueError(f"PipelineConfig.{name} must be >= 1, got {getattr(self, name)}")

    @property
    def chunks_dir(self) -> str:
        return os.path.join(self.out_dir, "chunks")

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.out_dir, "manifest")


def with_bucket(pages: DataFrame, n_buckets: int) -> DataFrame:
    """Url-hash bucketing (the north-rule partitioning).

    Hashing the FULL url — not the host — is itself the skew defence:
    a crawl's heaviest host (e.g. millions of wikipedia.org pages)
    spreads uniformly across all buckets instead of concentrating in
    one, so no explicit salting column is needed at this layer.  The
    stage write additionally sub-splits every bucket by a second url
    hash (see run_pipeline), which is the salting knob if a deployment
    ever buckets by host for locality."""
    return pages.withColumn("bucket", F.expr(f"CAST(pmod(xxhash64(url), {n_buckets}) AS INT)"))


def committed_buckets(
    spark: SparkSession, cfg: PipelineConfig, input_fp: str | None = None
) -> set[int]:
    """Buckets safely skippable on resume.  Only a missing manifest
    directory means "nothing committed"; an unreadable file raises.

    Two lineage guards (both recorded per manifest row):

    * a manifest written under a DIFFERENT ``n_buckets`` raises —
      bucket 3 of 64 holds different urls than bucket 3 of 32, so
      silently intersecting the two numberings loses pages (holes)
      and leaves stale chunk partitions (dupes).  The caller must
      rerun with the same --buckets or a fresh --out.
    * a row whose ``input_fp`` differs from the current input's is NOT
      counted done: the bucket's committed chunks came from another
      file set, so it re-runs and its partition is overwritten —
      correct output instead of silent cross-input mixing.  Rows with
      an empty fp (non-file-backed inputs) keep the legacy behavior.
    """
    jdir, fs = _hadoop_path(spark, cfg.manifest_dir)
    if not fs.exists(jdir):
        return set()
    rows = []
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        # hidden as by Spark's and pyarrow's readers: `.crc` files and
        # `_tmp.*` (a manifest write cut short before its rename)
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            table = pq.read_table(pa.BufferReader(_read_bytes(fs, st.getPath())))
            rows += [r for r in table.to_pylist() if r["status"] == "done"]
    for r in rows:
        nb = r.get("n_buckets")
        if nb is not None and int(nb) != cfg.n_buckets:
            raise ValueError(
                f"resume mismatch: manifest at {cfg.manifest_dir} was "
                f"written with n_buckets={nb}, this run uses "
                f"{cfg.n_buckets}; rerun with --buckets {nb} or a fresh "
                "--out"
            )
    done = set()
    for r in rows:
        row_fp = r["input_fp"] or ""
        if input_fp and row_fp and row_fp != input_fp:
            continue  # committed from a different input: re-run it
        done.add(r["bucket"])
    return done


# one manifest row per committed bucket: column for column the DDL it was
# once written with through Spark, so files written either way read as one
MANIFEST_SCHEMA = pa.schema([
    ("bucket", pa.int32()), ("status", pa.string()), ("n_pages", pa.int64()),
    ("n_chunks", pa.int64()), ("bytes_in", pa.int64()), ("n_pdf", pa.int64()),
    ("n_pdf_fallback", pa.int64()), ("n_extract_err", pa.int64()),
    ("wall_sec", pa.float64()), ("ts", pa.float64()), ("input_fp", pa.string()),
    ("n_buckets", pa.int32()),
])


def _append_manifest(spark: SparkSession, cfg: PipelineConfig, rows: list[dict]) -> None:
    """One manifest file per commit group, written by the driver: a
    temp file renamed into place, so a reader never sees half a file."""
    sink = pa.BufferOutputStream()
    table = pa.Table.from_pylist(rows, schema=MANIFEST_SCHEMA)
    pq.write_table(table, sink, compression=CODEC)
    name = f"part-{time.time_ns()}-{uuid.uuid4().hex}.{CODEC}.parquet"
    tmp, fs = _hadoop_path(spark, f"{cfg.manifest_dir}/_tmp.{name}")
    dst = spark._jvm.org.apache.hadoop.fs.Path(f"{cfg.manifest_dir}/{name}")
    _write_bytes(fs, tmp, sink.getvalue().to_pybytes())
    if not fs.rename(tmp, dst):
        raise OSError(f"manifest rename {tmp} -> {dst} failed")


def _prune_for_udf(pages: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """JVM-side projection in front of the Python stage.

    The ``text`` column is only ever consulted when ``html`` is absent
    or is a PDF whose text extraction may fail (spark/udfs.py,
    ``extract_document_ex``), so for ordinary HTML rows it is nulled out
    before crossing Arrow — roughly halving UDF input bytes at corpus
    scale.  The html byte cap mirrors the reference's 128 MB doc limit.
    ``keep_cols`` carries extra columns (e.g. ``bucket``) through.
    Written as SQL text: the same optimized plan as the Column API in
    two py4j calls instead of dozens.
    """
    # conservative: keeping text is always safe (nulling is purely an
    # IPC optimization), so match any %PDF- in the head — this covers
    # whitespace-prefixed PDFs, which sniff_doc_type lstrips for
    keep_text = (
        "html IS NULL OR length(html) = 0"
        " OR instr(substring(CAST(html AS STRING), 1, 64), '%PDF-') > 0"
    )
    return pages.selectExpr(
        *keep_cols, "url", "html", f"CASE WHEN {keep_text} THEN text END AS text", "lang"
    ).where(f"coalesce(length(html), 0) <= {MAX_HTML_BYTES}")


STAGE_MARKER = "_RAGFLOW_STAGED"


def _input_fingerprint(pages: DataFrame) -> tuple[str | None, list, str]:
    """``(fp, dirs, state)``: a fingerprint of the input's backing file
    set (None if not file-backed), the ``_input_dirs`` it resolved and
    the ``_dirs_state`` it hashed, so a run lists, resolves and reads
    its input once.  Cheap — driver-side metadata only, no job.  Used
    to gate stage reuse on resume: same files => same staged buckets.

    Beyond the sorted path list, the fingerprint folds in each unique
    parent directory's content summary (total bytes + file count) and
    its modification time, so an input rewritten *in place* with
    identical file names (e.g. a deterministic part-00000 naming
    scheme) still changes the fingerprint.  The file list crosses py4j
    as one joined string, so the call count does not grow with the
    file count; each parent directory costs about a dozen calls (its
    path and file system, then ``_dirs_state``'s five).  A single-dir
    input costs 24 calls in all, at 4 files or 64."""
    import hashlib

    spark = pages.sparkSession
    try:
        # one string, not one py4j call per element of the Java array
        seq = spark._jvm.scala.collection.immutable.ArraySeq
        joined = seq.unsafeWrapArray(pages._jdf.inputFiles()).mkString("\n")
    except Exception:
        return None, [], ""
    if not joined:
        return None, [], ""
    files = sorted(joined.split("\n"))
    h = hashlib.md5("\n".join(files).encode())
    try:
        dirs = _input_dirs(spark, files)
        state = _dirs_state(dirs)
        h.update(state.encode())
    except Exception:
        return None, [], ""  # can't verify contents -> never trust a stale stage
    # fold in a normalized logical-plan hash: the file set alone
    # cannot distinguish `read.parquet(p)` from `read.parquet(p)
    # .where(bucket == 0)` — a partial-input run would then mark its
    # pageless buckets done and a later full-input resume would trust
    # them (silent holes).  The ANALYZED plan string with expression
    # ids (#123) stripped is stable across sessions (verified: two
    # fresh JVMs hash identical plans identically), unlike
    # semanticHash(), whose value embeds the session's FileIndex and
    # changes on every restart — using it silently disabled
    # cross-invocation resume (caught by a back-to-back spark-submit
    # pair re-processing all 16 buckets).
    try:
        import re as _re

        plan = pages._jdf.queryExecution().analyzed().toString()
        h.update(_re.sub(r"#\d+L?", "#", plan).encode())
    except Exception:
        return None, [], ""  # can't verify lineage -> never trust a stale stage
    return h.hexdigest(), dirs, state


def _input_dirs(spark: SparkSession, files: list[str]) -> list[tuple]:
    """``(path, Hadoop path, file system)`` of each unique parent
    directory of ``files``."""
    return [(p, *_hadoop_path(spark, p)) for p in sorted({f.rsplit("/", 1)[0] for f in files})]


def _dirs_state(dirs: list[tuple]) -> str:
    """Each directory's content summary (total bytes + file count) and
    modification time, from live FS calls: five py4j calls a directory."""
    out = []
    for p, jpath, fs in dirs:
        summ = fs.getContentSummary(jpath)
        st = fs.getFileStatus(jpath)
        out.append(f"|{p}:{summ.getLength()}:{summ.getFileCount()}:{st.getModificationTime()}")
    return "".join(out)


def _reject_out_dir_inside(spark: SparkSession, out_dir: str, dirs: list[tuple]) -> None:
    """Raise if ``out_dir`` lies in an input directory (an input read
    by a glob such as ``/data/*.parquet`` with ``out_dir`` under
    ``/data``).  The fingerprint's content summaries are recursive, so
    the run's own writes would move it: an unstaged run's input-change
    guard would trip after its second group, and no resume could trust
    a committed bucket."""
    from urllib.parse import unquote, urlsplit

    def key(uri: str) -> tuple[str, str, str]:
        # file:/x (Hadoop's form) and file:///x (inputFiles' URI form,
        # percent-encoded) alike
        u = urlsplit(uri)
        return u.scheme, u.netloc, unquote(u.path).rstrip("/") + "/"

    jpath, fs = _hadoop_path(spark, out_dir)
    scheme, netloc, out = key(fs.makeQualified(jpath).toString())
    for p, _, _ in dirs:
        s, n, path = key(p)
        if (s, n) == (scheme, netloc) and out.startswith(path):
            raise ValueError(
                f"out_dir {out_dir!r} lies inside the input directory {p!r}: "
                "write the output outside every input directory"
            )


def _hadoop_path(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _read_bytes(fs, jpath) -> bytes:
    """A whole (small) file in one py4j call."""
    stream = fs.open(jpath)
    try:
        return stream.readAllBytes()
    finally:
        stream.close()


def _write_bytes(fs, jpath, data: bytes) -> None:
    out = fs.create(jpath, True)
    try:
        out.write(data)
    finally:
        out.close()


def _read_stage_marker(spark: SparkSession, stage_dir: str) -> str | None:
    try:
        jpath, fs = _hadoop_path(spark, f"{stage_dir}/{STAGE_MARKER}")
        if not fs.exists(jpath):
            return None
        return _read_bytes(fs, jpath).decode("utf-8", "replace").strip()
    except Exception:
        return None


def _write_stage_marker(spark: SparkSession, stage_dir: str, fp: str) -> None:
    try:
        jpath, fs = _hadoop_path(spark, f"{stage_dir}/{STAGE_MARKER}")
        _write_bytes(fs, jpath, fp.encode("utf-8"))
    except Exception:
        pass


def _delete_path(spark: SparkSession, path: str) -> None:
    try:
        jpath, fs = _hadoop_path(spark, path)
        fs.delete(jpath, True)
    except Exception:
        pass


def _chunk_plan(pruned: DataFrame, cfg: PipelineConfig, mode_acc=None) -> DataFrame:
    """The one place the chunk UDF is built: pruned page rows -> chunk
    rows (+ deterministic chunk id, computed JVM-side: parity with
    id = xxhash64(content + doc_id), rag/svr/task_executor.py:287)."""
    fn = make_chunk_batches(cfg.template, cfg.budget, cfg.delimiters, mode_acc=mode_acc)
    chunks = pruned.mapInPandas(fn, schema=CHUNKS_SCHEMA)
    return chunks.withColumn("chunk_id", F.expr("xxhash64(content, url)"))


def transform_chunks(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The logical plan: pages -> chunk rows, batch or streaming."""
    return _chunk_plan(_prune_for_udf(pages), cfg)


def transform_extracted(pages: DataFrame) -> DataFrame:
    return _prune_for_udf(pages).mapInPandas(extract_batches, schema=EXTRACTED_SCHEMA)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    resume: bool = True,
) -> dict:
    """Process all url-hash buckets not yet committed; returns metrics.

    Chunk writes go through the table catalog (ragflow_spark/catalog.py):
    Iceberg `overwritePartitions` when the runtime is on the classpath,
    parquet dynamic overwrite otherwise.  The manifest is a parquet log
    the driver writes itself in either mode (see _append_manifest).

    Staging.  A run of more than one commit group over an input that
    spans more than one wave of tasks (more splits than
    ``defaultParallelism``) first stages the input, shuffled into
    url-hash bucket partitions, so each group scans only its own
    buckets.  Every other run reads the input directly, once per group.
    Measured at 2, 4 and 8 groups (docs/PLANS.md): on a one-wave input
    the stage's shuffle and write never paid for themselves; at two
    waves the two paths tie; at four and eight waves an unstaged group
    re-reads every split and the stage wins every warm pair.  The
    10^12-document corpus is always multi-wave, so it always stages.

    Consistency.  A staged run reads a snapshot: every group scans the
    copy written from one fingerprinted input.  An unstaged run of
    several groups re-reads the input in every group, so after each
    later group's write it re-reads the part of the fingerprint that
    can move during a run (its directories' sizes, file counts and
    modification times) and raises, before that group's manifest
    append, if the input changed: the group's partitions are then
    overwritten but not marked done, and a resume redoes them.  A
    non-file-backed input has no fingerprint and must not change
    during the run.  Directory sizes are recursive, so ``out_dir`` must
    lie outside every input directory (a run raises before any work
    otherwise).
    """
    catalog = Catalog(spark)
    # input lineage: which file set produced each committed bucket —
    # recorded per manifest row, checked on resume, and reused as the
    # stage-reuse gate.
    fp, in_dirs, in_state = _input_fingerprint(pages)
    if in_dirs:
        _reject_out_dir_inside(spark, cfg.out_dir, in_dirs)
    done = committed_buckets(spark, cfg, input_fp=fp) if resume else set()
    todo = [b for b in range(cfg.n_buckets) if b not in done]
    # effective group size: at least buckets_per_commit, and no more
    # than MAX_COMMIT_GROUPS passes over the input per run
    bpc = max(cfg.buckets_per_commit, -(-len(todo) // MAX_COMMIT_GROUPS))
    par = spark.sparkContext.defaultParallelism
    # the chunker's input, pruned once over the bucketed table
    bucketed = _prune_for_udf(with_bucket(pages, cfg.n_buckets), keep_cols=("bucket",))
    # one probe of the input's split count (a no-op run needs none)
    n_splits = bucketed.rdd.getNumPartitions() if todo else 0
    stage_dir = f"{cfg.out_dir}/stage_nb{cfg.n_buckets}"
    multi_group = len(todo) > bpc
    staged = multi_group and n_splits > par
    # an unstaged run of several groups re-reads the input in each: the
    # guard below re-reads its directories' state after every later
    # group (the rest of the fingerprint, the file list the DataFrame
    # listed and its plan, cannot change within a run)
    watched = in_dirs if multi_group and not staged else []
    if staged:
        # stage the input once, partitioned by url-hash bucket (the
        # north-rule url-hash partitioning made physical): the bucket
        # column is computed, so an unpartitioned source can never
        # prune it, while every group below scans ONLY its bucket
        # partitions of the staged copy.  Marker-gated: a kill
        # mid-stage leaves no marker and the dir is rewritten; a
        # resume with the same out_dir AND the same input file set
        # reuses.  (The write's _SUCCESS does not say which input it
        # staged, so the gate is our own marker, stamped with a
        # fingerprint of the input file list — a non-file-backed input
        # fingerprints as None and is always restaged, never trusted
        # stale.)
        staged_ok = fp is not None and _read_stage_marker(spark, stage_dir) == fp
        if not (resume and staged_ok):
            # spread every bucket over ~one file per core of a group's
            # read, so the pruned group scan below already has enough
            # splits for the CPU-bound extraction stage — measured at
            # 200k pages/32 buckets this removes a 2-8s AQE shuffle
            # stage per group that a runtime repartition() costs.
            # Spark's own split rule reads them as >= one split per
            # core; the per-group repartition guard below remains.
            spread = -(-par // bpc)
            # stage the PRUNED projection (text nulled for plain
            # HTML rows, >cap rows dropped, warc_ts pruned): the
            # same row set the chunker sees, at roughly half the
            # staged bytes of the raw input
            (
                bucketed.repartition(
                    cfg.n_buckets * spread,
                    F.col("bucket"),
                    F.expr(f"pmod(xxhash64(url, 1), {spread})"),
                )
                # static whatever the session says: truncates old
                # buckets and marker, so a shrunken input leaves none
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "static")
                .option("compression", CODEC)
                .partitionBy("bucket")
                .parquet(stage_dir)
            )
            if fp is not None:
                _write_stage_marker(spark, stage_dir, fp)
        # a same-result re-projection over the already-pruned stage
        bucketed = _prune_for_udf(spark.read.parquet(stage_dir), keep_cols=("bucket",))
    totals = {
        "n_pages": 0,
        "n_chunks": 0,
        "buckets": len(todo),
        "skipped": len(done),
        "n_pdf": 0,
        "n_pdf_fallback": 0,
        "n_extract_err": 0,
    }
    # every per-bucket count flows back through one accumulator,
    # counted inside the chunk UDF as it reads each page (see
    # _ModeStatsParam for why it is exact): the group's plan carries
    # no per-bucket expressions, so it has the same size and the same
    # per-row work at 4 or 512 buckets a group, and a document that
    # emits zero chunks still counts
    mode_acc = spark.sparkContext.accumulator({}, _ModeStatsParam())

    for lo in range(0, len(todo), bpc):
        group = todo[lo : lo + bpc]
        t0 = time.time()
        subset = bucketed.where(f"bucket IN ({', '.join(map(str, group))})")
        # an input of fewer splits than cores, or a partition-pruned
        # staged slice (one-ish file per bucket), would starve the
        # CPU-bound extraction stage — spread it to the executor
        # parallelism (no-op at corpus scale, where a group spans
        # thousands of splits).  An unstaged group reads every split
        # of the input, so its count is the one probed above.
        if (subset.rdd.getNumPartitions() if staged else n_splits) < par:
            subset = subset.repartition(par)
        chunks = with_bucket(_chunk_plan(subset, cfg, mode_acc), cfg.n_buckets)
        catalog.overwrite_partitions(chunks, cfg.chunks_dir, "bucket", codec=CODEC)
        if lo and watched and _dirs_state(watched) != in_state:
            # this group re-read an input that changed since the run
            # began: its partitions are overwritten but not marked
            # done, so a resume redoes them against the new input
            raise RuntimeError(
                f"input changed during the run (groups before bucket {group[0]} "
                "are committed); rerun to resume against the new input"
            )
        wall = time.time() - t0
        mode_stats = mode_acc.value  # cumulative; buckets disjoint per group
        zero = [0] * len(BUCKET_STATS)
        live = [b for b in group if mode_stats.get(b, zero)[0]]
        rows = []
        for b in group:
            # EVERY processed bucket gets a manifest row, including
            # pageless ones (n_pages=0, wall 0): leaving them out of
            # the manifest left them in `todo` forever, so every later
            # run on a finished dataset re-staged the whole input and
            # re-ran full passes that produced nothing — resume never
            # converged on corpora smaller than the bucket count.
            # EXCEPT with unverifiable lineage (fp None, non-file-backed
            # input): "this bucket is empty" is only trustworthy for
            # the exact input that produced it, and without a
            # fingerprint a later resume cannot tell — same never-trust
            # rule the stage-reuse marker applies.
            counts = dict(zip(BUCKET_STATS, mode_stats.get(b, zero)))
            if counts["n_pages"] == 0 and fp is None:
                continue
            rows.append(
                {
                    "bucket": b,
                    "status": "done",
                    **counts,
                    # attribute the group's wall to the buckets that
                    # actually carried pages, so summing manifest
                    # wall_sec reproduces true runtime even when a
                    # group is mostly pageless
                    "wall_sec": wall / len(live) if counts["n_pages"] else 0.0,
                    "ts": time.time(),
                    "input_fp": fp or "",
                    "n_buckets": cfg.n_buckets,
                }
            )
            for k in totals.keys() & counts.keys():
                totals[k] += counts[k]
        if rows:
            _append_manifest(spark, cfg, rows)
    # every group committed: a staged scratch copy has served its
    # purpose — drop it rather than double the corpus's storage
    # footprint forever (a later resume that still has work restages).
    # Also when this run did not stage: a killed staged run's copy
    # would otherwise outlive a one-group resume.
    if todo:
        _delete_path(spark, stage_dir)
    return totals


def cli(argv: list[str] | None, spark: SparkSession) -> None:
    """The extraction job's CLI: parses ``argv`` (None reads
    ``sys.argv``) and runs the pipeline on ``spark``, the session
    ``scripts/spark_job.py`` builds under spark-submit."""
    # pragma: no cover - exercised by spark-submit e2e, not pytest
    import argparse

    ap = argparse.ArgumentParser(description="ragflow_spark extraction job")
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--out", required=True, help="output dir")
    ap.add_argument("--template", default="naive")
    ap.add_argument("--budget", type=int, default=128)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument(
        "--buckets-per-commit",
        type=int,
        default=PipelineConfig.buckets_per_commit,
        help="resume-point granularity floor (larger = coarser resume "
        "points).  The effective group size is also floored so one run "
        f"makes at most {MAX_COMMIT_GROUPS} commit groups.",
    )
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args(argv)
    pages = spark.read.parquet(args.pages)
    cfg = PipelineConfig(
        out_dir=args.out,
        template=args.template,
        budget=args.budget,
        n_buckets=args.buckets,
        buckets_per_commit=args.buckets_per_commit,
    )
    t0 = time.time()
    totals = run_pipeline(spark, pages, cfg, resume=not args.no_resume)
    # job-internal wall (excludes spark-submit/JVM startup): the
    # throughput figure that scales with executors
    totals["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(totals))
