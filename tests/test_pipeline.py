"""E2E: synthetic pages -> extract -> chunks on local Spark, plus the
checkpoint/resume invariants (BASELINE.md target: kill/restart without
duplicate or missing urls)."""

import pytest
from pyspark.sql import functions as F

from ragflow_spark.data.pagegen import generate_pages, pages_dataframe
from ragflow_spark.spark.pipeline import (
    PipelineConfig,
    _append_manifest,
    committed_buckets,
    run_pipeline,
    transform_chunks,
    transform_extracted,
    with_bucket,
)


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, 120, seed=42, partitions=4).cache()


def _multi_wave(spark):
    """A session whose file scans plan 16 KB splits: the fixture's
    file-backed pages then span more splits than cores, so a
    multi-group run over them stages its input.  Its own session, so
    the shared one keeps its confs."""
    s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    return s


class TestGenerator:
    def test_deterministic(self):
        a = generate_pages(30, seed=7)
        b = generate_pages(30, seed=7)
        assert a == b

    def test_schema(self, pages):
        assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}
        assert pages.count() == 120


class TestTransforms:
    def test_extracted(self, spark, pages):
        ext = transform_extracted(pages)
        rows = ext.collect()
        assert len(rows) == 120
        # every url exactly once
        assert len({r["url"] for r in rows}) == 120
        # articles got real text
        nonempty = [r for r in rows if r["text"]]
        assert len(nonempty) > 80
        # extraction lineage: every generator PDF goes through the
        # positioned-char interpreter (zero fallbacks), non-PDFs are
        # untagged (VERDICT r3 #3)
        pdfs = [r for r in rows if r["doc_type"] == "pdf"]
        assert pdfs and all(r["extract_mode"] == "interp" for r in pdfs)
        assert all(r["extract_mode"] == "" for r in rows if r["doc_type"] != "pdf")

    def test_chunks(self, spark, pages):
        cfg = PipelineConfig(out_dir="/tmp/_unused")
        chunks = transform_chunks(pages, cfg)
        pdf = chunks.toPandas()
        assert (pdf.groupby("url")["chunk_ord"].apply(
            lambda s: sorted(s) == list(range(len(s)))
        )).all()
        assert pdf["content"].str.strip().str.len().gt(0).all()
        # chunk_id = xxhash64(content, url): two rows share an id
        # exactly when they share (url, content)
        ids = pdf.groupby(["url", "content"])["chunk_id"].nunique()
        assert (ids == 1).all()
        pairs = pdf.drop_duplicates(subset=["url", "content"])
        assert pairs["chunk_id"].is_unique
        assert not pdf.duplicated(subset=["url", "chunk_ord"]).any()

    def test_deterministic_plan(self, spark, pages):
        cfg = PipelineConfig(out_dir="/tmp/_unused")
        a = transform_chunks(pages, cfg).orderBy("url", "chunk_ord").toPandas()
        b = transform_chunks(pages, cfg).orderBy("url", "chunk_ord").toPandas()
        assert a.equals(b)


class TestPipelineResume:
    def test_full_run_then_resume(self, spark, pages, tmp_path):
        out = str(tmp_path / "out")
        cfg = PipelineConfig(out_dir=out, n_buckets=4, buckets_per_commit=2)
        totals = run_pipeline(spark, pages, cfg)
        assert totals["n_pages"] == 120
        chunks = spark.read.parquet(cfg.chunks_dir)
        urls_in = {r["url"] for r in pages.select("url").collect()}
        urls_out = {r["url"] for r in chunks.select("url").distinct().collect()}
        # every url that produced sections is covered; none duplicated
        dup = (
            chunks.groupBy("url", "chunk_ord").count().where(F.col("count") > 1).count()
        )
        assert dup == 0
        assert urls_out <= urls_in
        # rerun: everything already committed -> nothing reprocessed
        totals2 = run_pipeline(spark, pages, cfg)
        assert totals2["n_pages"] == 0 and totals2["skipped"] == 4
        # interpreter-fallback observability: generator PDFs all take
        # the positioned-char path, and the manifest records it
        assert totals["n_pdf"] > 0 and totals["n_pdf_fallback"] == 0
        manifest = spark.read.parquet(cfg.manifest_dir)
        agg = manifest.groupBy().sum("n_pdf", "n_pdf_fallback").collect()[0]
        assert agg[0] == totals["n_pdf"] and agg[1] == 0
        # one manifest file per commit group (4 buckets, 2 per group):
        # the crash window a kill between data commit and manifest
        # write leaves is exactly one group's file
        import os

        files = [f for f in os.listdir(cfg.manifest_dir) if f.endswith(".parquet")]
        assert len(files) == 2

    def test_fallback_counted(self, spark, tmp_path):
        """A PDF the interpreter cannot read (even one that emits ZERO
        chunks) still surfaces in the manifest fallback count."""
        rows = [
            # corrupt PDF: interpreter fails, scanner finds nothing,
            # no ground-truth text -> zero chunks emitted
            ("https://x.test/page-0", None, b"%PDF-1.4\n<<garbage", None, "English"),
            ("https://x.test/page-1", None,
             b"<html><body><p>Plain article body here.</p></body></html>",
             "Plain article body here.", "English"),
        ]
        pages = spark.createDataFrame(
            rows, schema="url string, warc_ts timestamp, html binary, text string, lang string"
        )
        cfg = PipelineConfig(out_dir=str(tmp_path / "fb"), n_buckets=2)
        totals = run_pipeline(spark, pages, cfg)
        assert totals["n_pdf"] == 1 and totals["n_pdf_fallback"] == 1
        manifest = spark.read.parquet(cfg.manifest_dir)
        assert manifest.where(F.col("n_pdf_fallback") > 0).count() == 1

    def test_partial_manifest_resume(self, spark, pages, tmp_path):
        out = str(tmp_path / "out2")
        cfg = PipelineConfig(out_dir=out, n_buckets=4, buckets_per_commit=1)
        # simulate a killed run: process only bucket 0 by filtering input
        bucketed = with_bucket(pages, 4)
        first = bucketed.where(F.col("bucket") == 0).drop("bucket")
        run_pipeline(spark, first, cfg)
        assert committed_buckets(spark, cfg) >= {0}
        # resume with the full input: remaining buckets get processed
        run_pipeline(spark, pages, cfg)
        assert committed_buckets(spark, cfg) == {0, 1, 2, 3}
        chunks = spark.read.parquet(cfg.chunks_dir)
        dup = (
            chunks.groupBy("url", "chunk_ord").count().where(F.col("count") > 1).count()
        )
        assert dup == 0
        # coverage: all urls with extractable content present
        ext_urls = {
            r["url"]
            for r in transform_extracted(pages)
            .where(F.col("n_sections") > 0)
            .select("url")
            .collect()
        }
        out_urls = {r["url"] for r in chunks.select("url").distinct().collect()}
        assert ext_urls == out_urls


class TestStageReuse:
    def test_stage_reused_on_resume_and_rebuilt_on_new_input(
        self, spark, pages, tmp_path, monkeypatch
    ):
        """A resumed run over the SAME file-backed input reuses the
        staged bucket partitioning (no second staging pass); a run over
        a DIFFERENT file set rebuilds it.  Non-file-backed inputs never
        reuse (fingerprint None)."""
        import os

        from ragflow_spark.spark import pipeline as P

        src = str(tmp_path / "pages_src")
        pages.write.parquet(src)
        mw = _multi_wave(spark)
        fpages = mw.read.parquet(src)
        assert fpages.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
        out = str(tmp_path / "out")
        cfg = PipelineConfig(out_dir=out, n_buckets=4, buckets_per_commit=1)

        # first run dies after the first commit group (simulated crash)
        from ragflow_spark.catalog import Catalog

        real_write = Catalog.overwrite_partitions
        calls = {"n": 0}

        def dying(self, df, path, col, **kw):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated mid-run kill")
            return real_write(self, df, path, col, **kw)

        monkeypatch.setattr(Catalog, "overwrite_partitions", dying)
        with pytest.raises(RuntimeError):
            run_pipeline(mw, fpages, cfg)
        monkeypatch.undo()

        stage_dir = f"{out}/stage_nb4"
        marker = f"{stage_dir}/{P.STAGE_MARKER}"
        assert os.path.exists(marker)  # crash was AFTER staging
        committed_before = committed_buckets(spark, cfg)
        assert len(committed_before) == 1

        # resume: remaining buckets processed, stage REUSED (no second
        # staging pass -> no new marker write), then cleaned up
        writes = {"n": 0}
        real_marker = P._write_stage_marker

        def counting(spark_, d, fp):
            writes["n"] += 1
            return real_marker(spark_, d, fp)

        monkeypatch.setattr(P, "_write_stage_marker", counting)
        totals = run_pipeline(mw, fpages, cfg)
        monkeypatch.undo()
        assert writes["n"] == 0  # stage was reused, not rebuilt
        assert committed_buckets(spark, cfg) == {0, 1, 2, 3}
        # scratch stage dropped after the last commit group
        assert not os.path.exists(stage_dir)
        chunks = spark.read.parquet(cfg.chunks_dir)
        dup = (
            chunks.groupBy("url", "chunk_ord").count().where(F.col("count") > 1).count()
        )
        assert dup == 0
        manifest = spark.read.parquet(cfg.manifest_dir)
        assert manifest.groupBy().sum("n_pages").collect()[0][0] == 120
        assert totals["n_pages"] < 120  # committed bucket was skipped
        # manifest wall_sec is attributed to buckets that carried pages
        assert manifest.where(F.col("wall_sec") <= 0).count() == 0
        # lineage: every committed bucket records the input fingerprint
        fps = {r[0] for r in manifest.select("input_fp").distinct().collect()}
        assert fps == {P._input_fingerprint(fpages)[0]}

        # a different file set fingerprints differently (would restage)
        src2 = str(tmp_path / "pages_src2")
        pages.write.parquet(src2)
        fp1 = P._input_fingerprint(fpages)[0]
        fp2 = P._input_fingerprint(mw.read.parquet(src2))[0]
        assert fp1 and fp2 and fp1 != fp2

    def test_non_file_input_never_reuses_stage(self, spark, pages):
        from ragflow_spark.spark.pipeline import _input_fingerprint

        assert _input_fingerprint(pages)[0] is None  # createDataFrame-backed

    def test_in_place_rewrite_changes_fingerprint(self, spark, pages, tmp_path):
        """Same file names, rewritten contents -> different fingerprint
        (paths alone would collide)."""
        import shutil

        from ragflow_spark.spark.pipeline import _input_fingerprint

        src = str(tmp_path / "src")
        pages.limit(50).coalesce(1).write.parquet(src)
        fp1 = _input_fingerprint(spark.read.parquet(src))[0]
        moved = str(tmp_path / "aside")
        shutil.move(src, moved)
        pages.limit(80).coalesce(1).write.parquet(src)
        # normalize names: copy the single part file over the original name
        import glob, os

        old = sorted(glob.glob(f"{moved}/part-*.parquet"))[0]
        new = sorted(glob.glob(f"{src}/part-*.parquet"))[0]
        os.rename(new, f"{src}/{os.path.basename(old)}")
        fp2 = _input_fingerprint(spark.read.parquet(src))[0]
        assert fp1 != fp2

    def test_one_group_resume_drops_a_killed_runs_stage(
        self, spark, pages, tmp_path, monkeypatch
    ):
        """A staged run killed before its last group leaves its stage
        behind; the resume has one group left, so it reads the input
        directly, and still drops the stage when it commits."""
        import os

        from ragflow_spark.catalog import Catalog
        from ragflow_spark.spark import pipeline as P

        src = str(tmp_path / "src")
        pages.write.parquet(src)
        mw = _multi_wave(spark)
        fpages = mw.read.parquet(src)
        cfg = PipelineConfig(out_dir=str(tmp_path / "out"), n_buckets=4, buckets_per_commit=2)
        real_write = Catalog.overwrite_partitions
        calls = {"n": 0}

        def dying(self, df, path, col, **kw):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated mid-run kill")
            return real_write(self, df, path, col, **kw)

        monkeypatch.setattr(Catalog, "overwrite_partitions", dying)
        with pytest.raises(RuntimeError, match="simulated"):
            run_pipeline(mw, fpages, cfg)
        monkeypatch.undo()
        stage_dir = f"{cfg.out_dir}/stage_nb4"
        assert os.path.exists(f"{stage_dir}/{P.STAGE_MARKER}")
        assert len(committed_buckets(spark, cfg)) == 2

        marks = []
        monkeypatch.setattr(P, "_write_stage_marker", lambda *a: marks.append(a))
        totals = run_pipeline(mw, fpages, cfg)
        assert totals["buckets"] == 2 and marks == []  # one unstaged group
        assert committed_buckets(spark, cfg) == {0, 1, 2, 3}
        assert not os.path.exists(stage_dir)


class TestInputChangeGuard:
    """An unstaged run of several groups re-reads its input in every
    group; an input rewritten in place between two groups must stop the
    run before the later group is marked done."""

    def test_input_rewritten_between_groups_raises(self, spark, tmp_path, monkeypatch):
        import pyarrow.parquet as pq

        from extractbench.checks import read_chunks, row_digest, simulate_kill
        from ragflow_spark.catalog import Catalog
        from ragflow_spark.spark import pipeline as P

        src = str(tmp_path / "src")
        pages_dataframe(spark, 60, seed=11, partitions=4).write.parquet(src)
        cfg = PipelineConfig(out_dir=str(tmp_path / "out"), n_buckets=4, buckets_per_commit=2)
        real_write = Catalog.overwrite_partitions
        calls = {"n": 0}

        def rewriting(self, df, path, col, **kw):
            real_write(self, df, path, col, **kw)
            calls["n"] += 1
            if calls["n"] == 1:  # after the first group's write
                pages_dataframe(spark, 30, seed=12, partitions=1).write.mode(
                    "append"
                ).parquet(src)

        monkeypatch.setattr(Catalog, "overwrite_partitions", rewriting)
        with pytest.raises(RuntimeError, match="input changed"):
            run_pipeline(spark, spark.read.parquet(src), cfg)
        monkeypatch.undo()
        assert calls["n"] == 2  # the later group wrote, then the guard fired
        rows = pq.read_table(cfg.manifest_dir).to_pylist()
        assert sorted(r["bucket"] for r in rows) == [0, 1]

        # a resume over the rewritten input equals a clean run over it
        new = spark.read.parquet(src)
        assert run_pipeline(spark, new, cfg)["buckets"] == 4
        clean = PipelineConfig(out_dir=str(tmp_path / "clean"), n_buckets=4, buckets_per_commit=2)
        run_pipeline(spark, new, clean)
        assert row_digest(read_chunks(cfg.chunks_dir)) == row_digest(
            read_chunks(clean.chunks_dir)
        )

        # a one-group restart reads its input's state once, for the
        # fingerprint, as before
        assert simulate_kill(clean.out_dir) == [2, 3]
        reads = []
        real_state = P._dirs_state
        monkeypatch.setattr(P, "_dirs_state", lambda *a: reads.append(a) or real_state(*a))
        assert run_pipeline(spark, new, clean)["buckets"] == 2
        assert len(reads) == 1

    def test_out_dir_inside_a_globbed_input_directory_is_rejected(self, spark, tmp_path):
        """An input read by a glob can share its directory with the
        output.  The fingerprint's content summaries are recursive, so
        the run's own writes would move it; such a run stops before it
        writes anything.  An output beside the input still runs."""
        import os

        data = str(tmp_path / "data")
        pages_dataframe(spark, 20, seed=13, partitions=2).write.parquet(data)
        pages = spark.read.parquet(f"{data}/*.parquet")
        inside = PipelineConfig(out_dir=f"{data}/out", n_buckets=4, buckets_per_commit=2)
        with pytest.raises(ValueError, match="inside the input directory"):
            run_pipeline(spark, pages, inside)
        assert not os.path.exists(inside.out_dir)
        beside = PipelineConfig(out_dir=f"{data}_out", n_buckets=4, buckets_per_commit=2)
        assert run_pipeline(spark, pages, beside)["n_pages"] == 20


class TestSessionConfs:
    """Engine code sets no session conf: overwrite modes ride each write
    as options, and staged group scans get their splits from Spark's
    own split rule."""

    def test_engine_calls_leave_session_confs_unchanged(
        self, spark, pages, tmp_path, monkeypatch
    ):
        import os

        from ragflow_spark.catalog import Catalog
        from ragflow_spark.spark import pipeline as P

        spark = _multi_wave(spark)
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key, None)
        # the ambient mode that would keep stale stage buckets if the
        # stage write followed the session
        spark.conf.set(key, "dynamic")
        try:
            src = str(tmp_path / "src")
            pages.write.parquet(src)
            fpages = spark.read.parquet(src)
            cfg = PipelineConfig(
                out_dir=str(tmp_path / "out"), n_buckets=4, buckets_per_commit=2
            )

            # a staged two-group run
            before = spark.conf.getAll
            totals = run_pipeline(spark, fpages, cfg, resume=False)
            assert totals["n_pages"] == 120
            assert spark.conf.getAll == before

            # a run killed in its second group
            real_write = Catalog.overwrite_partitions
            calls = {"n": 0}

            def dying(self, df, path, col, **kw):
                calls["n"] += 1
                if calls["n"] == 2:
                    raise RuntimeError("simulated mid-run kill")
                return real_write(self, df, path, col, **kw)

            monkeypatch.setattr(Catalog, "overwrite_partitions", dying)
            with pytest.raises(RuntimeError):
                run_pipeline(spark, fpages, cfg, resume=False)
            assert spark.conf.getAll == before

            # restage over a changed, smaller input after the kill: the
            # killed run's stage (all 4 buckets) must not survive
            stage_dir = f"{cfg.out_dir}/stage_nb4"
            assert os.path.exists(f"{stage_dir}/bucket=3")
            src2 = str(tmp_path / "src2")
            with_bucket(pages, 4).where("bucket < 3").drop("bucket").write.parquet(src2)
            small = spark.read.parquet(src2)
            calls["n"] = 1  # die in the first group, right after staging
            with pytest.raises(RuntimeError):
                run_pipeline(spark, small, cfg)
            monkeypatch.undo()
            assert spark.conf.getAll == before
            assert sorted(
                d for d in os.listdir(stage_dir) if not d.startswith((".", "_"))
            ) == ["bucket=0", "bucket=1", "bucket=2"]
            assert P._read_stage_marker(spark, stage_dir) == P._input_fingerprint(small)[0]
            assert spark.read.parquet(stage_dir).count() == small.count()

            # a direct dynamic partition commit
            cat_dir = str(tmp_path / "cat")
            df = with_bucket(pages, 4)
            Catalog(spark).overwrite_partitions(df, cat_dir, "bucket")
            Catalog(spark).overwrite_partitions(
                df.where("bucket = 1"), cat_dir, "bucket"
            )
            assert spark.conf.getAll == before
            assert spark.read.parquet(cat_dir).count() == 120
            # the commit stays dynamic under a static session mode too
            spark.conf.set(key, "static")
            Catalog(spark).overwrite_partitions(
                df.where("bucket = 2"), cat_dir, "bucket"
            )
            assert spark.read.parquet(cat_dir).count() == 120
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    def test_staged_group_scans_read_one_split_per_core(
        self, spark, pages, tmp_path, monkeypatch
    ):
        """Spark's default split confs (session.configure's) read each
        group's pruned scan of the staged input as >= one split per
        core at local[4], 8 buckets in groups of 4."""
        from ragflow_spark.spark import pipeline as P

        kept = []
        monkeypatch.setattr(P, "_delete_path", lambda spark_, path: kept.append(path))
        cfg = PipelineConfig(
            out_dir=str(tmp_path / "out"), n_buckets=8, buckets_per_commit=4
        )
        run_pipeline(spark, pages.repartition(8), cfg)
        stage_dir = f"{cfg.out_dir}/stage_nb8"
        assert kept == [stage_dir]
        par = spark.sparkContext.defaultParallelism
        assert par == 4
        staged = spark.read.parquet(stage_dir)
        for group in ([0, 1, 2, 3], [4, 5, 6, 7]):
            scan = staged.where(F.col("bucket").isin(group))
            assert scan.rdd.getNumPartitions() >= par


def _manifest_row(bucket: int) -> dict:
    """A done row of a 2-bucket run over input fingerprint "fp"."""
    return {
        "bucket": bucket,
        "status": "done",
        "n_pages": 3,
        "n_chunks": 5,
        "bytes_in": 700,
        "n_pdf": 1,
        "n_pdf_fallback": 0,
        "n_extract_err": 0,
        "wall_sec": 0.5,
        "ts": 1.0 + bucket,
        "input_fp": "fp",
        "n_buckets": 2,
    }


class TestDriverManifest:
    """The manifest is a parquet log the driver writes and reads
    through the Hadoop FS API: no Spark job in either direction, and
    files from the earlier Spark-written format read alongside."""

    # the DDL the manifest was written with through Spark
    SPARK_DDL = (
        "bucket int, status string, n_pages long, n_chunks long, "
        "bytes_in long, n_pdf long, n_pdf_fallback long, "
        "n_extract_err long, "
        "wall_sec double, ts double, input_fp string, n_buckets int"
    )

    def _parquet_files(self, d):
        import os

        return sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    def test_append_and_resume_read_launch_no_spark_job(self, spark, tmp_path):
        cfg = PipelineConfig(out_dir=str(tmp_path / "out"), n_buckets=2)
        sc = spark.sparkContext
        group = "manifest-io-no-job"
        sc.setJobGroup(group, "manifest append + resume read")
        try:
            _append_manifest(spark, cfg, [_manifest_row(0), _manifest_row(1)])
            assert committed_buckets(spark, cfg, input_fp="fp") == {0, 1}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    def test_unreadable_manifest_raises(self, spark, tmp_path):
        """A corrupt manifest file must not read as "nothing committed"
        (that would re-run every bucket and skip the n_buckets guard)."""
        import os

        import pyarrow as pa

        cfg = PipelineConfig(out_dir=str(tmp_path / "out"), n_buckets=2)
        # only a missing manifest directory means "nothing committed"
        assert committed_buckets(spark, cfg) == set()
        _append_manifest(spark, cfg, [_manifest_row(0)])
        with open(os.path.join(cfg.manifest_dir, "part-x.parquet"), "wb") as f:
            f.write(b"not a parquet file")
        with pytest.raises(pa.ArrowInvalid):
            committed_buckets(spark, cfg)

    def test_spark_written_and_driver_written_files_resume_together(
        self, spark, tmp_path
    ):
        import os

        import pyarrow.parquet as pq

        from extractbench.checks import manifest_problems

        out = str(tmp_path / "out")
        cfg = PipelineConfig(out_dir=out, n_buckets=2)
        # bucket 0 written the earlier way, through a Spark job
        (
            spark.createDataFrame([_manifest_row(0)], schema=self.SPARK_DDL)
            .coalesce(1)
            .write.mode("append")
            .option("compression", "zstd")
            .parquet(cfg.manifest_dir)
        )
        (spark_file,) = self._parquet_files(cfg.manifest_dir)
        # bucket 1 written by the driver
        _append_manifest(spark, cfg, [_manifest_row(1)])
        (driver_file,) = set(self._parquet_files(cfg.manifest_dir)) - {spark_file}

        def names_types(path):
            return [(f.name, f.type) for f in pq.read_schema(path)]

        assert names_types(driver_file) == names_types(spark_file)
        assert committed_buckets(spark, cfg, input_fp="fp") == {0, 1}

        # a write cut short before its rename leaves a truncated
        # `_tmp.*` file: every manifest reader must skip it
        with open(driver_file, "rb") as f:
            data = f.read()
        with open(os.path.join(cfg.manifest_dir, "_tmp.part-1-x.zstd.parquet"), "wb") as f:
            f.write(data[: len(data) // 2])
        assert committed_buckets(spark, cfg, input_fp="fp") == {0, 1}
        assert spark.read.parquet(cfg.manifest_dir).count() == 2
        assert manifest_problems(out, 2) == []


def test_catalog_iceberg_identifiers(spark):
    """In Iceberg mode, filesystem paths handed to the catalog map to
    valid table identifiers (no '/' survives), deterministically and
    INJECTIVELY for distinct paths — '_'-folding alone collapses
    '/tmp/out-2/x', '/tmp/out_2/x' and '/tmp/out/2/x' onto one table
    (silent cross-pipeline data mixing), so a short content hash of
    the original path disambiguates."""
    import re

    from ragflow_spark.catalog import Catalog

    cat = Catalog(spark, fmt="iceberg")
    ident = cat._ident("/tmp/out/chunks")
    assert re.fullmatch(r"lake\.tmp_out_chunks_[0-9a-f]{8}", ident)
    assert ident == cat._ident("/tmp/out/chunks")  # deterministic
    # plain table names stay human-readable, no hash suffix
    assert cat._ident("pages") == "lake.pages"
    assert cat._ident("ns.pages") == "lake.ns.pages"
    # the cases '_'-folding collapses must stay distinct
    idents = {
        cat._ident(p)
        for p in (
            "/tmp/out/chunks",
            "/tmp/other/chunks",
            "/tmp/out-2/chunks",
            "/tmp/out_2/chunks",
            "/tmp/out/2/chunks",
        )
    }
    assert len(idents) == 5


class TestResumeLineageGuards:
    def _fpages(self, spark, tmp_path, n=120, seed=42, name="src"):
        from ragflow_spark.data.pagegen import pages_dataframe

        src = str(tmp_path / name)
        pages_dataframe(spark, n, seed=seed, partitions=4).write.parquet(src)
        return spark.read.parquet(src)

    def test_bucket_count_mismatch_raises(self, spark, tmp_path):
        """A manifest written under --buckets N must refuse a resume
        under a different N: bucket 3 of 64 holds different urls than
        bucket 3 of 32, so intersecting the numberings silently loses
        pages and keeps stale chunk partitions."""
        import pytest

        fpages = self._fpages(spark, tmp_path)
        out = str(tmp_path / "out")
        run_pipeline(spark, fpages, PipelineConfig(out_dir=out, n_buckets=4))
        with pytest.raises(ValueError, match="n_buckets=4"):
            run_pipeline(spark, fpages, PipelineConfig(out_dir=out, n_buckets=8))

    def test_different_input_reruns_buckets(self, spark, tmp_path):
        """Committed buckets carry the input fingerprint; a resume over
        a DIFFERENT file set must re-run them (overwriting their
        partitions) instead of trusting chunks from another input."""
        a = self._fpages(spark, tmp_path, seed=42, name="src_a")
        b = self._fpages(spark, tmp_path, seed=43, name="src_b")
        out = str(tmp_path / "out")
        cfg = PipelineConfig(out_dir=out, n_buckets=4)
        run_pipeline(spark, a, cfg)
        totals = run_pipeline(spark, b, cfg)
        assert totals["n_pages"] == 120  # nothing skipped across inputs
        chunks = spark.read.parquet(cfg.chunks_dir)
        urls_b = {r["url"] for r in b.select("url").collect()}
        out_urls = {r["url"] for r in chunks.select("url").distinct().collect()}
        assert out_urls <= urls_b  # no stale chunks from input A remain

    def test_pageless_buckets_converge_on_file_backed_input(
        self, spark, tmp_path
    ):
        """More buckets than pages can fill: the empty buckets must be
        recorded done (for THIS fingerprinted input), so a rerun of a
        finished dataset is a no-op instead of an eternal restage."""
        fpages = self._fpages(spark, tmp_path, n=6)
        out = str(tmp_path / "out")
        cfg = PipelineConfig(out_dir=out, n_buckets=16, buckets_per_commit=4)
        run_pipeline(spark, fpages, cfg)
        totals2 = run_pipeline(spark, fpages, cfg)
        assert totals2["n_pages"] == 0 and totals2["skipped"] == 16
        assert totals2["buckets"] == 0  # nothing left in todo

    def test_extract_errors_counted_separately_from_pdf_fallback(
        self, monkeypatch
    ):
        """A crashing NON-PDF row must count in n_extract_err, not in
        n_pdf_fallback — folding them together let the per-bucket 'PDF
        fallback rate' exceed 100% and made an HTML regression look
        like a PDF interpreter regression.  Unit-level on the chunker
        UDF with a stubbed extractor (the real one is hardened to never
        raise, so the crash path cannot be reached from data)."""
        import pandas as pd

        from ragflow_spark.spark import udfs as U

        def fake_extract(html, text, lang):
            if html and b"CRASH" in bytes(html):
                return "html", "", text or "", [text or "x"], "extract-error"
            if html and html[:5] == b"%PDF-":
                return "pdf", "", "pdf body", ["pdf body"], "scan"
            return "html", "", "body", ["body"], ""

        monkeypatch.setattr(U, "extract_document_ex", fake_extract)

        class FakeAcc:
            def __init__(self):
                self.value = {}

            def add(self, d):
                for k, v in d.items():
                    cur = self.value.setdefault(k, [0] * len(v))
                    for i in range(len(v)):
                        cur[i] += v[i]

        acc = FakeAcc()
        fn = U.make_chunk_batches(mode_acc=acc)
        batch = pd.DataFrame(
            {
                "url": [f"https://x.test/p{i}" for i in range(4)],
                "html": [
                    b"%PDF-1.4 fine",  # PDF, fallback mode 'scan'
                    b"<html>CRASH</html>",  # non-PDF extraction crash
                    b"<html>CRASH</html>",  # another crash, same bucket
                    b"<html>ok</html>",  # healthy row
                ],
                "text": ["t"] * 4,
                "lang": ["English"] * 4,
                "bucket": [7, 7, 7, 7],
            }
        )
        out = pd.concat(list(fn(iter([batch]))))
        stats = dict(zip(U.BUCKET_STATS, acc.value[7]))
        n_pdf, n_fb, n_err = stats["n_pdf"], stats["n_pdf_fallback"], stats["n_extract_err"]
        assert (n_pdf, n_fb, n_err) == (1, 1, 2)  # fb <= pdf; errs apart
        # the page, byte and chunk counts of the same rows: one chunk
        # each (the stub emits one one-line section per row)
        assert stats["n_pages"] == 4
        assert stats["bytes_in"] == sum(len(h) for h in batch["html"])
        assert stats["n_chunks"] == len(out) == 4


@pytest.mark.parametrize(
    "field, bad",
    [
        ("n_buckets", {"n_buckets": 0}),
        ("n_buckets", {"n_buckets": -2}),
        ("buckets_per_commit", {"buckets_per_commit": 0}),
    ],
)
def test_invalid_config_raises_before_any_spark_work(spark, pages, tmp_path, field, bad):
    """n_buckets < 1 used to commit nothing and report success (a silent
    loss of every page); buckets_per_commit 0 failed only after staging
    the whole input.  The config now refuses them, naming the field,
    before run_pipeline touches the output dir."""
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=field):
        run_pipeline(spark, pages, PipelineConfig(out_dir=str(out), **bad))
    assert not out.exists()


# a one-page PDF whose misspelled /Contents key hides the stream from
# the positioned-char interpreter: the legacy scanner reads it (a fallback)
_DAMAGED_PDF = (
    b"%PDF-1.4\n"
    b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
    b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
    b"3 0 obj << /Type /Page /Parent 2 0 R /Contentz 4 0 R >> endobj\n"
    b"4 0 obj << /Length 56 >> stream\n"
    b"BT /F1 12 Tf 72 720 Td (Hello) Tj 0 -14 Td (World) Tj ET"
    b"\nendstream endobj\n"
    b"trailer << /Root 1 0 R >>\n%%EOF"
)


class TestManifestCounts:
    """Every count of a manifest row comes from the chunk UDF's
    per-bucket accumulator; each must equal the same count taken from
    the data, on the staged multi-group path and on the unstaged
    single-group resume path."""

    N = 8

    @staticmethod
    def _bucket(n):
        return F.pmod(F.xxhash64("url"), F.lit(n)).cast("int").alias("bucket")

    def _expected(self, spark, fpages, cfg, cap):
        """bucket -> counts, from a groupBy over the pruned input and
        over the written chunks."""
        from ragflow_spark.spark.udfs import BUCKET_STATS

        kept = fpages.where(F.coalesce(F.length("html"), F.lit(0)) <= cap)
        pdf = F.col("doc_type") == "pdf"
        per_bucket = [
            kept.groupBy(self._bucket(self.N)).agg(
                F.count("*").alias("n_pages"),
                F.coalesce(F.sum(F.length("html")), F.lit(0)).alias("bytes_in"),
            ),
            spark.read.parquet(cfg.chunks_dir).groupBy("bucket").agg(
                F.count("*").alias("n_chunks")
            ),
            transform_extracted(fpages).groupBy(self._bucket(self.N)).agg(
                F.sum(pdf.cast("long")).alias("n_pdf"),
                F.sum((pdf & ~F.col("extract_mode").isin("", "interp")).cast("long")).alias(
                    "n_pdf_fallback"
                ),
                F.sum((F.col("extract_mode") == "extract-error").cast("long")).alias(
                    "n_extract_err"
                ),
            ),
        ]
        out = {b: dict.fromkeys(BUCKET_STATS, 0) for b in range(self.N)}
        for df in per_bucket:
            for r in df.collect():
                out[r["bucket"]].update({k: v for k, v in r.asDict().items() if k != "bucket"})
        return out

    def _check(self, spark, fpages, cfg, cap):
        import pyarrow.parquet as pq

        from ragflow_spark.spark.udfs import BUCKET_STATS

        expected = self._expected(spark, fpages, cfg, cap)
        rows = sorted(pq.read_table(cfg.manifest_dir).to_pylist(), key=lambda r: r["bucket"])
        assert [r["bucket"] for r in rows] == list(range(self.N))
        for r in rows:
            assert {k: r[k] for k in BUCKET_STATS} == expected[r["bucket"]], r["bucket"]
        return rows

    def test_counts_equal_the_data_staged_and_resumed(self, spark, pages, tmp_path, monkeypatch):
        import datetime as dt

        from extractbench.checks import simulate_kill
        from ragflow_spark.data.pagegen import PAGE_SCHEMA
        from ragflow_spark.spark import pipeline as P

        cap = pages.agg(F.max(F.length("html"))).first()[0]
        monkeypatch.setattr(P, "MAX_HTML_BYTES", cap)
        ts = dt.datetime(2024, 1, 1)
        over_url = "https://big.example.com/over-cap"
        extra = spark.createDataFrame(
            [
                (over_url, ts, b"<html><body><p>" + b"word " * cap + b"</p></body></html>",
                 "over the cap", "English"),
                ("https://pdf.example.com/damaged.pdf", ts, _DAMAGED_PDF, None, "English"),
            ],
            PAGE_SCHEMA,
        )
        # a second-group bucket left pageless: neither extra row is in it
        taken = {r[0] for r in extra.select(self._bucket(self.N)).collect()}
        empty = min(set(range(self.N // 2, self.N)) - taken)
        src = str(tmp_path / "src")
        pages.unionByName(extra).where(self._bucket(self.N) != empty).write.parquet(src)
        mw = _multi_wave(spark)
        fpages = mw.read.parquet(src)
        cfg = PipelineConfig(out_dir=str(tmp_path / "out"), n_buckets=self.N, buckets_per_commit=4)

        staged = []
        real_marker = P._write_stage_marker
        monkeypatch.setattr(
            P, "_write_stage_marker", lambda *a: staged.append(a) or real_marker(*a)
        )
        first = run_pipeline(mw, fpages, cfg)  # staged: two groups of 4
        assert len(staged) == 1
        rows = self._check(spark, fpages, cfg, cap)
        # the fixture reaches every case: the over-cap page is dropped,
        # the damaged PDF is a fallback, one bucket has no page
        assert first["n_pages"] == fpages.count() - 1
        assert sum(r["n_pdf_fallback"] for r in rows) == first["n_pdf_fallback"] == 1
        assert rows[empty]["n_pages"] == 0 and rows[empty]["wall_sec"] == 0.0
        for k in ("n_pages", "n_chunks", "n_pdf", "n_extract_err"):
            assert first[k] == sum(r[k] for r in rows)

        # the second group's manifest file is gone: the restart runs its
        # 4 buckets as one unstaged group (no stage marker written)
        assert simulate_kill(cfg.out_dir) == list(range(self.N // 2, self.N))
        marks = []
        monkeypatch.setattr(P, "_write_stage_marker", lambda *a: marks.append(a))
        second = run_pipeline(mw, fpages, cfg)
        assert second["buckets"] == self.N // 2 and marks == []
        rows = self._check(spark, fpages, cfg, cap)
        for k in ("n_pages", "n_chunks", "n_pdf", "n_pdf_fallback", "n_extract_err"):
            assert second[k] == sum(r[k] for r in rows[self.N // 2 :])
