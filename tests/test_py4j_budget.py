"""Driver-side py4j budget of the engine's plan building.

Every Column-API call is a few py4j round trips, so an expression list
that grows with the bucket count makes a commit group's plan cost grow
with it, and a Java array copied into Python one element at a time
makes a run's start cost grow with the input's file count.  These tests
count the gateway commands the driver sends: a commit group must cost
the same at 4 and at 16 buckets, a run's start the same over 4 and 64
input files, and the bounds below are ceilings with headroom, not exact
counts.
"""

import os
import threading

import pytest

from ragflow_spark.data.pagegen import PAGE_SCHEMA, generate_pages, pages_dataframe
from ragflow_spark.spark.pipeline import PipelineConfig, run_pipeline, transform_chunks

# py4j's "delete this object" command, sent by its finalizer thread
_GC_COMMAND = "m\nd\n"


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, 64, seed=5, partitions=4).cache()


@pytest.fixture
def commands(spark, monkeypatch):
    """A counter of the gateway commands this thread sends from now on,
    finalizer deletes excluded."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    def counted(command, *args, **kw):
        if threading.get_ident() == me and not command.startswith(_GC_COMMAND):
            n[0] += 1
        return send(command, *args, **kw)

    monkeypatch.setattr(client, "send_command", counted)
    return n


def test_transform_chunks_builds_in_a_few_commands(pages, commands):
    transform_chunks(pages, PipelineConfig(out_dir=""))
    assert commands[0] <= 60


def test_commit_group_cost_does_not_grow_with_its_bucket_count(spark, pages, commands, tmp_path):
    used = {}
    # the first run of a session pays one-time lookups: warm up, then count
    for n in (4, 4, 16):
        out = str(tmp_path / f"nb{n}_{n in used}")
        cfg = PipelineConfig(out_dir=out, n_buckets=n, buckets_per_commit=n)
        commands[0] = 0
        totals = run_pipeline(spark, pages, cfg)
        used[n] = commands[0]
        assert totals["n_pages"] == 64 and totals["buckets"] == n
    assert used[4] == used[16], used
    assert used[4] <= 200, used


def test_run_start_cost_does_not_grow_with_the_input_file_count(spark, commands, tmp_path):
    """The same 64 pages as 4 files and as 64 files: a run over a
    finished out_dir (fingerprint, out_dir check, manifest read, no
    group) sends the same number of commands."""
    rows = generate_pages(64, seed=5)
    used = {}
    for n_files in (4, 64):
        src = str(tmp_path / f"files{n_files}")
        df = spark.createDataFrame(spark.sparkContext.parallelize(rows, n_files), PAGE_SCHEMA)
        df.write.parquet(src)
        assert sum(f.endswith(".parquet") for f in os.listdir(src)) == n_files
        pages = spark.read.parquet(src)
        cfg = PipelineConfig(out_dir=str(tmp_path / f"out{n_files}"), n_buckets=4)
        assert run_pipeline(spark, pages, cfg)["n_pages"] == 64
        # the first run start over a new input pays one-time lookups
        run_pipeline(spark, pages, cfg)
        commands[0] = 0
        assert run_pipeline(spark, pages, cfg)["buckets"] == 0
        used[n_files] = commands[0]
    assert used[4] == used[64], used
