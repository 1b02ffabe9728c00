"""The north-rule launch shape: ``spark-submit --py-files`` with the
package zip runs ``scripts/spark_job.py`` on the engine confs that
``session.configure`` sets, commits every bucket, and skips them all on
a resubmit.  The submit test takes ~50 s on 4 vCPU.  The engine's JVMs
run ``session.JVM_FLAGS``: the live session's JVM shows them, and the
job's usage text quotes them for the driver's launch line.  Only a
``get_spark`` session runs the engine's worker daemon."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

from ragflow_spark.data.pagegen import pages_dataframe
from ragflow_spark.session import DAEMON_MODULE, JVM_FLAGS, configure

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Recorder:
    """Stands in for a SparkSession.Builder and keeps what it is given."""

    def __init__(self):
        self.confs = {}

    def config(self, key, value):
        self.confs[key] = value
        return self


def _submit(pages: str, out: str, event_dir: str) -> dict:
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--driver-java-options", JVM_FLAGS,
            "--py-files", os.path.join(ROOT, "dist", "ragflow_spark.zip"),
            os.path.join(ROOT, "scripts", "spark_job.py"),
            "--pages", pages, "--out", out, "--buckets", "4",
        ],
        cwd=os.path.dirname(out),  # outside the repo: the zip must suffice
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])


def _spark_properties(event_log: str) -> dict:
    with open(event_log) as f:
        for line in f:
            event = json.loads(line)
            if event["Event"] == "SparkListenerEnvironmentUpdate":
                return dict(event["Spark Properties"])
    raise AssertionError(f"no environment update in {event_log}")


def test_submitted_job_runs_configured_confs(spark, tmp_path):
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        check=True, cwd=ROOT, timeout=120, capture_output=True,
    )
    pages = str(tmp_path / "pages")
    pages_dataframe(spark, 64, seed=3, partitions=2).write.parquet(pages)
    out = str(tmp_path / "out")
    event_dir = tmp_path / "events"
    event_dir.mkdir()

    first = _submit(pages, out, str(event_dir))
    assert first["n_pages"] == 64
    assert first["buckets"] == 4 and first["skipped"] == 0
    second = _submit(pages, out, str(event_dir))
    assert second["skipped"] == 4
    assert second["buckets"] == 0 and second["n_pages"] == 0

    logs = sorted(glob.glob(str(event_dir / "*")))
    assert len(logs) == 2
    wanted = configure(_Recorder()).confs
    assert wanted  # configure sets the engine confs
    for log in logs:
        props = _spark_properties(log)
        assert {k: props.get(k) for k in wanted} == wanted
        # spark-submit prepends its own module flags to the launch line's
        assert JVM_FLAGS in props["spark.driver.extraJavaOptions"]


def test_usage_quotes_the_jvm_flags():
    with open(os.path.join(ROOT, "scripts", "spark_job.py"), encoding="utf-8") as f:
        usage = ast.get_docstring(ast.parse(f.read()))
    assert f'--driver-java-options "{JVM_FLAGS}"' in usage


def test_configure_sets_default_not_extra_java_options():
    confs = configure(_Recorder()).confs
    assert confs["spark.executor.defaultJavaOptions"] == JVM_FLAGS
    assert not [k for k in confs if k.endswith(".extraJavaOptions")]


def test_only_get_spark_names_the_engine_daemon(spark):
    # a submitted job's executors get the engine from --py-files only
    # per task, so their daemon must stay PySpark's own
    assert "spark.python.daemon.module" not in configure(_Recorder()).confs
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE


def test_session_jvm_runs_c1_only_with_a_240m_code_cache(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"
    assert bean.getVMOption("ReservedCodeCacheSize").getValue() == "251658240"
