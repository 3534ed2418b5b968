"""North-rule deployment check: the package zip actually runs via
`spark-submit --py-files` (BASELINE.json north_star: "runs via
spark-submit --py-files at 10^12-document scale"). The job imports
triplestore_spark FROM THE ZIP (repo source dir off sys.path) and
runs the flagship extract->dedup pipeline; the triple count is pinned
to the same figure __spark_entry__.entry produces. The zip is built
per run by tools/package.py, so it always matches the source tree."""

import os
import runpy
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JOB = textwrap.dedent(
    """
    import sys
    assert not any(
        p.rstrip("/").endswith("root/repo") for p in sys.path if p
    ), sys.path
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    import triplestore_spark
    assert ".zip" in triplestore_spark.__file__, triplestore_spark.__file__
    from triplestore_spark.pipeline.run import candidate_triples
    from triplestore_spark.operators.graph import dedup_triples

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    n = dedup_triples(candidate_triples(spark, docs)).count()
    print("SMOKE_TRIPLES:", n)
    print("SPARK_SUBMIT_SMOKE_OK")
    """
)


@pytest.mark.skipif(
    shutil.which("spark-submit") is None,
    reason="spark-submit not on PATH",
)
def test_py_files_zip_runs_under_spark_submit(tmp_path):
    build = runpy.run_path(os.path.join(REPO, "tools", "package.py"))["build"]
    zip_path = build(out=str(tmp_path / "triplestore_spark.zip"))
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    proc = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[8]",
            "--conf",
            "spark.sql.shuffle.partitions=8",
            "--conf",
            f"spark.pyspark.python={sys.executable}",
            "--py-files",
            zip_path,
            str(job),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=540,
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode == 0, out[-4000:]
    assert "SPARK_SUBMIT_SMOKE_OK" in out
    # same corpus, same pipeline as __spark_entry__.entry -> same count
    assert "SMOKE_TRIPLES: 12123" in out
