"""Resume-from-checkpoint: kill after stage k, rerun, identical output."""

import json
import os

from triplestore_spark.pipeline.checkpoint import (
    CheckpointedPipeline,
    input_fingerprint,
    run_pipeline_checkpointed,
)


def test_stage_skip_and_recompute(spark, tmp_path):
    root = str(tmp_path / "cp")
    cp = CheckpointedPipeline(spark, root)
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(5).toDF("id")

    fp = {"v": 1}
    out1 = cp.stage("s", fp, compute, metrics_key="id")
    assert out1.count() == 5
    assert calls["n"] == 1
    # same fingerprint -> skipped
    out2 = cp.stage("s", fp, compute, metrics_key="id")
    assert out2.count() == 5
    assert calls["n"] == 1
    # changed fingerprint -> recompute
    cp.stage("s", {"v": 2}, compute, metrics_key="id")
    assert calls["n"] == 2


def test_partition_metrics_written(spark, tmp_path):
    from triplestore_spark.pipeline.checkpoint import read_partition_metrics

    root = str(tmp_path / "cp2")
    cp = CheckpointedPipeline(spark, root)
    cp.stage("s", {"v": 1}, lambda: spark.range(100).toDF("id"), metrics_key="id")
    m = read_partition_metrics(spark, os.path.join(root, "s"))
    assert {"partition_id", "rows", "min_key", "max_key"} <= set(m.columns)
    assert m.agg({"rows": "sum"}).collect()[0][0] == 100


def test_resume_after_partial_failure(spark, tmp_path, sf_dir):
    """Simulated kill: run to completion, delete the LAST stage's
    checkpoint (as if the job died mid-stage-2), rerun — stage 1 is
    reused (lineage timestamp unchanged), output set identical."""
    root = str(tmp_path / "cp3")
    full = run_pipeline_checkpointed(spark, sf_dir, root)
    want = sorted(r["tkey"] for r in full.select("tkey").collect())

    s1_lineage = json.load(open(os.path.join(root, "s1_candidates", "_lineage.json")))

    # kill: stage-2 checkpoint lost
    import shutil

    shutil.rmtree(os.path.join(root, "s2_canonical"))

    resumed = run_pipeline_checkpointed(spark, sf_dir, root)
    got = sorted(r["tkey"] for r in resumed.select("tkey").collect())
    assert got == want

    s1_lineage_after = json.load(
        open(os.path.join(root, "s1_candidates", "_lineage.json"))
    )
    assert s1_lineage_after["completed_at"] == s1_lineage["completed_at"]


def test_input_fingerprint_changes_with_input(spark, sf_dir, tmp_path):
    fp1 = input_fingerprint(spark, os.path.join(sf_dir, "documents.parquet"))
    fp2 = input_fingerprint(spark, os.path.join(sf_dir, "documents.parquet"))
    assert fp1 == fp2
    p = tmp_path / "x.parquet"
    p.write_bytes(b"123")
    fp3 = input_fingerprint(spark, str(p))
    assert fp3 != fp1


def test_checkpoint_root_at_file_uri(spark, tmp_path, sf_dir, monkeypatch):
    """A checkpoint root given as a file:// URI keeps `_lineage.json`
    under that root (not under the driver's working directory), and a
    resume after a lost stage 2 still skips stage 1."""
    import shutil

    (tmp_path / "cwd").mkdir()
    monkeypatch.chdir(tmp_path / "cwd")
    root = tmp_path / "cp"
    uri = "file://" + str(root)
    run_pipeline_checkpointed(spark, sf_dir, uri)
    s1 = root / "s1_candidates" / "_lineage.json"
    before = json.loads(s1.read_text())

    shutil.rmtree(root / "s2_canonical")
    run_pipeline_checkpointed(spark, sf_dir, uri)
    assert json.loads(s1.read_text())["completed_at"] == before["completed_at"]
    stages = [d["stage"] for d in CheckpointedPipeline(spark, uri).lineage()]
    assert stages == ["s1_candidates", "s2_canonical"]
