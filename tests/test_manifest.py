"""Checkpoint manifest: lineage + metrics recording, idempotent resume,
kill/restart semantics (north_rule resumability gate)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from activity_files_spark.data.images import synth_images
from activity_files_spark.operators.tiling import tile_assign
from activity_files_spark.plans.manifest import Manifest
from tests.test_materialize import _jobs_in


@pytest.fixture
def mdir(tmp_path):
    return str(tmp_path / "manifest")


def test_stage_records_metrics_and_lineage(spark, mdir):
    m = Manifest(spark, mdir)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return synth_images(spark, 12, partitions=2)

    df = m.run_stage("images", build, inputs=["synthetic:12"], config={"n": 12})
    assert df.count() == 12
    info = m.stage_info("images")
    assert info["status"] == "complete"
    assert info["metrics"]["rows"] == 12
    assert info["metrics"]["bytes"] > 0
    assert info["metrics"]["n_files"] >= 1
    assert all(v["rows"] >= 0 for v in info["metrics"]["files"].values())
    assert info["lineage"]["inputs"] == ["synthetic:12"]
    schema = json.loads(info["lineage"]["schema_json"])
    assert "image_id" in [f["name"] for f in schema["fields"]]
    assert calls["n"] == 1


def test_resume_skips_completed_stage(spark, mdir):
    m = Manifest(spark, mdir)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).select(F.col("id"))

    m.run_stage("s1", build)
    # simulate restart: fresh Manifest over the same dir
    m2 = Manifest(spark, mdir)
    df = m2.run_stage("s1", build)
    assert calls["n"] == 1  # not recomputed
    assert df.count() == 5


def test_kill_mid_stage_recovers(spark, mdir):
    """A stage killed after a partial/failed write re-runs cleanly."""
    m = Manifest(spark, mdir)

    def boom():
        raise RuntimeError("killed mid-tiling")

    with pytest.raises(RuntimeError):
        m.run_stage("tiles", boom)
    assert not m.is_complete("tiles")

    # restart with a working build — resumes from scratch for this stage only
    def build():
        imgs = synth_images(spark, 9, partitions=2)
        return tile_assign(imgs, resolutions=[8, 10])

    df = Manifest(spark, mdir).run_stage("tiles", build)
    assert df.count() == 18


def test_corrupt_manifest_triggers_recompute(spark, mdir):
    m = Manifest(spark, mdir)
    m.run_stage("s", lambda: spark.range(3))
    with open(os.path.join(mdir, "s.json"), "w") as f:
        f.write("{not json")
    assert not Manifest(spark, mdir).is_complete("s")


def test_partitioned_stage_metrics(spark, mdir):
    m = Manifest(spark, mdir)

    def build():
        imgs = synth_images(spark, 12, partitions=2)
        return tile_assign(imgs, resolutions=[8]).select("image_id", "zoom", "cell_id")

    m.run_stage("tiles_by_zoom", build, partition_by=["zoom"])
    info = m.stage_info("tiles_by_zoom")
    assert info["metrics"]["rows"] == 12
    assert any(k.startswith("zoom=") for k in info["metrics"]["partitions"])


def test_multi_stage_pipeline_deterministic(spark, mdir):
    """Two-stage pipeline: images -> tiles; outputs identical across a full
    recompute in a different directory (determinism contract)."""

    def run(d):
        m = Manifest(spark, d)
        m.run_stage("images", lambda: synth_images(spark, 15, partitions=2))
        tiles = m.run_stage(
            "tiles", lambda: tile_assign(m.read("images"), resolutions=[10]), inputs=["images"]
        )
        return sorted((r["image_id"], r["cell_id"]) for r in tiles.collect())

    a = run(mdir + "_a")
    b = run(mdir + "_b")
    assert a == b
    ja = json.load(open(os.path.join(mdir + "_a", "tiles.json")))
    jb = json.load(open(os.path.join(mdir + "_b", "tiles.json")))
    assert ja["metrics"]["rows"] == jb["metrics"]["rows"] == 15


def test_digit_string_partition_key_round_trips(spark, mdir):
    """A stage partitioned by a digit-string column (a quadkey prefix) reads
    back as the string it was written, leading zeros kept, on commit and on
    resume: the stage's output is read with its recorded schema, not by
    partition-value inference (which types '0123' as the int 123)."""
    df = spark.createDataFrame([("0123", 1), ("0301", 2)], "qk_prefix string, n long")
    first = Manifest(spark, mdir).run_stage("by_prefix", lambda: df, partition_by=["qk_prefix"])
    resumed = Manifest(spark, mdir).run_stage("by_prefix", lambda: df, partition_by=["qk_prefix"])
    for out in (first, resumed):
        # a partitioned read's column order: data columns, then partition keys
        assert out.schema.simpleString() == "struct<n:bigint,qk_prefix:string>"
        assert sorted((r["qk_prefix"], r["n"]) for r in out.collect()) == [("0123", 1), ("0301", 2)]


def test_run_stage_runs_only_the_write_jobs(spark, mdir, tmp_path):
    """Committing a stage whose build reads nothing costs exactly the jobs of
    a plain parquet write of the same frame: re-reading the committed output
    runs no schema-inference job."""

    def build():
        return spark.range(20).select("id", (F.col("id") % 3).alias("k"))

    _, plain = _jobs_in(
        spark, "manifest-plain-write",
        lambda: build().write.mode("overwrite").parquet(str(tmp_path / "plain")),
    )
    _, staged = _jobs_in(
        spark, "manifest-run-stage", lambda: Manifest(spark, mdir).run_stage("s", build)
    )
    assert len(plain) >= 1
    assert len(staged) == len(plain)
