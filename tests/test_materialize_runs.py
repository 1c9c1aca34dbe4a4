"""Freeze ownership: every freeze belongs to the query run that built
it (``materialize.Run``), so a frame's blocks stay live exactly as long
as the frame, whatever else is built in between, and a failed build
leaves nothing behind."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from nchu_bigdata_spark.materialize import (
    build_in_run,
    run_scope,
    shared_intermediate,
)
from nchu_bigdata_spark.operators.dedup import connected_components
from nchu_bigdata_spark.registry import load_all_queries

SPECS = load_all_queries()


def _persistent(spark) -> int:
    gc.collect()  # frames of earlier tests release their runs now
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("second", ["dedup_clusters", "multimodal_phash_clusters"])
def test_earlier_frame_survives_a_rebuild(spark, sf_dir, second):
    """Build dedup_clusters, build a query whose freezes reuse its tags
    (the same query, or multimodal_phash_clusters through the shared
    connected_components), then run the FIRST frame: its blocks belong
    to its own run, so the second build must not free them."""
    want = SPECS["dedup_clusters"].fn(spark, sf_dir).count()
    first = SPECS["dedup_clusters"].fn(spark, sf_dir)
    other = SPECS[second].fn(spark, sf_dir)
    assert first.count() == want
    assert other.count() >= 0


def test_failed_build_under_open_run_releases(spark):
    """connected_components hitting its round cap raises; the run the
    caller opened releases every freeze the failed build made."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    n0 = _persistent(spark)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        with run_scope():
            connected_components(chain, max_iters=1, algorithm="label")
    assert _persistent(spark) == n0


def test_failed_registered_build_releases_at_once(spark):
    """The run a registered build opens is released as soon as the
    build raises, with no frame to wait for."""

    def build():
        shared_intermediate("t_failed_build", spark.range(10))
        raise RuntimeError("build failed")

    n0 = _persistent(spark)
    with pytest.raises(RuntimeError, match="build failed"):
        build_in_run(build)
    assert _persistent(spark) == n0


def test_nested_builds_join_the_open_run(spark, sf_dir):
    """A registered build inside an open run joins it: the run records
    the nested operators' freezes and its exit releases them."""
    n0 = _persistent(spark)
    with run_scope() as run:
        df = SPECS["dedup_clusters"].fn(spark, sf_dir)
        assert df.count() >= 0
        tags = [t for t, _ in run.segments]
        assert "dedup_minhash.shingles" in tags, tags
        assert "dedup_clusters.pairs" in tags, tags
        assert all(s >= 0 for _, s in run.segments)
    assert not run.live
    assert _persistent(spark) == n0


def test_one_generation_per_tag_within_a_run(spark):
    """Inside one run a tag keeps one live generation: the rebuild
    releases the previous one after the new checkpoint."""
    n0 = _persistent(spark)
    with run_scope() as run:
        shared_intermediate("t_gen", spark.range(100))
        n1 = _persistent(spark)
        gen2 = shared_intermediate("t_gen", spark.range(100).select(F.col("id") * 2))
        assert _persistent(spark) == n1
        assert gen2.count() == 100
        assert list(run.live) == ["t_gen"]
    assert _persistent(spark) == n0
