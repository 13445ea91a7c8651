"""Stage boundaries (caches.materialize) and who frees what they hold."""

import pytest

from fact_extraction_spark import caches
from fact_extraction_spark.plans.pipeline import (
    PipelineConfig, extract, learn)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_materialize_counts_and_cuts_lineage(spark):
    df = spark.range(40).filter("id % 4 = 0")
    out, rows = caches.materialize(df, owned=True)
    assert rows == 10
    plan = out._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert sorted(r["id"] for r in out.collect()) == list(range(0, 40, 4))
    before = _persistent_rdds(spark)
    caches.free(out)
    assert _persistent_rdds(spark) == before - 1


def test_release_frees_tracked_not_owned(spark):
    caches.release()
    base = _persistent_rdds(spark)
    tracked, _ = caches.materialize(spark.range(5))
    owned, _ = caches.materialize(spark.range(5), owned=True)
    assert _persistent_rdds(spark) == base + 2
    assert caches.release() == 1
    assert _persistent_rdds(spark) == base + 1
    assert owned.count() == 5
    caches.free(owned)
    assert _persistent_rdds(spark) == base


@pytest.mark.parametrize("mode", ["anchors", "dictionary"])
def test_learn_extract_unpersist_release_frees_every_table(spark, tables,
                                                           mode):
    """After learn + extract, model.unpersist() and caches.release() leave
    no stored table behind. The first run warms the session-wide memo of
    resolved redirects. Every model stays referenced, so the JVM's cleaner
    cannot drop a leaked table on garbage collection. A release between
    learn and extract frees learn's stages, which the model outlives."""
    cfg = PipelineConfig(articles_limit=0, mention_mode=mode)
    kept = []

    def run():
        model = learn(spark, tables["pages"], tables["facts"],
                      tables["types"], tables["redirects"], cfg,
                      exclude_subjects=tables["ground_truth"])
        caches.release()
        triples = extract(spark, tables["pages"], model, tables["types"],
                          tables["redirects"], cfg)
        assert triples.count() > 0
        model.unpersist()
        caches.release()
        kept.append((model, triples))

    run()
    warmed = _persistent_rdds(spark)
    run()
    # garbage of earlier tests may still be cleaned meanwhile, never added
    assert _persistent_rdds(spark) <= warmed
