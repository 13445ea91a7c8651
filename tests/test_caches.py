"""Stage boundaries (caches.materialize), the memo, and who frees what
they hold."""

import dataclasses

import pytest

from fact_extraction_spark import caches
from fact_extraction_spark.plans.pipeline import (
    LearnedModel, PipelineConfig, extract, learn)
from perfbench.model import TABLES


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_materialize_counts_and_cuts_lineage(spark):
    df = spark.range(40).filter("id % 4 = 0")
    out, rows = caches.materialize(df)
    assert rows == 10
    plan = out._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert sorted(r["id"] for r in out.collect()) == list(range(0, 40, 4))
    before = _persistent_rdds(spark)
    caches.free(out)
    assert _persistent_rdds(spark) == before - 1


def test_release_frees_every_materialized_table(spark):
    caches.release()
    base = _persistent_rdds(spark)
    caches.materialize(spark.range(5))
    caches.materialize(spark.range(7))
    assert _persistent_rdds(spark) == base + 2
    assert caches.release() == 2
    assert _persistent_rdds(spark) == base


def test_memo_builds_once_per_inputs_until_release(spark):
    """Same objects: one build. Another object: a build of its own. After
    release(): a fresh build, and the old entry's tables are freed."""
    caches.release()
    base = _persistent_rdds(spark)
    pages, other = spark.range(6), spark.range(6)
    builds = []

    def get(df):
        def build():
            builds.append(df)
            return caches.materialize(df.filter("id % 2 = 0"))[0]
        return caches.memo("evens", (df,), build)

    first = get(pages)
    assert get(pages) is first and len(builds) == 1
    assert get(other) is not first and len(builds) == 2
    assert _persistent_rdds(spark) == base + 2
    caches.release()
    assert _persistent_rdds(spark) == base
    again = get(pages)
    assert again is not first and len(builds) == 3
    assert sorted(r["id"] for r in again.collect()) == [0, 2, 4]
    caches.release()


def test_model_fields_are_its_stored_tables():
    """A model is exactly the tables a stored model holds, in order: a
    model learned in the session carries nothing a loaded one lacks."""
    assert tuple(f.name for f in dataclasses.fields(LearnedModel)) == TABLES


@pytest.mark.parametrize("cfg", [
    PipelineConfig(articles_limit=0, mention_mode="anchors"),
    PipelineConfig(articles_limit=0, mention_mode="dictionary"),
    PipelineConfig(articles_limit=0, canonicalize_output=True),
], ids=["anchors", "dictionary", "canonicalize"])
def test_learn_extract_unpersist_release_frees_every_table(spark, tables,
                                                           cfg):
    """After learn + extract, model.unpersist() and caches.release() leave
    no stored table behind, memoized ones included: a redirects table no
    earlier test has seen gets fresh memo entries. The model stays
    referenced, so the JVM's cleaner cannot drop a leaked table on garbage
    collection. A release between learn and extract frees learn's stages,
    which the model outlives; with ``canonicalize_output`` the extract's
    connected-components rounds are freed too."""
    redirects = tables["redirects"].select("alias", "target")
    caches.release()
    before = _persistent_rdds(spark)
    model = learn(spark, tables["pages"], tables["facts"], tables["types"],
                  redirects, cfg, exclude_subjects=tables["ground_truth"])
    caches.release()
    triples = extract(spark, tables["pages"], model, tables["types"],
                      redirects, cfg)
    assert triples.count() > 0
    model.unpersist()
    caches.release()
    # garbage of earlier tests may still be cleaned meanwhile, never added
    assert _persistent_rdds(spark) <= before
