"""Golden end-to-end: learn on the fixture corpus, extract on held-out
pages, evaluate P/R vs ground truth (target >= 0.95, BASELINE.json)."""

import pytest
from pyspark.sql import functions as F

from fact_extraction_spark.plans.evaluate import assert_no_leak, evaluate
from fact_extraction_spark.plans.pipeline import (
    LearnedModel, PipelineConfig, extract, learn)

# full learn+extract integration: the slow half of the gate (pytest -m slow)
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def model_and_triples(spark, tables):
    cfg = PipelineConfig(articles_limit=0)
    model = learn(spark, tables["pages"], tables["facts"], tables["types"],
                  tables["redirects"], cfg,
                  exclude_subjects=tables["ground_truth"])
    triples = extract(spark, tables["pages"], model, tables["types"],
                      tables["redirects"], cfg).cache()
    return model, triples


def test_no_training_leak(spark, tables, model_and_triples):
    model, _ = model_and_triples
    assert_no_leak(model.training_subjects, tables["ground_truth"])


def test_precision_recall_above_target(spark, tables, model_and_triples):
    _, triples = model_and_triples
    metrics = evaluate(triples, tables["ground_truth"])
    rows = metrics.collect()
    assert rows, "no relations evaluated"
    total_right = sum(r["right"] for r in rows)
    total_wrong = sum(r["wrong"] for r in rows)
    total_known = sum(r["known"] for r in rows)
    precision = total_right / max(1, total_right + total_wrong)
    recall = total_right / max(1, total_known)
    print({r["pred"]: (r["precision"], r["recall"]) for r in rows})
    assert precision >= 0.95, f"precision {precision} < 0.95"
    assert recall >= 0.95, f"recall {recall} < 0.95"


def test_extraction_carries_evidence(model_and_triples):
    _, triples = model_and_triples
    rows = triples.collect()
    assert all(r["url"] and r["sent_id"] is not None for r in rows)


def test_known_fact_subtraction(spark, tables, model_and_triples):
    model, triples = model_and_triples
    cfg = PipelineConfig(articles_limit=0)
    new_only = extract(spark, tables["pages"], model, tables["types"],
                       tables["redirects"], cfg,
                       known_facts=tables["facts"])
    # every surviving triple is absent from the known set
    overlap = new_only.join(tables["facts"], ["subj", "pred", "obj"]).count()
    assert overlap == 0
    assert new_only.count() <= triples.count()


def test_discovery_cap_is_distributed_topk(spark, tables, model_and_triples):
    """articles_limit plans as TakeOrderedAndProject (distributed top-k),
    never a row_number over an unpartitioned window, and keeps exactly the
    lexicographically-first urls."""
    from fact_extraction_spark.plans.pipeline import select_discovery_pages

    model, _ = model_and_triples
    capped = select_discovery_pages(
        tables["pages"], model, tables["types"], PipelineConfig(articles_limit=5))
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # no global row_number window over the discovery urls (the model lineage
    # legitimately contains small-dim windows from cap_training_facts)
    assert "windowspecdefinition(url" not in plan

    uncapped = select_discovery_pages(
        tables["pages"], model, tables["types"], PipelineConfig(articles_limit=0))
    expected = sorted(r["url"]
                      for r in uncapped.select("url").distinct().collect())[:5]
    got = sorted(r["url"] for r in capped.select("url").distinct().collect())
    assert got == expected


def test_discovery_gate_follows_types_table_passed(
        spark, tables, model_and_triples):
    """Two DIFFERENT types tables through one model each get the
    discovery gate of the table actually passed, in either order and on a
    repeated call."""
    from fact_extraction_spark.plans.pipeline import select_discovery_pages

    model, _ = model_and_triples
    cfg = PipelineConfig(articles_limit=0)

    kept_real = select_discovery_pages(
        tables["pages"], model, tables["types"], cfg)
    n_real = kept_real.count()

    # an empty types table: nothing is typed-but-gate-failing, so only
    # training subjects are excluded -> strictly more pages kept than with
    # the real table (which excludes wrong-typed entities too)
    empty_types = tables["types"].limit(0)
    kept_empty = select_discovery_pages(
        tables["pages"], model, empty_types, cfg)
    n_empty = kept_empty.count()
    assert n_empty >= n_real

    again = select_discovery_pages(tables["pages"], model, tables["types"], cfg)
    assert again.count() == n_real


def test_redirect_alias_objects_resolved(model_and_triples, tables):
    _, triples = model_and_triples
    objs = {r["obj"] for r in triples.select("obj").distinct().collect()}
    # objects linked via the alias must be emitted under the canonical name
    assert "Veldt_Haven" not in objs


def _renamed(tables):
    """Redirects that send every fact object X to Moved_X, and the types
    with each typed X's types given to Moved_X too."""
    moved = F.concat(F.lit("Moved_"), F.col("obj"))
    redirects = tables["facts"].select(
        F.col("obj").alias("alias"), moved.alias("target")).distinct()
    types = tables["types"].unionByName(
        tables["types"].join(redirects, F.col("entity") == F.col("alias"))
        .select(F.col("target").alias("entity"), "type"))
    return redirects, types


@pytest.mark.parametrize("mode", ["anchors", "dictionary"])
def test_in_session_model_extracts_like_its_tables(spark, tables, mode):
    """A model learned in the session and the same six tables as a bare
    LearnedModel return the same triples, over inputs other than learn's:
    in anchors mode a redirects table that renames every linked object,
    in dictionary mode pages of another corpus. Nothing learn built on the
    side may stand in for what extract builds from its own inputs."""
    from fact_extraction_spark import caches
    from fact_extraction_spark.fixtures import (
        corpus_to_dataframes, generate_corpus)
    from perfbench.model import TABLES

    cfg = PipelineConfig(articles_limit=0, mention_mode=mode)
    if mode == "anchors":
        train = tables
        redirects, types = _renamed(tables)
    else:
        train = corpus_to_dataframes(
            spark, generate_corpus(seed=0, n_persons=60), partitions=6)
        redirects, types = tables["redirects"], tables["types"]
    model = learn(spark, train["pages"], train["facts"], train["types"],
                  train["redirects"], cfg,
                  exclude_subjects=train["ground_truth"])

    def triples(m):
        out = extract(spark, tables["pages"], m, types, redirects, cfg)
        return {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}

    try:
        in_session = triples(model)
        bare = triples(LearnedModel(*(getattr(model, n) for n in TABLES)))
        assert bare
        assert in_session == bare
        if mode == "anchors":
            assert any(o.startswith("Moved_") for _, _, o in bare)
    finally:
        model.unpersist()
        caches.release()
