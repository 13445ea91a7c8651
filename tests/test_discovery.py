"""Discovery page selection (fact_extractor.py:68-85) on a hand-built model:
the subject-type gate, the training-subject exclusion, unknown types and
the url-ordered ``articles_limit`` cap."""

import pytest

from fact_extraction_spark.plans.pipeline import (
    LearnedModel, PipelineConfig, select_discovery_pages)

WIKI = "https://en.wikipedia.org/wiki/"


@pytest.fixture(scope="module")
def discovery_inputs(spark):
    pages = spark.createDataFrame(
        [(WIKI + t, f"<p>{t}</p>") for t in (
            "A_trained",    # training subject, typed with a gate type
            "B_untyped",    # no types at all
            "C_ok",         # one gate type among others
            "D_bad",        # typed, but only with an object-side type
            "E_ok", "F_ok")],
        "url string, html string")
    types = spark.createDataFrame(
        [("A_trained", "Person"), ("C_ok", "Person"), ("C_ok", "City"),
         ("D_bad", "City"), ("E_ok", "Person"), ("F_ok", "Person"),
         ("No_page", "City")],
        "entity string, type string")
    pattern_types = spark.createDataFrame(
        [("subject", "born", "Person"), ("subject", "acted", "Person"),
         ("object", "born", "City")],
        "side string, pred string, type string")
    training = spark.createDataFrame([("A_trained",)], "subj string")
    # discovery reads only the gate types and the training subjects
    model = LearnedModel(
        pattern_words=None, pattern_stats=None, pattern_types=pattern_types,
        type_probs=None, rel_stats=None, training_subjects=training)
    return pages, model, types


@pytest.mark.parametrize("allow_unknown, limit, expected", [
    (True, 0, ["B_untyped", "C_ok", "E_ok", "F_ok"]),
    (True, 2, ["B_untyped", "C_ok"]),
    (False, 0, ["C_ok", "E_ok", "F_ok"]),
    (False, 2, ["C_ok", "E_ok"]),
])
def test_discovery_pages_hand_computed(discovery_inputs, allow_unknown,
                                       limit, expected):
    pages, model, types = discovery_inputs
    cfg = PipelineConfig(articles_limit=limit,
                         allow_unknown_entity_types=allow_unknown)
    got = select_discovery_pages(pages, model, types, cfg)
    assert got.columns == pages.columns
    assert sorted(r["url"] for r in got.collect()) == \
        [WIKI + t for t in expected]


def test_discovery_selection_submits_no_job(spark, discovery_inputs):
    """Building the uncapped discovery corpus runs nothing: the gate is
    part of the plan that reads it."""
    pages, model, types = discovery_inputs
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    select_discovery_pages(pages, model, types,
                           PipelineConfig(articles_limit=0))
    assert set(tracker.getJobIdsForGroup(None)) == before
