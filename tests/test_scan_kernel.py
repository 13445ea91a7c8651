"""The mention-scan kernel in the plans that run it, and under task retry."""

import json
import os
import re
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod
from fact_extraction_spark import caches
from fact_extraction_spark.operators import mentions
from fact_extraction_spark.plans.pipeline import (
    PipelineConfig, extract, learn)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PY_NODE = re.compile(
    r"\b(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython)\b.*")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def stage_plans(monkeypatch):
    """The executed plans of the tables caches.materialize is given while
    the test runs: a scan behind a stage boundary is in one of them, and
    the plans built over the boundary start at its rows."""
    plans = []

    def recording(df):
        out = orig(df)
        plans.append(_executed_plan(df))
        return out
    orig = caches.materialize
    monkeypatch.setattr(caches, "materialize", recording)
    return plans


def corpus_scans(df, stage_plans: list[str]) -> set[str]:
    """The distinct Python nodes that read page html or sentence text, over
    ``df``'s executed plan (cached subplans included) and the plans of the
    stages materialized on the way to it. A Python node over a dimension
    table (alias_join_keys) reads neither."""
    df.collect()
    nodes = {m.group(0) for plan in (*stage_plans, _executed_plan(df))
             for m in map(_PY_NODE.search, plan.splitlines()) if m}
    return {n for n in nodes if re.search(r"\b(html|sentence)#", n)}


@pytest.fixture(scope="module")
def model(spark, tables):
    """A model learned in this session: its tables read learn's
    materialized stages, so no extract plan holds learn's own scan."""
    model = learn(spark, tables["pages"], tables["facts"], tables["types"],
                  tables["redirects"], PipelineConfig(articles_limit=0),
                  exclude_subjects=tables["ground_truth"])
    yield model
    model.unpersist()


@pytest.mark.parametrize("conf", [
    {},
    {"mention_mode": "dictionary", "dictionary_strategy": "broadcast",
     "dictionary_scan_unanchored": True},
    {"mention_mode": "dictionary", "dictionary_strategy": "mapside",
     "dictionary_hot_k": 5, "dictionary_scan_unanchored": True},
], ids=["anchors", "dict_broadcast", "dict_mapside"])
def test_extract_plan_scans_corpus_once(spark, tables, model, stage_plans,
                                        conf):
    cfg = PipelineConfig(articles_limit=0, **conf)
    triples = extract(spark, tables["pages"], model, tables["types"],
                      tables["redirects"], cfg)
    scans = corpus_scans(triples, stage_plans)
    assert len(scans) == 1, scans
    assert next(iter(scans)).startswith("MapInPandas")


@pytest.mark.parametrize(
    "name", ["dictionary_mentions", "dictionary_mentions_mapside"])
def test_declared_dictionary_query_plan_scans_corpus_once(spark, stage_plans,
                                                          name):
    query = entry_mod.queries()[name]
    scans = corpus_scans(query(spark, entry_mod.SF_DEFAULT), stage_plans)
    assert len(scans) == 1, scans
    assert next(iter(scans)).startswith("MapInPandas")


@pytest.mark.parametrize("mode", ["anchors", "dictionary"])
def test_in_session_extract_plan_stays_small(spark, tables, mode):
    """learn then extract in one session, as jobs/run_pipeline.py runs
    them: the final query's formatted plan, the text Spark renders for
    every action, stays under 1 MiB with no cap on plan strings. Each
    stage boundary cuts the lineage below it; chained cached subplans,
    each printed in full at every reference, made it tens of MB."""
    cfg = PipelineConfig(articles_limit=0, mention_mode=mode)
    model = learn(spark, tables["pages"], tables["facts"], tables["types"],
                  tables["redirects"], cfg,
                  exclude_subjects=tables["ground_truth"])
    try:
        triples = extract(spark, tables["pages"], model, tables["types"],
                          tables["redirects"], cfg)
        assert triples.count() > 0
        plan = spark._jvm.PythonSQLUtils.explainString(
            triples._jdf.queryExecution(), "formatted")
        assert len(plan) <= 1 << 20, len(plan)
    finally:
        model.unpersist()
        caches.release()


def test_mapside_sentence_path_caches_only_matching_sentences(
        spark, monkeypatch):
    """With the tail's first-token set broadcast, sentences that can match
    nothing never reach the persisted kernel output."""
    filled = []

    def recording(df):
        filled.append(orig(df))
        return filled[-1]
    orig = mentions._filled
    monkeypatch.setattr(mentions, "_filled", recording)

    sents = spark.createDataFrame([
        ("u1", 0, 0.0, "The scan reads a table ."),
        ("u1", 1, 0.5, "Nothing to see in this one ."),
        ("u2", 0, 0.0, "A hash join then runs ."),
        ("u2", 1, 0.5, "Plain words and more plain words ."),
    ], "url string, sent_id int, rel_pos double, sentence string")
    aliases = spark.createDataFrame(
        [("scan", "Scan"), ("table", "Table"), ("hash join", "Hash_join")],
        "alias string, entity string")
    head, tail = mentions.split_alias_dictionary(
        aliases, hot_k=1, max_tail_tokens=4)
    head_bc = mentions.collect_alias_broadcast(
        spark, head.select("alias", "entity"))
    hits = mentions.detect_dictionary_mentions_mapside_sentences(
        sents, head_bc, tail, max_tail_tokens=4)

    got = {(r["url"], r["sent_id"], r["start"], r["alias"])
           for r in hits.collect()}
    assert got == {("u1", 0, 1, "scan"), ("u1", 0, 4, "table"),
                   ("u2", 0, 1, "hash join")}
    assert len(filled) == 1
    assert filled[0].count() == 2 < sents.count()


_RETRY_RUN = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from fact_extraction_spark.caches import release
from fact_extraction_spark.fixtures import corpus_to_dataframes, generate_corpus
from fact_extraction_spark.plans.pipeline import PipelineConfig, extract, learn
from fact_extraction_spark.session import get_spark

marks = sys.argv[1]
spark = get_spark("retry_identity", master="local[4,2]", shuffle_partitions=4)
t = corpus_to_dataframes(spark, generate_corpus(42, 60), partitions=4)


@F.udf("binary")
def fail_first_attempt(html):
    ctx = TaskContext.get()
    if ctx.attemptNumber() == 0:
        name = "%d-%d" % (ctx.stageId(), ctx.partitionId())
        open(os.path.join(marks, name), "w").close()
        raise RuntimeError("injected first-attempt failure")
    return html


flaky = t["pages"].withColumn("html", fail_first_attempt("html"))
model = learn(spark, t["pages"], t["facts"], t["types"], t["redirects"],
              PipelineConfig(articles_limit=0),
              exclude_subjects=t["ground_truth"])
out = {}
for name, cfg in (
        ("anchors", PipelineConfig(articles_limit=0)),
        ("dict_mapside", PipelineConfig(
            articles_limit=0, mention_mode="dictionary",
            dictionary_strategy="mapside", dictionary_hot_k=5,
            dictionary_scan_unanchored=True))):
    out[name] = []
    for pages in (t["pages"], flaky):
        triples = extract(spark, pages, model, t["types"], t["redirects"], cfg)
        out[name].append(sorted(
            map(list, triples.select("subj", "pred", "obj").collect())))
        release()
out["failed_attempts"] = len(os.listdir(marks))
print(json.dumps(out))
spark.stop()
"""


@pytest.mark.slow
def test_task_retry_keeps_triples_identical(tmp_path):
    """Every task of every stage that reads page html fails its first
    attempt (a UDF upstream of the scan raises on attemptNumber 0); at
    local[4,2] each is retried once. Anchors-mode and unanchored
    mapside-dictionary extracts commit the same triples as a clean run."""
    marks = tmp_path / "failed_attempts"
    marks.mkdir()
    env = {**os.environ, "PYTHONPATH": ROOT}
    env.setdefault("SPARK_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_RUN, str(marks)], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["failed_attempts"] > 0
    for name in ("anchors", "dict_mapside"):
        clean, retried = out[name]
        assert clean and clean == retried, name
