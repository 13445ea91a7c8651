"""Fat-page fixture shape (fixtures.fat_kb): the realistic web-text page
shape — tens of KB of mostly non-fact text around a handful of fact
sentences.

Invariants under test:
  * determinism — same (seed, idx) → byte-identical fat page;
  * the filler is pure stage-1 noise: templates/refs/comments are stripped
    by the cascade and the filler introduces NO new links, so
  * the extracted triple set is IDENTICAL between a fat and a thin corpus
    at the same (seed, n_persons) — only text-stage byte volume changes
    (slow tier, through the benchmark's corpus writer + full pipeline).
"""

from __future__ import annotations

import random

import pytest

from fact_extraction_spark.fixtures import (_filler_paragraphs,
                                            _person_wikitext)
from fact_extraction_spark.textops.wikitext import extract_article_text


def _mk(fat_kb: int) -> str:
    rng = random.Random("fatpage:7")
    sentences = [
        "Alice was born in [[Grandmere City]] during a cold winter.",
        "Alice graduated from [[Tamwix University]] with honors.",
    ]
    return _person_wikitext(rng, "Alice", sentences, fat_kb=fat_kb)


def test_fat_page_deterministic_and_sized():
    a, b = _mk(16), _mk(16)
    assert a == b
    assert len(a) >= 16 * 1024
    # thin page is the historical compact shape, far below the pad target
    assert len(_mk(0)) < 2 * 1024


def test_fat_page_prefix_and_no_new_links():
    thin, fat = _mk(0), _mk(16)
    # identical rng draws up to the padding point: the fat page contains
    # every thin paragraph (body prefix), so fact sentences are unchanged
    assert thin.split("== References ==")[0] in fat
    # filler introduces no wikilinks — keeps-a-link semantics and the
    # dictionary tail join see the same anchor set
    assert thin.count("[[") == fat.count("[[")


def test_cascade_strips_filler_noise():
    fat = _mk(16)
    text = extract_article_text(fat)
    # cascade-exercising noise present in the raw page...
    assert "{{cite journal" in fat and "<ref>" in fat and "<!--" in fat
    # ...is fully stripped by stage 1
    assert "{{" not in text and "<ref" not in text and "<!--" not in text
    # the filler prose itself survives as plain sentences
    assert "remained in the record" in text


def test_filler_paragraphs_hit_target_bytes():
    rng = random.Random(3)
    paras = _filler_paragraphs(rng, "Alice", 8 * 1024)
    total = sum(len(s) + 2 for p in paras for s in p)
    assert 8 * 1024 <= total <= 8 * 1024 + 512


@pytest.mark.slow
def test_fat_thin_triple_set_identical(spark, tmp_path):
    """Benchmark-corpus invariant: fat_kb only adds text bytes — the fact
    tables AND the end-to-end extracted triple set are identical."""
    from pyspark.sql import functions as F
    from fact_extraction_spark.plans.pipeline import (PipelineConfig, extract,
                                                      learn,
                                                      release_pipeline_caches)
    from perfbench.corpus import write_corpus

    outs = {}
    for label, fat in (("thin", 0), ("fat", 8)):
        d = str(tmp_path / label)
        write_corpus(seed=11, persons=120, fat_kb=fat, out_dir=d, files=8)
        t = {n: spark.read.parquet(f"{d}/{n}.parquet")
             for n in ("pages", "facts", "types", "redirects", "ground_truth")}
        # the non-page tables must be byte-identical fat vs thin
        outs[label + "_facts"] = {tuple(r) for r in t["facts"].collect()}
        cfg = PipelineConfig(articles_limit=0)
        model = learn(spark, t["pages"], t["facts"], t["types"],
                      t["redirects"], cfg, exclude_subjects=t["ground_truth"])
        triples = extract(spark, t["pages"], model, t["types"],
                          t["redirects"], cfg)
        outs[label] = {tuple(r) for r in
                       triples.select("subj", "pred", "obj").collect()}
        release_pipeline_caches()
        model.unpersist()
        # fat pages really are fat
        avg = (t["pages"].select(F.avg(F.length("html"))).first()[0])
        if label == "fat":
            assert avg > 6 * 1024
        else:
            assert avg < 2 * 1024

    assert outs["thin_facts"] == outs["fat_facts"]
    assert outs["thin"] == outs["fat"]
    assert len(outs["thin"]) > 0
