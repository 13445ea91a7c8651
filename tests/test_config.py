"""Config-file initialization parity (config_initializer.py:13-37)."""

import os

import pytest

from fact_extraction_spark.plans.config import (
    generate_config_if_missing, load_config)
from fact_extraction_spark.plans.pipeline import PipelineConfig


def test_missing_config_generated_from_default(tmp_path):
    path = str(tmp_path / "config.ini")
    assert not os.path.exists(path)
    generate_config_if_missing(path)
    assert os.path.exists(path)
    # idempotent: a second call must not overwrite
    with open(path, "a") as f:
        f.write("\n; user edit\n")
    generate_config_if_missing(path)
    assert "; user edit" in open(path).read()


def test_default_ini_values_reach_pipeline_config(tmp_path):
    cfg = load_config(str(tmp_path / "config.ini"))
    # config-default.ini values, not code defaults
    assert cfg.relation_types_limit == 50
    assert cfg.facts_limit == 2000
    assert cfg.relation_whitelist == ["birthPlace"]
    assert cfg.perform_tests is False
    assert cfg.least_threshold_types == 1
    assert cfg.least_threshold_words == 2
    assert cfg.type_learner_facts_limit == 0
    assert cfg.subject_minimum == 0.05
    assert cfg.object_minimum == 0.05
    assert cfg.articles_limit == 5000
    assert cfg.match_threshold == 0.5
    assert cfg.type_matching is True
    assert cfg.allow_unknown_entity_types is True


def test_user_config_and_overrides(tmp_path):
    path = tmp_path / "config.ini"
    path.write_text("""
[wikipedia_pattern_extractor]
relation_types =
facts_limit = 7
perform_tests = True
randomize = True

[fact_extractor]
match_threshold = 0.25
articles_limit = 0
""")
    cfg = load_config(str(path), match_threshold=0.9)
    assert cfg.relation_whitelist is None      # blank = any relation
    assert cfg.facts_limit == 7
    # the reference reads perform_tests from the 'randomize' key
    # (wikipedia_pattern_extractor.py:58) — we read the right key; with
    # both True here the fix is observable only via documentation, so
    # check the key is honored at all:
    assert cfg.perform_tests is True
    assert cfg.articles_limit == 0
    assert cfg.match_threshold == 0.9          # override wins over file


def test_perform_tests_reads_its_own_key(tmp_path):
    path = tmp_path / "config.ini"
    path.write_text("""
[wikipedia_pattern_extractor]
perform_tests = False
randomize = True
""")
    cfg = load_config(str(path))
    # the reference would report True here (it reads 'randomize')
    assert cfg.perform_tests is False


def test_type_matching_knob_roundtrips_and_is_consumed(tmp_path):
    """The knob is parsed AND honored: scoring flips to syntax-only (the
    wiring itself is covered by
    test_type_matching_disabled_scores_syntax_only)."""
    path = tmp_path / "config.ini"
    path.write_text("""
[fact_extractor]
type_matching = False
""")
    cfg = load_config(str(path))
    assert cfg.type_matching is False


@pytest.mark.parametrize("field, typo", [
    ("mention_mode", "dictonary"),
    ("dictionary_strategy", "mapsid"),
    ("training_join_strategy", "salt"),
])
def test_unknown_strategy_value_rejected(field, typo):
    """A misspelt strategy value fails at construction instead of silently
    running another path."""
    with pytest.raises(ValueError, match=field):
        PipelineConfig(**{field: typo})
