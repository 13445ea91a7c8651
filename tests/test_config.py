"""Config-file initialization parity (config_initializer.py:13-37)."""

import ast
import dataclasses
import os

import pytest

import fact_extraction_spark
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
    assert cfg.articles_limit == 0
    assert cfg.match_threshold == 0.9          # override wins over file


def test_perform_tests_key_is_inert(tmp_path):
    """A reference config.ini that sets ``perform_tests`` loads to the same
    PipelineConfig as one without the key."""
    body = """
[wikipedia_pattern_extractor]
facts_limit = 7
{extra}
"""
    with_key = tmp_path / "with_key.ini"
    with_key.write_text(body.format(extra="perform_tests = True"))
    without_key = tmp_path / "without_key.ini"
    without_key.write_text(body.format(extra=""))
    assert load_config(str(with_key)) == load_config(str(without_key))


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
])
def test_unknown_strategy_value_rejected(field, typo):
    """A misspelt strategy value fails at construction instead of silently
    running another path."""
    with pytest.raises(ValueError, match=field):
        PipelineConfig(**{field: typo})


def test_every_config_field_is_read():
    """Every PipelineConfig field is read as an attribute by engine code
    outside the dataclass and the config.ini loader — a field nothing
    reads is an inert knob."""
    pkg = os.path.dirname(os.path.abspath(fact_extraction_spark.__file__))
    loader = os.path.join(pkg, "plans", "config.py")
    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    read: set[str] = set()
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == loader:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            inside_dataclass = {
                id(n) for c in ast.walk(tree)
                if isinstance(c, ast.ClassDef) and c.name == "PipelineConfig"
                for n in ast.walk(c)}
            read |= {n.attr for n in ast.walk(tree)
                     if isinstance(n, ast.Attribute)
                     and isinstance(n.ctx, ast.Load)
                     and id(n) not in inside_dataclass}
    assert sorted(fields - read) == []
