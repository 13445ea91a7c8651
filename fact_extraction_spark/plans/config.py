"""Config-file initialization: ``config.ini`` → :class:`PipelineConfig`.

Reproduces the reference's only user-facing configuration surface
(/root/reference/config_initializer/config_initializer.py:13-37 +
config-default.ini): a missing ``config.ini`` is generated from the default
file, then every engine knob is read from its section.

Keys with no engine counterpart are accepted and ignored: ``threads``
(Spark parallelism is session/cluster config, not pipeline config),
``randomize`` (the engine is deterministic by design — documented
divergence, SURVEY §4), ``use_dump`` (the corpus is always the input
table), ``perform_tests`` (the reference's invariant asserts guard a
pattern TREE, pattern.py:144-155; the monoid groupBy merge has no tree to
validate).
"""

from __future__ import annotations

import configparser
import os
import shutil

from fact_extraction_spark.plans.pipeline import PipelineConfig

_DEFAULT_INI = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), "config-default.ini")


def generate_config_if_missing(path: str,
                               default_path: str = _DEFAULT_INI) -> None:
    """Copy the default config when ``path`` doesn't exist
    (config_initializer.py:26-37)."""
    if not os.path.isfile(path):
        shutil.copyfile(default_path, path)


def _split_relations(raw: str) -> list[str] | None:
    """``relation_types`` value → whitelist; blank means any relation
    (config-default.ini:12 comment)."""
    items = [r for chunk in raw.split(",") for r in chunk.split()]
    return items or None


def load_config(path: str, default_path: str = _DEFAULT_INI,
                **overrides) -> PipelineConfig:
    """Read ``path`` (generated from ``default_path`` if missing) into a
    PipelineConfig. ``overrides`` win over file values (CLI flags)."""
    generate_config_if_missing(path, default_path)
    p = configparser.ConfigParser(inline_comment_prefixes=(";", "#"))
    p.read(path)

    cfg: dict = {}

    if p.has_section("wikipedia_pattern_extractor"):
        s = p["wikipedia_pattern_extractor"]
        if "relation_types" in s:
            cfg["relation_whitelist"] = _split_relations(s["relation_types"])
        if "facts_limit" in s:
            cfg["facts_limit"] = s.getint("facts_limit")
        if "relation_types_limit" in s:
            cfg["relation_types_limit"] = s.getint("relation_types_limit")

    if p.has_section("pattern_cleaner"):
        s = p["pattern_cleaner"]
        if "least_threshold_words" in s:
            cfg["least_threshold_words"] = s.getfloat("least_threshold_words")
        if "least_threshold_types" in s:
            cfg["least_threshold_types"] = s.getfloat("least_threshold_types")

    if p.has_section("type_learner"):
        s = p["type_learner"]
        if "facts_limit" in s:
            cfg["type_learner_facts_limit"] = s.getint("facts_limit")

    if p.has_section("type_cleaner"):
        s = p["type_cleaner"]
        if "subject_minimum" in s:
            cfg["subject_minimum"] = s.getfloat("subject_minimum")
        if "object_minimum" in s:
            cfg["object_minimum"] = s.getfloat("object_minimum")

    if p.has_section("fact_extractor"):
        s = p["fact_extractor"]
        if "articles_limit" in s:
            cfg["articles_limit"] = s.getint("articles_limit")
        if "match_threshold" in s:
            cfg["match_threshold"] = s.getfloat("match_threshold")
        if "type_matching" in s:
            cfg["type_matching"] = s.getboolean("type_matching")
        if "allow_unknown_entity_types" in s:
            cfg["allow_unknown_entity_types"] = s.getboolean(
                "allow_unknown_entity_types")

    cfg.update(overrides)
    return PipelineConfig(**cfg)
