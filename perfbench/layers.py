"""Stage-isolated pass over the pipeline's layers for the traced run.

Each layer's public function is called on the materialized, counted
output of the layer before it, inside a span named after the layer; the
bookkeeping counts that feed the ratios run in spans of their own (layer
None), so they land in no layer. The wiring follows
``plans.pipeline.extract`` and ``_page_mentions``. The residual compares
the run's one extract, over a fresh model, with the layers of that path;
dict_ctx is built cold here as it is there. extract_text is measured
beside the path because the production scan extracts text inside its
fused UDF.
"""

from __future__ import annotations

from perfbench.eventlog import Counters, attribute, read_event_log
from perfbench.spans import Tracer

LAYERS = ("extract_text", "discovery", "dict_ctx", "mentions",
          "link_ranking", "lexical_patterns", "type_patterns", "scoring",
          "snapshot")
COUNTER_UNITS = {"self_s": "s", "jobs": "count", "tasks": "count",
                 "task_run_s": "s", "shuffle_write_mb": "MB",
                 "spill_mb": "MB", "failed_tasks": "count"}
EXTRA_UNITS = {
    "extract_text.mb_in": "MB", "extract_text.sentences": "count",
    "mentions.kept_share": "ratio",
    "dict_ctx.alias_pairs": "count", "dict_ctx.head_pairs": "count",
    "dict_ctx.tail_pairs": "count",
    "link_ranking.ambiguous_share": "ratio",
    "scoring.candidates_in": "count", "scoring.yield": "ratio",
    "snapshot.rows": "count", "snapshot.parts": "count",
    "trace.e2e_s": "s", "trace.staged_s": "s", "trace.residual_s": "s",
}
# the layers of an extract over a fresh model, whose staged times the
# residual subtracts
EXTRACT_PATH = ("discovery", "dict_ctx", "mentions", "link_ranking",
                "lexical_patterns", "scoring", "snapshot")


def _materialize(df):
    """The layer's output, materialized with its lineage cut, and its row
    count. A cut lineage keeps the next layer's plan as small as the
    layer itself: plans that carry every earlier layer (or many cached
    ones) spend seconds in the optimizer on every job."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def staged_pass(run, tr: Tracer) -> dict:
    """Runs every layer once; returns the layer-specific counts."""
    from pyspark.sql import functions as F
    from fact_extraction_spark.functions.uri import (
        capitalize_first, strip_name)
    from fact_extraction_spark.operators.extract_text import (
        explode_sentences, extract_text)
    from fact_extraction_spark.operators.lexical_patterns import (
        candidate_windows, cap_training_facts, learn_lexical_patterns)
    from fact_extraction_spark.operators.link_ranking import (
        build_entity_profiles, compute_idf, disambiguate_mentions)
    from fact_extraction_spark.operators.mentions import (
        _mapside_union, anchor_mention_rows, build_alias_candidates,
        collect_redirect_map, fused_anchor_windows,
        fused_sentence_hits_and_anchors, hot_hits)
    from fact_extraction_spark.operators.scoring import (
        score_candidates, slim_score_windows)
    from fact_extraction_spark.operators.type_patterns import (
        learn_type_patterns)
    from fact_extraction_spark.plans.pipeline import (
        _build_dict_ctx, release_pipeline_caches, select_discovery_pages)
    from fact_extraction_spark.sinks.snapshot import (
        commit_partitions, with_part_id)

    spark, t, model = run.spark, run.t, run.model
    learn_cfg, cfg = run.configs()
    pages, types = t["run_pages"], t["types"]
    c: dict[str, float] = {}
    # the extract builds the redirect map before any layer runs
    with tr.span("redirect_map"):
        rmap = collect_redirect_map(spark, t["redirects"])

    # -- learn side: type patterns and lexical patterns on staged inputs --
    with tr.span("learn_inputs"):
        training, _ = _materialize(cap_training_facts(
            t["facts"], relation_whitelist=learn_cfg.relation_whitelist,
            facts_limit=learn_cfg.facts_limit,
            relation_types_limit=learn_cfg.relation_types_limit,
            exclude_subjects=t["ground_truth"]))
        train_urls = training.select(F.concat(
            F.lit("https://en.wikipedia.org/wiki/"), F.col("subj")).alias("url"))
        train_windows, _ = _materialize(fused_anchor_windows(
            t["pages"].join(train_urls, "url", "left_semi"), rmap,
            lang=learn_cfg.lang, window=learn_cfg.window))
    with tr.span("type_patterns", layer="type_patterns"):
        for df in learn_type_patterns(
                t["facts"], types, subject_minimum=learn_cfg.subject_minimum,
                object_minimum=learn_cfg.object_minimum):
            _materialize(df)
    with tr.span("learn_lexical_patterns", layer="lexical_patterns"):
        for df in learn_lexical_patterns(
                train_windows, training, types,
                least_threshold_words=learn_cfg.least_threshold_words,
                least_threshold_types=learn_cfg.least_threshold_types
                ).values():
            _materialize(df)
    release_pipeline_caches()

    # -- extract side --
    with tr.span("discovery", layer="discovery"):
        discovery, _ = _materialize(
            select_discovery_pages(pages, model, types, cfg))
    with tr.span("extract_text", layer="extract_text"):
        _, c["extract_text.sentences"] = _materialize(
            explode_sentences(extract_text(discovery, lang=cfg.lang)))
    with tr.span("counts"):
        c["extract_text.mb_in"] = discovery.select(
            F.sum(F.length("html"))).first()[0] / 1e6

    cols = ["url", "sent_id", "rel_pos", "tokens", "start", "end", "entity"]
    if cfg.mention_mode == "anchors":
        for k in ("dict_ctx.alias_pairs", "dict_ctx.head_pairs",
                  "dict_ctx.tail_pairs", "link_ranking.ambiguous_share"):
            c[k] = 0
        with tr.span("mentions", layer="mentions"):
            windows, _ = _materialize(fused_anchor_windows(
                discovery, rmap, lang=cfg.lang, window=cfg.window,
                drop_redlinks=True))
        with tr.span("counts"):
            kept = windows.select("url", "sent_id").distinct().count()
        scanned = c["extract_text.sentences"]
    else:
        with tr.span("dict_ctx", layer="dict_ctx"):
            ctx = _build_dict_ctx(spark, pages, t["redirects"], cfg)
        broadcast = ctx["mode"] == "broadcast"
        head_bc = ctx["alias_bc"] if broadcast else ctx["head_bc"]
        with tr.span("counts"):
            c["dict_ctx.alias_pairs"] = build_alias_candidates(
                pages, t["redirects"]).count()
            c["dict_ctx.head_pairs"] = len(head_bc.value)
            c["dict_ctx.tail_pairs"] = 0 if broadcast else ctx["tail"].count()
        ft_bc = ctx.get("first_tok_bc")
        prune = cfg.dictionary_prune_sentences and (
            broadcast or ft_bc is not None)

        def scan(prune_empty):
            return fused_sentence_hits_and_anchors(
                discovery, head_bc, rmap, lang=cfg.lang,
                include_unanchored=cfg.dictionary_scan_unanchored,
                first_tok_bc=ft_bc, prune_empty=prune_empty,
                witness_bc=ctx.get("witness_bc"), no_tail=broadcast)
        with tr.span("mentions", layer="mentions"):
            sent, kept = _materialize(scan(prune))
            cands, n_hits = _materialize(hot_hits(sent) if broadcast else (
                _mapside_union(
                    sent.select("url", "sent_id", "rel_pos", "tokens",
                                "hits", "cand"),
                    ctx["tail"], cfg.max_tail_tokens,
                    use_cand=ft_bc is not None,
                    tail_empty=ctx.get("tail_empty"))))
        with tr.span("counts"):
            # the dictionary scan reads every sentence, linked or not
            scanned = scan(False).count()
        amb = F.broadcast(ctx["ambiguous"])
        with tr.span("link_ranking", layer="link_ranking"):
            if ctx["has_ambiguous"]:
                profiles, _ = _materialize(build_entity_profiles(
                    anchor_mention_rows(sent),
                    max_profile_words=cfg.max_profile_words))
                ranked = disambiguate_mentions(
                    cands.join(amb, "alias", "left_semi"), profiles,
                    compute_idf(profiles)).drop("link_score")
                mentions, _ = _materialize(
                    cands.join(amb, "alias", "left_anti").select(*cols)
                    .unionByName(ranked.select(*cols)))
            else:
                mentions = cands.select(*cols)
        with tr.span("counts"):
            n_amb = cands.join(amb, "alias", "left_semi").count()
            c["link_ranking.ambiguous_share"] = n_amb / n_hits if n_hits else 0
        mentions = mentions.filter(
            (F.col("entity") != capitalize_first(strip_name("url")))
            & ~F.col("entity").contains("redlink=1"))
        windows = candidate_windows(mentions, window=cfg.window)
    c["mentions.kept_share"] = kept / scanned if scanned else 0

    with tr.span("lexical_patterns", layer="lexical_patterns"):
        windows, n_windows = _materialize(slim_score_windows(windows))
    with tr.span("scoring", layer="scoring"):
        scored, n_scored = _materialize(score_candidates(
            windows, model.pattern_words, model.pattern_stats,
            model.pattern_types, model.type_probs, model.rel_stats, types,
            allow_unknown_entity_types=cfg.allow_unknown_entity_types,
            match_threshold=cfg.match_threshold,
            type_matching=cfg.type_matching))
    c["scoring.candidates_in"] = n_windows
    c["scoring.yield"] = n_scored / n_windows if n_windows else 0
    with tr.span("snapshot", layer="snapshot"):
        summary = commit_partitions(
            spark, with_part_id(scored, "subj", num_parts=run.cpus),
            run.fresh_base(), stage="triples")
    c["snapshot.rows"] = summary["rows"]
    c["snapshot.parts"] = summary["parts"]
    release_pipeline_caches()
    return c


def layer_metrics(tr: Tracer, event_log: str, counts: dict,
                  e2e_s: float) -> dict:
    """Every per-layer metric as name -> (value, unit)."""
    per_span = attribute(read_event_log(event_log), tr.innermost)
    out: dict[str, tuple[float, str]] = {}
    staged = 0.0
    for layer in LAYERS:
        total, self_s = Counters(), 0.0
        for i, span in enumerate(tr.spans):
            if span.layer == layer:
                self_s += tr.self_time(i)
                total.add(per_span.get(i, Counters()))
        if layer in EXTRACT_PATH:
            staged += self_s
        out[f"{layer}.self_s"] = (self_s, "s")
        for k in COUNTER_UNITS:
            if k != "self_s":
                out[f"{layer}.{k}"] = (getattr(total, k), COUNTER_UNITS[k])
    counts = {**counts, "trace.e2e_s": e2e_s, "trace.staged_s": staged,
              "trace.residual_s": e2e_s - staged}
    for k, unit in EXTRA_UNITS.items():
        out[k] = (counts[k], unit)
    return out
