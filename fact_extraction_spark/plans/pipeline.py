"""The full distant-supervision lifecycle, Spark-first.

Mirrors the reference's three entry points (SURVEY.md §3) as two plans:

* ``learn(...)``   = learn_types.sh + learn_patterns.sh
* ``extract(...)`` = extract_facts.sh + fact_cleaner.py

Dataflow (SURVEY.md §7.1):
  pages → stage1 text (Arrow UDF) → sentences → mentions (anchor tagging /
  AC dictionary) → token windows → [learn: groupBy aggregates → pattern
  tables] / [extract: type-gate → broadcast score → threshold → anti-join
  known → triples].

Every stage takes/returns DataFrames; the learned model is a set of small
tables, broadcast at use sites.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_extraction_spark import caches
from fact_extraction_spark.caches import release as release_pipeline_caches  # noqa: F401  (public API)
from fact_extraction_spark.functions.uri import capitalize_first, strip_name
from fact_extraction_spark.operators.extract_text import (  # noqa: F401
    explode_sentences, extract_text,
)
from fact_extraction_spark.operators.lexical_patterns import (
    candidate_windows, cap_training_facts, learn_lexical_patterns,
)
from fact_extraction_spark.operators.link_ranking import (
    build_entity_profiles, compute_idf, disambiguate_mentions,
)
from fact_extraction_spark.operators.mentions import (
    _filled, _mapside_union, alias_join_keys, anchor_mention_rows,
    build_alias_candidates, collect_alias_broadcast, collect_redirect_map,
    collect_tail_broadcasts, fused_anchor_windows,
    fused_sentence_hits_and_anchors, hot_hits, resolve_redirects,
    split_alias_dictionary,
)
from fact_extraction_spark.operators.scoring import (
    score_candidates, slim_score_windows,
)
from fact_extraction_spark.operators.type_patterns import learn_type_patterns

logger = logging.getLogger(__name__)

# the accepted values of PipelineConfig's strategy fields
_CHOICES = {
    "mention_mode": ("anchors", "dictionary"),
    "dictionary_strategy": ("auto", "broadcast", "mapside"),
}


@dataclass
class PipelineConfig:
    """Engine knobs; defaults mirror config-default.ini + code defaults
    (see BASELINE.md reference-envelope table)."""

    relation_whitelist: list[str] | None = None     # config relation_types
    facts_limit: int = 2000                         # per relation
    relation_types_limit: int = 50
    articles_limit: int = 5000
    match_threshold: float = 0.5                    # config-default.ini:28
                                                    # (code default is 0.005,
                                                    # fact_extractor.py:18)
    allow_unknown_entity_types: bool = True
    # type_matching=False reproduces fact_extractor.py:123-147 +
    # pattern_matcher.py:24-25: NO reasonable-relations gate (every learned
    # relation is considered) and the match score is the pattern-intersection
    # (syntax) score ALONE — no type scores, no position term, no weighted
    # mean. The discovery-resource type gate stays active either way
    # (_load_discovery_resources applies it unconditionally,
    # fact_extractor.py:68-85).
    type_matching: bool = True
    window: int = 4                                 # lexical analogue of depth=2
    subject_minimum: float = 0.05                   # type-count cleaning
    object_minimum: float = 0.05
    least_threshold_words: float = 2
    least_threshold_types: float = 1
    lang: str | None = "en"
    # "anchors": reference-parity tagging (hyperlink targets ARE the links).
    # "dictionary": north-star stage 2 — Aho-Corasick over the broadcast
    # alias dictionary + tf-idf context-similarity disambiguation (stage 2b).
    mention_mode: str = "anchors"
    max_profile_words: int = 64
    # Dictionary-mode detection strategy:
    # "auto" (default) — count the (alias, entity) pairs (one agg over a
    #   dimension table) and pick: "broadcast" up to
    #   ``DICTIONARY_BROADCAST_PAIRS`` pairs (mapside's two extra shuffles
    #   are pure overhead on a small dictionary), "mapside" above.
    # "mapside" — bounded hot-head automaton broadcast + relational
    #   n-gram join against the long-tail alias table; the full dictionary is
    #   NEVER collected to the driver (at 10^7 aliases the full collect is a
    #   multi-GB driver materialization + per-executor Python dict).
    # "broadcast" — collect the whole dictionary into one automaton; fastest
    #   when the dictionary is known-small (tests, bounded domains).
    dictionary_strategy: str = "auto"
    # Dictionary mode only: also scan sentences WITHOUT any anchor link.
    # The reference-parity keeps-a-link sentence filter
    # (tagged_sentence.py:156,167-173) makes sense for anchor-supervised
    # extraction, but Common-Crawl-style pages carry no wiki anchors at
    # all — with this flag the AC/dictionary pass covers every extracted
    # sentence. Off by default so dictionary-mode output stays directly
    # comparable to anchors mode on the same corpus.
    dictionary_scan_unanchored: bool = False
    dictionary_hot_k: int = 100_000      # head size (aliases, not pairs)
    max_tail_tokens: int = 6             # n-gram bound for the tail join
    # Dictionary-mode sentence pruning: drop sentences with no automaton
    # hit, no anchor mention and no possible tail-alias start INSIDE the
    # scan UDF — on web-shaped pages the filler majority, whose tokens then
    # never cross Arrow, never enter the sentence persist and never reach
    # the n-gram explode. Semantics-neutral (every downstream consumer
    # filters on one of the three); in mapside mode it needs the tail's
    # first-token set broadcast, gated by collect_tail_broadcasts' row
    # bound (the set is orders of magnitude smaller than the dictionary —
    # aliases share first tokens — and the old posexplode path broadcast
    # the very same set for its semi-join).
    dictionary_prune_sentences: bool = True
    # config-default.ini:19 — 0 means learn type patterns over ALL facts
    type_learner_facts_limit: int = 0
    # Canonicalize triple subjects/objects through the connected-components
    # alias graph (redirects + capitalize variants) before the sink —
    # SURVEY §3.3 step 6 / §7.1 last box. Off by default: anchors-mode
    # extraction already resolves redirects + applies the capitalize hotfix
    # at mention time, so canonicalization only changes output when the
    # corpus contains alias-titled pages (subjects) or multi-step chains the
    # per-mention pass missed.
    canonicalize_output: bool = False

    def __post_init__(self):
        for name, allowed in _CHOICES.items():
            value = getattr(self, name)
            if value not in allowed:
                raise ValueError(
                    f"PipelineConfig.{name}={value!r}: expected one of "
                    f"{', '.join(map(repr, allowed))}")


@dataclass
class LearnedModel:
    pattern_words: DataFrame
    pattern_stats: DataFrame
    pattern_types: DataFrame
    type_probs: DataFrame
    rel_stats: DataFrame
    training_subjects: DataFrame

    def tables(self) -> tuple[DataFrame, ...]:
        return (self.pattern_words, self.pattern_stats, self.pattern_types,
                self.type_probs, self.rel_stats, self.training_subjects)

    def cache(self) -> "LearnedModel":
        for df in self.tables():
            df.cache()
        return self

    def unpersist(self) -> "LearnedModel":
        """Free the model's six tables (see ``caches``)."""
        for df in self.tables():
            caches.free(df)
        return self


# dictionary_strategy="auto" switch point, in (alias, entity) pairs
DICTIONARY_BROADCAST_PAIRS = 200_000


def _build_dict_ctx(spark: SparkSession, pages: DataFrame,
                    redirects: DataFrame, cfg: "PipelineConfig") -> dict:
    """Dictionary-mode detection context per cfg.dictionary_strategy.

    The context is a pure function of (pages, redirects, strategy knobs),
    so it is kept per those until ``caches.release()`` (``caches.memo``):
    learn and the extract after it in one session, over the same tables,
    build it once."""
    key = ("dict_ctx", cfg.dictionary_strategy, cfg.dictionary_hot_k,
           cfg.max_tail_tokens, cfg.dictionary_prune_sentences)
    return caches.memo(key, (pages, redirects),
                       lambda: _dict_ctx(spark, pages, redirects, cfg))


def _dict_ctx(spark: SparkSession, pages: DataFrame, redirects: DataFrame,
              cfg: "PipelineConfig") -> dict:
    cands = build_alias_candidates(pages, redirects)
    # AMBIGUITY is a dictionary-side property: an alias needs tf-idf
    # disambiguation iff its MATCH KEY maps to >1 entity. Matching happens
    # in token space (the automaton keys tokenized aliases; the mapside
    # tail joins on the tokenizer-space ``key``), so two distinct alias
    # strings that tokenize identically ("Foo -Bar" / "Foo - Bar") hit the
    # same span — grouping by the raw alias string would class each as
    # unambiguous and emit both entities for one mention. Group by the
    # tokenized key instead, then project back to alias strings so the
    # hit-side split below stays a broadcast semi/anti join on ``alias``.
    # Two dimension-table aggs; every hit on an unambiguous key bypasses
    # the whole ranking subplan (profiles, idf, context vectors, cosine,
    # per-span window) with identical semantics — top-1 of a single
    # candidate is that candidate regardless of score.
    # The tokenized-key dimension feeds the ambiguity agg and the dictionary
    # collect or the head/tail split and the head collect: materialize
    # it once (its row count is the alias-pair count), and free it once
    # the context's own tables are built.
    keyed, n_pairs = caches.materialize(alias_join_keys(cands))
    amb_keys = (keyed.groupBy("key")
                .agg(F.countDistinct("entity").alias("_n"))
                .filter(F.col("_n") > 1).select("key"))
    ambiguous, n_ambiguous = caches.materialize(
        keyed.join(F.broadcast(amb_keys), "key", "left_semi")
        .select("alias").distinct())
    # spares every extract a probe of the ambiguous-alias dimension
    ctx = {"ambiguous": ambiguous, "has_ambiguous": n_ambiguous > 0}
    strategy = cfg.dictionary_strategy
    if strategy == "auto":
        # the pair count decides the switch: under the threshold the
        # full-dictionary broadcast wins (mapside's n-gram explode + two
        # joins are pure overhead); above it the bounded-head mapside path
        # is the only sane shape
        strategy = ("broadcast" if n_pairs <= DICTIONARY_BROADCAST_PAIRS
                    else "mapside")
        logger.info("dictionary_strategy=auto: %d alias pairs -> %s",
                    n_pairs, strategy)
    if strategy == "broadcast":
        ctx.update(mode="broadcast", alias_bc=collect_alias_broadcast(
            spark, keyed.select("alias", "entity")))
    else:
        head, tail = split_alias_dictionary(
            cands, hot_k=cfg.dictionary_hot_k,
            max_tail_tokens=cfg.max_tail_tokens, keyed=keyed)
        # the ONLY driver materialization is the bounded head (≤ hot_k
        # aliases + the rare >max_tail_tokens ones); the tail stays a
        # DataFrame
        head_bc = collect_alias_broadcast(spark,
                                          head.select("alias", "entity"))
        # make the promised bound OBSERVABLE: aliases longer than
        # max_tail_tokens bypass hot_k unconditionally, so a
        # long-alias-heavy dictionary can still blow up the driver — warn
        # instead of failing silently (raise max_tail_tokens or pre-filter
        # junk aliases upstream)
        n_head = len(head_bc.value)
        if n_head > 2 * cfg.dictionary_hot_k:
            logger.warning(
                "map-side dictionary head holds %d pairs (> 2x hot_k=%d): "
                "the long-alias overflow (> max_tail_tokens=%d tokens) "
                "dominates; consider raising max_tail_tokens", n_head,
                cfg.dictionary_hot_k, cfg.max_tail_tokens)
        tail, n_tail = caches.materialize(
            tail.select("alias", "entity", "key"))
        # first-token set (in-scan candidate marking) + witness set
        # (sentence-level match gate, one selective token per tail alias) —
        # both None when pruning is off or the set exceeds the broadcast
        # bound; the tail join then falls back to posexplode + semi-join /
        # ungated scanning
        ft_bc = wit_bc = None
        if cfg.dictionary_prune_sentences:
            ft_bc, wit_bc = collect_tail_broadcasts(tail, n_tail)
        ctx.update(mode="mapside", head_bc=head_bc, tail=tail,
                   first_tok_bc=ft_bc, witness_bc=wit_bc,
                   tail_empty=n_tail == 0)
    caches.free(keyed)
    return ctx


def _page_mentions(pages: DataFrame, redirect_map_bc, lang: str | None,
                   dict_ctx: dict, cfg: "PipelineConfig") -> DataFrame:
    """Dictionary mode: pages → mention rows, excluding self-links (page
    linking itself, wikipedia_pattern_extractor.py:189-192
    ``res != entity``).

    Runs the north-star stage 2: Aho-Corasick detection over the alias
    dictionary (full broadcast or hot-head + relational tail, per
    dict_ctx["mode"]), then tf-idf context-similarity disambiguation
    (stage 2b) with entity profiles built from the trusted anchor-tagged
    mentions of the same pages.
    """
    # ONE corpus pass yields both the dictionary candidates (automaton
    # hits) and the trusted anchor mentions that build the tf-idf ranking
    # profiles
    broadcast = dict_ctx["mode"] == "broadcast"
    head_bc = dict_ctx["alias_bc"] if broadcast else dict_ctx["head_bc"]
    # prune filler sentences in the scan whenever the tail is covered:
    # broadcast mode has no tail (the head IS the full dictionary), mapside
    # mode needs the first-token set broadcast
    ft_bc = dict_ctx.get("first_tok_bc")
    prune = cfg.dictionary_prune_sentences and (broadcast or ft_bc is not None)
    sent = _filled(fused_sentence_hits_and_anchors(
        pages, head_bc, redirect_map_bc, lang=lang,
        include_unanchored=cfg.dictionary_scan_unanchored,
        first_tok_bc=ft_bc, prune_empty=prune,
        witness_bc=dict_ctx.get("witness_bc"), no_tail=broadcast))
    if broadcast:
        candidates = hot_hits(sent)
    else:
        candidates = _mapside_union(
            sent, dict_ctx["tail"], cfg.max_tail_tokens,
            use_cand=ft_bc is not None,
            tail_empty=dict_ctx["tail_empty"])
    # stage 2b runs ONLY over hits of ambiguous aliases (dictionary-side
    # split, see _build_dict_ctx); unambiguous hits pass through — the
    # ranking subplan's corpus-sized shuffles shrink to the ambiguous
    # slice, and when the dictionary has no ambiguity at all the
    # profile/idf build is skipped outright (one dimension-table probe).
    cols = ["url", "sent_id", "rel_pos", "tokens", "start", "end", "entity"]
    if not dict_ctx["has_ambiguous"]:
        mentions = candidates.select(*cols)
    else:
        amb_b = F.broadcast(dict_ctx["ambiguous"])
        unambig = candidates.join(amb_b, "alias", "left_anti").select(*cols)
        ambig = candidates.join(amb_b, "alias", "left_semi")
        profiles = caches.track(build_entity_profiles(
            anchor_mention_rows(sent),
            max_profile_words=cfg.max_profile_words).persist())
        idf = compute_idf(profiles)
        ranked = disambiguate_mentions(ambig, profiles, idf) \
            .drop("link_score")
        mentions = unambig.unionByName(ranked.select(*cols))
    # no stage boundary HERE: the caller materializes the windows right
    # after candidate_windows(), and the windows rows are far smaller than
    # mention rows carrying full sentence tokens — the round-3 eager
    # localCheckpoint at this spot wrote every mention row (tokens
    # included) to local disk before windowing, 2.85× the anchors-mode
    # extract (VERDICT r3 "What's wrong" #2).
    return mentions.filter(
        F.col("entity") != capitalize_first(strip_name("url")))


# windows⋈training-facts join switch point, in capped fact rows:
# ~(subj,pred,obj) triples broadcast comfortably well past 10^6 — at 2M
# short-string rows the broadcast is O(100 MB), still cheaper than
# shuffling a corpus-sized window table
TRAINING_JOIN_BROADCAST_ROWS = 2_000_000


def learn(
    spark: SparkSession,
    pages: DataFrame,
    facts: DataFrame,
    types: DataFrame,
    redirects: DataFrame,
    cfg: PipelineConfig | None = None,
    exclude_subjects: DataFrame | None = None,
) -> LearnedModel:
    """Train type patterns + lexical patterns."""
    cfg = cfg or PipelineConfig()

    # the capped facts feed the training-page filter, the windows join and
    # the model's training subjects; their count picks the join strategy
    # below
    training_facts, n_facts = caches.materialize(cap_training_facts(
        facts,
        relation_whitelist=cfg.relation_whitelist,
        facts_limit=cfg.facts_limit,
        relation_types_limit=cfg.relation_types_limit,
        exclude_subjects=exclude_subjects,
    ))
    training_subjects = training_facts.select("subj").distinct()

    # filtered-index semantics (wikipedia_dump_index_creator.py:41-57):
    # only articles that are training-fact subjects are read further.
    train_urls = training_subjects.select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/"), F.col("subj")).alias("url"))
    train_pages = pages.join(train_urls, "url", "left_semi")

    redirect_map_bc = collect_redirect_map(spark, redirects)
    dict_ctx = None
    if cfg.mention_mode == "dictionary":
        dict_ctx = _build_dict_ctx(spark, pages, redirects, cfg)
    # Anchors mode takes the single-pass nested-row path (html → candidate
    # rows in one mapInPandas, two fewer corpus-sized shuffles); dictionary
    # mode needs per-sentence tokens for tf-idf ranking, so it keeps the
    # mention-row path.
    if cfg.mention_mode == "anchors":
        windows = fused_anchor_windows(
            train_pages, redirect_map_bc, lang=cfg.lang, window=cfg.window)
    else:
        mentions = _page_mentions(train_pages, redirect_map_bc, cfg.lang,
                                  dict_ctx, cfg)
        windows = candidate_windows(mentions, window=cfg.window)
    # Stage boundary: windows feed several aggregates (pattern words /
    # stats / types) whose stages run concurrently; each would re-run the
    # whole html→windows UDF chain over an unfilled table (measured 5-10×
    # on the capped extract, VERDICT r2 #3). Materialized once, the
    # aggregates' plans start at its rows.
    windows, _ = caches.materialize(windows)

    # windows⋈training-facts join (SURVEY north star "salted joins + AQE"):
    # the capped fact count picks broadcast for a small fact set, or the
    # explicit skew-split salted join for one too big to broadcast, which
    # routes mega-entity keys through salting while the tail shuffle-joins
    # plainly. AQE skew-join (on in session.py) remains the runtime
    # backstop either way.
    join_strategy = ("broadcast" if n_facts <= TRAINING_JOIN_BROADCAST_ROWS
                     else "salted")
    logger.info("training join: %d capped facts -> %s", n_facts,
                join_strategy)
    learned = learn_lexical_patterns(
        windows, training_facts, types,
        least_threshold_words=cfg.least_threshold_words,
        least_threshold_types=cfg.least_threshold_types,
        join_strategy=join_strategy,
    )
    # type patterns are learned over the full fact set by default, as the
    # type_learner does with facts_limit=0 (config-default.ini:19); a
    # non-zero limit caps facts per relation first (type_learner.py:41-49)
    type_facts = facts
    if cfg.type_learner_facts_limit:
        type_facts = cap_training_facts(
            facts, facts_limit=cfg.type_learner_facts_limit,
            relation_types_limit=1_000_000)
    type_probs, rel_stats = learn_type_patterns(
        type_facts, types,
        subject_minimum=cfg.subject_minimum,
        object_minimum=cfg.object_minimum,
    )
    model = LearnedModel(
        pattern_words=learned["pattern_words"],
        pattern_stats=learned["pattern_stats"],
        pattern_types=learned["pattern_types"],
        type_probs=type_probs,
        rel_stats=rel_stats,
        training_subjects=training_subjects,
    ).cache()
    # the tables read learn's materialized stages, which caches.release
    # frees: fill their caches now, in one job, so the model outlives that
    # release (the first extract would read them in full anyway)
    reduce(DataFrame.unionAll, (
        df.select(F.lit(0).alias("_")) for df in model.tables())).count()
    return model


def select_discovery_pages(
    pages: DataFrame,
    model: LearnedModel,
    types: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Discovery corpus (fact_extractor.py:68-85 semantics): pages whose
    title is not a training subject and whose types intersect the learned
    subject-type gate (or are unknown, when allowed). Deterministic
    ``articles_limit`` cap by url order (divergence: reference is
    file-order).

    The gate is one aggregation over ``types``: each entity's types are
    left-joined to the broadcast subject-side gate types, which carry a
    flag, and ``max(flag)`` is 1 for an entity with a gate type and NULL
    for one whose types all miss it. The pages are then joined once, on
    title, against a broadcast title set: with unknown types allowed, an
    anti-join against the gate-failing entities UNION ALL the training
    subjects (¬training ∧ (typed_ok ∨ untyped) ⇔ ¬(training ∨ (typed ∧
    ¬typed_ok))); otherwise a semi-join against the gate-passing entities
    that are not training subjects. Either set holds at most the distinct
    entities of ``types`` plus the training subjects, so the html-bearing
    pages table never enters an exchange. Nothing runs until the result
    is read."""
    gate_types = F.broadcast(model.pattern_types.filter(
        F.col("side") == "subject").select("type", F.lit(1).alias("_ok")))
    gate = (types.join(gate_types, "type", "left")
            .groupBy(F.col("entity").alias("title"))
            .agg(F.max("_ok").alias("_ok")))
    training = model.training_subjects.select(F.col("subj").alias("title"))
    if cfg.allow_unknown_entity_types:
        titles = gate.filter(F.col("_ok").isNull()).select("title") \
            .unionAll(training)
        how = "left_anti"
    else:
        titles = gate.filter(F.col("_ok") == 1).select("title") \
            .join(F.broadcast(training), "title", "left_anti")
        how = "left_semi"
    kept = (pages.withColumn("title", capitalize_first(strip_name("url")))
            .join(F.broadcast(titles), "title", how).drop("title"))
    if cfg.articles_limit:
        # Distributed top-k: orderBy+limit on a slim (url) projection plans
        # as TakeOrderedAndProject (per-partition top-k, then one merge of k
        # rows) — NOT a row_number over an unpartitioned window, which would
        # funnel the whole discovery corpus through a single task. The kept
        # url set is at most articles_limit rows, so the semi-join back is a
        # broadcast.
        keep = kept.select("url").orderBy("url").limit(cfg.articles_limit)
        kept = pages.join(F.broadcast(keep), "url", "left_semi")
    return kept


def extract(
    spark: SparkSession,
    pages: DataFrame,
    model: LearnedModel,
    types: DataFrame,
    redirects: DataFrame,
    cfg: PipelineConfig | None = None,
    known_facts: DataFrame | None = None,
) -> DataFrame:
    """Run extraction over discovery pages → triples with evidence.

    Output: (subj, pred, obj, score, url, sent_id, rel_pos), unordered.
    Ordering is the caller's, as in the reference, which sorts once at
    print time (fact_extractor.py:208): a global sort here would add an
    all-to-all Exchange of the result that no sink needs.
    """
    cfg = cfg or PipelineConfig()
    discovery = select_discovery_pages(pages, model, types, cfg)

    redirect_map_bc = collect_redirect_map(spark, redirects)
    # redlink drop = fact_extractor.py:189-191
    if cfg.mention_mode == "anchors":
        windows = fused_anchor_windows(
            discovery, redirect_map_bc, lang=cfg.lang,
            window=cfg.window, drop_redlinks=True)
    else:
        dict_ctx = _build_dict_ctx(spark, pages, redirects, cfg)
        mentions = _page_mentions(discovery, redirect_map_bc, cfg.lang,
                                  dict_ctx, cfg)
        mentions = mentions.filter(~F.col("entity").contains("redlink=1"))
        windows = candidate_windows(mentions, window=cfg.window)
    # Stage boundary (VERDICT r2 #3): score_candidates submits several
    # stages over the windows concurrently; over an unfilled table each
    # re-runs the full html→windows chain plus the discovery subtree
    # (measured 178 s vs 19 s on the capped bench leg). Materialized once,
    # the scorer's plans start at its rows. It holds the SLIM scoring
    # schema (slot words hash-encoded to int64, nested strings dropped):
    # scoring is the only consumer and memory-bandwidth-bound, so every
    # byte not in this table is a byte no scoring pass re-reads.
    windows, _ = caches.materialize(slim_score_windows(windows))

    scored = score_candidates(
        windows,
        model.pattern_words, model.pattern_stats, model.pattern_types,
        model.type_probs, model.rel_stats, types,
        allow_unknown_entity_types=cfg.allow_unknown_entity_types,
        match_threshold=cfg.match_threshold,
        type_matching=cfg.type_matching,
    )
    if known_facts is not None:
        # new-fact subtraction (pattern_recognition/fact_cleaner.py:15-25)
        scored = scored.join(known_facts.select("subj", "pred", "obj"),
                             ["subj", "pred", "obj"], "left_anti")
    if cfg.canonicalize_output:
        # SURVEY §3.3 step 6: rewrite co-referent subject/object names to a
        # canonical representative via connected components over the alias
        # graph (resolved redirects + capitalize variants). Preferred
        # representatives: resolved redirect TARGETS (canonical by
        # definition) plus page titles that are not themselves redirect
        # aliases (a page titled with an alias — e.g. an alias-titled
        # mirror — is non-canonical, which is exactly the case this pass
        # exists to fix: its triples must surface under the real name).
        from fact_extraction_spark.operators.canonicalize import (
            build_equivalence_edges, canonical_mapping, canonicalize_triples)
        resolved = resolve_redirects(redirects).select("alias", "target")
        edges = build_equivalence_edges(resolved)
        titles = pages.select(
            capitalize_first(strip_name("url")).alias("name")).distinct()
        aliases = resolved.select(capitalize_first("alias").alias("name"))
        targets = resolved.select(capitalize_first("target").alias("name"))
        preferred = targets.unionByName(
            titles.join(aliases, "name", "left_anti")).distinct()
        mapping = canonical_mapping(edges, preferred=preferred)
        scored = canonicalize_triples(scored, mapping)
    return scored
