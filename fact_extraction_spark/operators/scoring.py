"""Stage 3b: score candidate windows against every learned relation pattern.

Exact score algebra of the reference matcher
(/root/reference/pattern_recognition/pattern_matcher.py:18-53), expressed as
joins + column math (whole-stage codegen; no Python in the loop):

* subject/object type score (:55-74): Σ P(rel|type) over the candidate's
  types ∩ learned types, divided by |candidate types|; 0 kills the match
  (early exit :31-37); a type-less entity scores None when
  ``allow_unknown_entity_types`` (weights renormalize, :146-164).
* position score ``(1-|Δ|)²`` (:127-133).
* syntax score ``min(1, avgI²/avg1/avg2)`` (:135-144) where the candidate
  pattern covers 1 sentence and holds one word per filled slot, so the
  counter-min intersection reduces to *counting matching (slot, word)
  pairs* against the learned pattern — a join + count.
* weighted arithmetic mean with weights [subj_wp, obj_wp, 0.15, 1.0]
  (:41-47), None-scores dropped and weights renormalized.

The learned per-relation tables are tiny (≤50 relations) and are joined as
one broadcast relation table — the corpus-sized candidate table never
shuffles. This is the reference's broadcast nested-loop "score every
candidate against every pattern" (fact_extractor.py:87-95) with the type
gate (fact_extractor.py:97-109) applied as a semi-join *before* scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fact_extraction_spark import caches
from fact_extraction_spark.functions.uri import capitalize_first, strip_name

RELATIVE_POSITION_WEIGHT = 0.15  # pattern_matcher.py:45
SYNTAX_WEIGHT = 1.0              # pattern_matcher.py:46
DEFAULT_MATCH_THRESHOLD = 0.005  # fact_extractor.py:18 (config default 0.5)
# largest type-score side table the scorer broadcasts (rows); above it the
# candidate table shuffle-joins the side table
SIDE_BROADCAST_ROWS = 5_000_000

CAND_KEY = ["url", "sent_id", "subject", "object"]
# the slim persist's key columns: ``subject`` is ALWAYS the page title —
# a pure function of ``url`` (capitalize_first(strip_name(url)), identical
# in both mention modes) — so the scoring persist does not store it; the
# scorer recomputes it per scan in codegen. The job is memory-bandwidth
# bound at high core counts (BENCH/BASELINE.md round-5 host-saturation
# analysis), so trading ~25 stored+rescanned string bytes per candidate
# for a few ALU ops on an otherwise stalled core is the right direction.
SLIM_KEY = ["url", "sent_id", "object"]


def _slot_key(slot_col, word_col):
    """(slot, word) → int64 via xxhash64 — the match-count join key.

    Strings dominate the byte volume of the candidate table (the job is
    memory-bandwidth-bound at high core counts, BENCH/BASELINE.md); an
    8-byte hash shrinks the scoring persist and makes ``array_intersect``
    integer codegen instead of string comparison. Collisions would need two
    distinct (slot, word) pairs sharing a 64-bit hash inside one relation's
    learned vocabulary (≤ ~10^5 keys) — probability < 10^-9, and the effect
    would be one spurious match count, not a wrong join."""
    return F.xxhash64(slot_col.cast("int"), word_col)


def hashed_slot_keys():
    """Column expression: nested ``slots`` → ``array<bigint>`` of hashed
    (slot, word) keys."""
    return F.transform("slots", lambda s: _slot_key(s["slot"], s["word"]))


def slim_score_windows(windows: DataFrame) -> DataFrame:
    """Project candidate windows to the minimal schema scoring needs, with
    the slot words hash-encoded and the derivable ``subject`` column
    dropped (see SLIM_KEY). extract() persists THIS instead of the full
    nested-string windows: the persist and every scan over it then carry
    8 bytes per slot instead of a string word and no subject string at all
    (learn() keeps the full slots — pattern learning needs the actual
    words)."""
    return windows.select(*SLIM_KEY, "rel_pos", "n_slots",
                          hashed_slot_keys().alias("slot_keys"))


def fused_side_scores(types: DataFrame, pattern_types: DataFrame,
                      type_probs: DataFrame, preds: DataFrame,
                      n_types: DataFrame, ents_both: DataFrame,
                      allow_unknown_entity_types: bool) -> DataFrame:
    """(entity, side, pred, type_score) for BOTH candidate sides in ONE
    types traversal.

    Exact-algebra fusion of the former per-side chain (its reference
    spelling lives in test_fused_side_scores_matches_reference): gate
    pairs ∩ ents → left-join per-side Σ P(rel|type) → ÷ n_types →
    early-exit filter. The gating set
    (pattern_types) and the probability table (type_probs) are both keyed
    (side, pred, type): union them into one broadcast dim and aggregate the
    types join once. max(is_gate) recovers the gate (an (entity, pred)
    passes iff some type matches the gating set) and sum(probability)
    recovers Σ P(rel|type) (gate-only rows carry NULL, which F.sum ignores,
    and an (entity, pred) holding a gate match but zero probability mass
    sums to NULL → coalesce 0 → dropped by the same >0 early-exit filter —
    pattern_matcher.py:31-37). ``ents_both`` is the labelled candidate
    entity set: (entity, side) with side ∈ {subject, object}; ``preds`` holds
    one row per scored relation (the type-less entities' rows).
    Equivalence is pinned by test_fused_side_scores_matches_reference."""
    gate_dim = (pattern_types.select("side", "pred", "type")
                .withColumn("probability", F.lit(None).cast("double"))
                .withColumn("is_gate", F.lit(1)))
    prob_dim = (type_probs.select("side", "pred", "type", "probability")
                .withColumn("is_gate", F.lit(0)))
    type_dim = F.broadcast(gate_dim.unionByName(prob_dim))

    typed = (
        types.join(type_dim, "type")
        .groupBy("entity", "side", "pred")
        .agg(F.sum("probability").alias("prob_sum"),
             F.max("is_gate").alias("gated"))
        .filter(F.col("gated") == 1)
        .join(ents_both, ["entity", "side"], "left_semi")
        .join(n_types, "entity")
        .withColumn("type_score",
                    F.coalesce("prob_sum", F.lit(0.0)) / F.col("n_types"))
        .filter(F.col("type_score") > 0)
        .select("entity", "side", "pred", "type_score"))
    if allow_unknown_entity_types:
        # type-less entities score None for every learned relation
        # (weights renormalize downstream)
        unknown = (
            ents_both.join(n_types, "entity", "left_anti")
            .crossJoin(F.broadcast(preds))
            .select("entity", "side", "pred",
                    F.lit(None).cast("double").alias("type_score")))
        typed = typed.unionByName(unknown)
    return typed


def score_candidates(
    windows: DataFrame,
    pattern_words: DataFrame,
    pattern_stats: DataFrame,
    pattern_types: DataFrame,
    type_probs: DataFrame,
    rel_stats: DataFrame,
    types: DataFrame,
    allow_unknown_entity_types: bool = True,
    match_threshold: float = DEFAULT_MATCH_THRESHOLD,
    type_matching: bool = True,
) -> DataFrame:
    """slim windows (``slim_score_windows``) → scored (subj, pred, obj,
    score, …).

    ``windows`` is the SLIM_KEY projection of
    ``lexical_patterns.candidate_windows`` over discovery pages: SLIM_KEY +
    ``rel_pos``, ``n_slots``, ``slot_keys``. The per-relation model tables
    (``pattern_stats``, ``pattern_words``' keys per relation and, with type
    matching, ``rel_stats``' two weights) become ONE relation table, joined
    once as a broadcast; the type-score side table is the only other join.

    ``type_matching=False`` reproduces the reference exactly
    (fact_extractor.py:135-141 + pattern_matcher.py:24-25): every candidate
    is scored against EVERY learned relation (no reasonable-relations
    gate), and the match score is the pattern-intersection (syntax) score
    alone — no type scores, no position term, no weighted mean.
    """
    # windows hold ONE row per candidate (unique by construction in
    # fused_anchor_windows / candidate_windows) — no corpus-wide distinct.
    # ``slot_keys`` hash-encodes each filled slot (slot, word) to int64 so
    # the match count is a codegen array_intersect of LONG arrays against a
    # broadcast per-relation key array — NOT an explode + broadcast-join +
    # groupBy(count) + join back, which costs two corpus-sized shuffles and
    # was the dominant allocation source at high core counts
    # (BENCH/BASELINE.md round-2 task-time-inflation analysis). The
    # page-title subject is recomputed from url in codegen — cheaper than
    # storing and re-reading it per scan.
    cands = windows.withColumn(
        "subject", capitalize_first(strip_name("url"))).select(
        *CAND_KEY, "rel_pos", "n_slots", "slot_keys")

    def finalize(df: DataFrame) -> DataFrame:
        """Post-threshold projection to the output schema."""
        return df.select(
            F.col("subject").alias("subj"),
            "pred",
            F.col("object").alias("obj"),
            "score",
            "url", "sent_id", "rel_pos",
        )

    # ---- the relation table: per scorable relation, its pattern stats,
    # learned (slot, word) keys and, with type matching, both type weights
    # (≤ relation_types_limit rows, one broadcast) ----
    learned_keys = pattern_words.groupBy("pred").agg(
        F.collect_list(_slot_key(F.col("slot"), F.col("word")))
        .alias("learned_keys"))
    scorable = pattern_stats.filter(F.col("total_words") > 0)
    relations = scorable.join(learned_keys, "pred", "left")
    if type_matching:
        relations = relations.join(rel_stats.select(
            "pred",
            F.col("subject_weighted_probability").alias("swp"),
            F.col("object_weighted_probability").alias("owp")), "pred")
    relations = F.broadcast(relations)

    if type_matching:
        # ---- reasonable-relations gate + type score + early exit, both
        # sides in ONE side table: the candidates' labelled (entity, side)
        # set goes through fused_side_scores (one ``types`` traversal) and
        # the two joins split it by the label ("Joins over UNION ALL
        # Queries", SIGMOD 2018). Traced thin_anchored extract on a 4-core
        # host: 37 scoring jobs with the former concurrent per-side builds,
        # 23 with this one. ----
        ents_both = (
            cands.select(F.col("subject").alias("entity"),
                         F.lit("subject").alias("side"))
            .unionByName(cands.select(F.col("object").alias("entity"),
                                      F.lit("object").alias("side")))
            .distinct())
        n_types = types.groupBy("entity").agg(F.count("*").alias("n_types"))
        # the side table (candidate entities × admissible preds) sits behind
        # aggregates whose size Catalyst cannot estimate, so materialize it
        # and measure it once: a broadcast keeps the corpus-sized candidate
        # table from shuffling. Its type-less rows take their preds from
        # pattern_stats, not the relation table: one job fewer, and the
        # relation join drops the same rows.
        sides, n_sides = caches.materialize(fused_side_scores(
            types, pattern_types, type_probs, scorable.select("pred"),
            n_types, ents_both, allow_unknown_entity_types))
        small = n_sides <= SIDE_BROADCAST_ROWS

        def side_table(side: str) -> DataFrame:
            """(side-named entity, pred, {side}_type_score) projection."""
            tbl = sides.filter(F.col("side") == side).select(
                F.col("entity").alias(side), "pred",
                F.col("type_score").alias(f"{side}_type_score"))
            return F.broadcast(tbl) if small else tbl

        scored = (
            cands.join(side_table("subject"), "subject")
            .join(side_table("object"), ["object", "pred"])
            .join(relations, "pred")
        )
    else:
        # reasonable_relations = ALL learned relations
        # (fact_extractor.py:140-141)
        scored = cands.crossJoin(relations)

    # ---- syntax score (|candidate ∩ learned (slot, word) pairs|) ----
    matches = F.when(F.col("learned_keys").isNull(), F.lit(0)).otherwise(
        F.size(F.array_intersect("slot_keys", "learned_keys")))
    avg_learned = F.col("total_words") / F.col("covered_sentences")
    # candidate total words = filled slots + 1 (the mention-head "root" word,
    # which the learned side has cleared — pattern.py:214)
    avg_cand = F.col("n_slots") + F.lit(1.0)
    syntax = F.least(F.lit(1.0),
                     (matches * matches) / avg_learned / avg_cand)
    scored = scored.withColumn("syntax_score", syntax)

    if not type_matching:
        # pattern_matcher.py:24-25: score = the intersection score, full stop
        return finalize(
            scored.withColumn("score", F.col("syntax_score"))
            .filter(F.col("score") >= match_threshold))

    # ---- position score ----
    pos = (F.lit(1.0) - F.abs(F.col("relative_position") - F.col("rel_pos"))) ** 2
    scored = scored.withColumn("position_score", pos)

    # ---- weighted mean with None-dropping renormalization ----
    st, ot = F.col("subject_type_score"), F.col("object_type_score")
    w_st = F.when(st.isNull(), 0.0).otherwise(F.col("swp"))
    w_ot = F.when(ot.isNull(), 0.0).otherwise(F.col("owp"))
    total_w = w_st + w_ot + F.lit(RELATIVE_POSITION_WEIGHT) + F.lit(SYNTAX_WEIGHT)
    weighted_sum = (
        F.coalesce(st, F.lit(0.0)) * w_st
        + F.coalesce(ot, F.lit(0.0)) * w_ot
        + F.col("position_score") * F.lit(RELATIVE_POSITION_WEIGHT)
        + F.col("syntax_score") * F.lit(SYNTAX_WEIGHT)
    )
    scored = scored.withColumn("score", weighted_sum / total_w)

    return finalize(scored.filter(F.col("score") >= match_threshold))
