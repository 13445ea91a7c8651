"""Stage 3a: lexical token-window pattern learning.

The reference learns, per relation, a tree of dependency-parse nodes holding
word-frequency counters (BFS depth 2 from the object mention,
/root/reference/pattern_extraction/pattern_extractor.py:56-115), merged by a
recursive tree merge (pattern.py:75-142). Per the north star, this engine
replaces the parse tree with a *lexical token-window pattern*: words at
signed offsets around the object mention (slot <0 = before the mention span,
slot >0 = after). The merge algebra is then a commutative monoid —
``groupBy(pred, slot, word).count()`` — so Spark's partial+final hash
aggregation replaces the recursive UDAF outright.

Window construction is pure column algebra (explode over a literal offset
array + ``element_at``) — no Python in this hot path at all.

Tables produced by ``learn_lexical_patterns``:
  pattern_words(pred, slot, word, freq)           # cleaned, root excluded
  pattern_stats(pred, covered_sentences, relative_position, total_words)
  pattern_types(pred, side, type, freq)           # gating sets
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fact_extraction_spark.caches import track
from fact_extraction_spark.functions.uri import capitalize_first, strip_name

MAX_SENTENCE_TOKENS = 50   # fact_extractor.py:128 / wikipedia_pattern_extractor.py:199
DEFAULT_WINDOW = 4         # lexical analogue of BFS depth=2 (pattern_extractor.py:118)


def candidate_windows(mentions: DataFrame, window: int = DEFAULT_WINDOW) -> DataFrame:
    """mentions → ONE row per candidate with nested slot words.

    Input: (url, sent_id, rel_pos, tokens, start, end, entity).
    Output: (url, sent_id, rel_pos, subject, object, n_slots,
    slots: array<struct<slot, word>>) where ``subject`` is the page title
    and ``object`` the mention entity — the same nested contract as
    ``mentions.fused_anchor_windows`` (one row per candidate keeps the
    url/subject/object strings off the wire 2·window times over).
    The mention's own tokens are never window words (they are the pattern
    "root", which the reference clears before scoring, pattern.py:214).
    """
    offsets = [o for o in range(-window, window + 1) if o != 0]
    # one candidate per (sentence, entity): keep the first span, like the
    # reference's one-pattern-per-(sentence, object_link) extraction
    # (fact_extractor.py:133-147)
    first_span = Window.partitionBy("url", "sent_id", "entity").orderBy("start", "end")
    base = (
        mentions.filter(F.size("tokens") <= MAX_SENTENCE_TOKENS)
        .withColumn("_sp", F.row_number().over(first_span))
        .filter(F.col("_sp") == 1).drop("_sp")
        .withColumn("subject", capitalize_first(strip_name("url")))
        .withColumnRenamed("entity", "object")
    )
    # nested slot words: for each offset, the token at start+o (o<0) or
    # end+o (o>0) when in range — pure column algebra, no explode
    n_tok = F.size("tokens")
    slot_structs = []
    for o in offsets:
        pos = (F.col("start") + o) if o < 0 else (F.col("end") + o)
        word = F.when((pos >= 0) & (pos < n_tok),
                      F.element_at("tokens", pos + 1))
        slot_structs.append(F.when(word.isNotNull(), F.struct(
            F.lit(o).alias("slot"), word.alias("word"))))
    slots = F.filter(F.array(*slot_structs), lambda s: s.isNotNull())
    return (
        base.withColumn("slots", slots)
        .withColumn("n_slots", F.size("slots"))
        .select("url", "sent_id", "rel_pos", "subject", "object",
                "n_slots", "slots")
    )


def cap_training_facts(
    facts: DataFrame,
    relation_whitelist: list[str] | None = None,
    facts_limit: int = 2000,
    relation_types_limit: int = 50,
    exclude_subjects: DataFrame | None = None,
) -> DataFrame:
    """Deterministic training caps (reference semantics were file-order:
    wikipedia_pattern_extractor.py:98-107; we fix an explicit orderBy so
    reruns are stable — documented divergence, SURVEY §4).

    * relation whitelist (config relation_types),
    * at most ``relation_types_limit`` distinct predicates (by name order),
    * at most ``facts_limit`` facts per predicate,
    * test-set subject exclusion (anti-join; leak check mirrors
      pattern_tester.py:47-50).
    """
    df = facts
    if relation_whitelist:
        df = df.filter(F.col("pred").isin(list(relation_whitelist)))
    if exclude_subjects is not None:
        df = df.join(exclude_subjects.select("subj").distinct(),
                     "subj", "left_anti")
    # the first predicates by name: a distributed top-k over the distinct
    # predicates (TakeOrderedAndProject), no window over one partition
    kept = (df.select("pred").distinct().orderBy("pred")
            .limit(relation_types_limit))
    df = df.join(F.broadcast(kept), "pred", "left_semi")
    fact_rank = F.row_number().over(
        Window.partitionBy("pred").orderBy("subj", "obj"))
    return df.withColumn("_fr", fact_rank).filter(
        F.col("_fr") <= facts_limit).drop("_fr")


def learn_lexical_patterns(
    windows: DataFrame,
    training_facts: DataFrame,
    types: DataFrame,
    least_threshold_words: float = 2,
    least_threshold_types: float = 1,
    join_strategy: str = "broadcast",
    salt_hot_min_count: int = 100_000,
) -> dict[str, DataFrame]:
    """Join mention windows to distant-supervision facts and aggregate.

    The join ``(subject==subj) & (object==obj)`` is the potentially skewed
    one (hub objects like country pages). With the default
    ``join_strategy="broadcast"`` the facts side is capped and small, so we
    broadcast it — no shuffle of the corpus-sized window table, and skew is
    irrelevant to a broadcast hash join. With ``join_strategy="salted"``
    (for uncapped fact sets too big to broadcast — facts_limit=0 over a full
    KB) the join takes the explicit skew-split path (SURVEY north star
    "salted joins + AQE"): mega-entity keys with at least
    ``salt_hot_min_count`` window rows (``>=``, matching
    ``salting.hot_keys``) are salted across tasks with the fact side
    replicated only for those keys; the long tail takes the plain shuffle
    join.
    """
    if join_strategy == "salted":
        from fact_extraction_spark.operators.salting import (
            hot_keys, skew_split_join)
        fk_plain = training_facts.select(
            F.col("subj").alias("subject"), "pred",
            F.col("obj").alias("object"))
        hot = hot_keys(windows, ["subject", "object"], salt_hot_min_count)
        matched = skew_split_join(
            windows, fk_plain, ["subject", "object"], hot=hot)
    else:
        fk = F.broadcast(training_facts.select(
            F.col("subj").alias("subject"), "pred",
            F.col("obj").alias("object")))
        matched = windows.join(fk, ["subject", "object"])  # adds pred
    # matched feeds two aggregates, instances three — persist both so the
    # join upstream executes once (fan-out hygiene); caches.release frees
    # both
    matched = track(matched.persist())

    # one row per covered sentence-extraction instance (url, sent, obj, pred)
    instances = track(matched.select(
        "url", "sent_id", "rel_pos", "subject", "object", "pred")
        .distinct().persist())

    raw_words = (
        matched.select("pred", F.explode("slots").alias("s"))
        .groupBy("pred", F.col("s.slot").alias("slot"),
                 F.col("s.word").alias("word"))
        .agg(F.count("*").alias("freq"))
    )
    pattern_words = clean_pattern_words(raw_words, least_threshold_words)

    totals = pattern_words.groupBy("pred").agg(F.sum("freq").alias("total_words"))
    pattern_stats = (
        instances.groupBy("pred").agg(
            F.count("*").alias("covered_sentences"),
            F.avg("rel_pos").alias("relative_position"),
        )
        .join(totals, "pred", "left")
        .fillna({"total_words": 0})
    )

    def side_types(col: str, side: str) -> DataFrame:
        return (
            instances.select(F.col(col).alias("entity"), "pred")
            .join(types, "entity")
            .groupBy("pred", "type").agg(F.count("*").alias("freq"))
            .filter(F.col("freq") >= least_threshold_types)
            .select("pred", F.lit(side).alias("side"), "type", "freq")
        )

    pattern_types = side_types("subject", "subject").unionByName(
        side_types("object", "object"))
    return {
        "pattern_words": pattern_words,
        "pattern_stats": pattern_stats,
        "pattern_types": pattern_types,
        "training_instances": instances,
    }


def pattern_coverage(instances: DataFrame, training_facts: DataFrame) -> DataFrame:
    """Per-relation training coverage (wikipedia_pattern_extractor.py:276-307):
    how many of the relation's training facts produced at least one matched
    sentence. Output: (pred, matched_facts, total_facts, coverage)."""
    matched = (instances.select("pred",
                                F.col("subject").alias("subj"),
                                F.col("object").alias("obj")).distinct()
               .groupBy("pred").agg(F.count("*").alias("matched_facts")))
    totals = training_facts.groupBy("pred").agg(
        F.count("*").alias("total_facts"))
    return (totals.join(matched, "pred", "left")
            .fillna({"matched_facts": 0})
            .withColumn("coverage",
                        F.col("matched_facts") / F.col("total_facts")))


def pattern_diversity(pattern_words: DataFrame,
                      pattern_stats: DataFrame) -> DataFrame:
    """Per-relation diversity measure (pattern.py:53-73): mean over slots of
    (distinct words in slot / covered sentences). High diversity = the slot
    carries no stable lexical signal. Output: (pred, diversity)."""
    per_slot = pattern_words.groupBy("pred", "slot").agg(
        F.countDistinct("word").alias("distinct_words"))
    return (per_slot.join(pattern_stats.select("pred", "covered_sentences"),
                          "pred")
            .withColumn("slot_diversity",
                        F.col("distinct_words") / F.col("covered_sentences"))
            .groupBy("pred").agg(F.avg("slot_diversity").alias("diversity")))


def clean_pattern_words(raw_words: DataFrame, least_threshold_words: float) -> DataFrame:
    """Frequency cleaning of pattern words (pattern.py:196-225 semantics on
    flattened rows).

    Absolute threshold (>=1): plain filter. Fractional threshold (<1): the
    reference's dynamic loop — raise the cutoff from 2 until the mass of
    dropped words per relation exceeds ``total*threshold`` — expressed as a
    per-relation aggregate comparison, no driver iteration over patterns.
    """
    if least_threshold_words >= 1:
        return raw_words.filter(F.col("freq") >= least_threshold_words)

    # dynamic: for each relation choose the largest cutoff t >= 2 such that
    # the words dropped so far stay within total*threshold, mirroring
    # pattern.py:212-225 (which increments t while the kept mass stays above
    # total - total_below_t ... i.e. dropped mass <= total*threshold).
    rel = Window.partitionBy("pred")
    totals = raw_words.withColumn("total", F.sum("freq").over(rel))
    # mass of words with freq < t equals sum over freq-histogram below t
    hist = totals.groupBy("pred", "freq", "total").agg(
        F.sum("freq").alias("mass_at_freq"))
    cum = hist.withColumn(
        "dropped_below", F.sum("mass_at_freq").over(
            Window.partitionBy("pred").orderBy("freq")
            .rowsBetween(Window.unboundedPreceding, -1)))
    cum = cum.fillna({"dropped_below": 0})
    # max t with dropped_below(t) <= total*threshold, t starting at 2
    cutoffs = (
        cum.filter(F.col("freq") >= 2)
        .filter(F.col("dropped_below") <= F.col("total") * F.lit(least_threshold_words))
        .groupBy("pred").agg((F.max("freq")).alias("cutoff"))
    )
    return (
        raw_words.join(cutoffs, "pred", "left")
        .filter(F.col("freq") >= F.coalesce(F.col("cutoff"), F.lit(2)))
        .drop("cutoff")
    )
