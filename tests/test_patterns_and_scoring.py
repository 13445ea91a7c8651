"""Lexical pattern learning + scoring algebra on tiny hand-built inputs."""

import pytest
from pyspark.sql import functions as F

from fact_extraction_spark.operators.lexical_patterns import (
    candidate_windows, cap_training_facts, learn_lexical_patterns,
)
from fact_extraction_spark.operators.scoring import (
    score_candidates, slim_score_windows,
)

MENTIONS_DDL = ("url string, sent_id int, rel_pos double, "
                "tokens array<string>, start int, end int, entity string")


def _mention(url, sent_id, rel_pos, sentence, entity, start, end):
    return (f"https://en.wikipedia.org/wiki/{url}", sent_id, rel_pos,
            sentence.split(" "), start, end, entity)


@pytest.fixture(scope="module")
def tiny_mentions(spark):
    rows = [
        # Alice born in Oslo ; tokens: [Alice, was, born, in, Oslo, .]
        _mention("Alice", 0, 0.0, "Alice was born in Oslo .", "Oslo", 4, 4),
        # Bob born in Paris
        _mention("Bob", 0, 0.0, "Bob was born in Paris .", "Paris", 4, 4),
        # Carl visited Oslo (distractor)
        _mention("Carl", 0, 0.5, "Carl once visited Oslo happily .", "Oslo", 3, 3),
    ]
    return spark.createDataFrame(rows, MENTIONS_DDL)


def test_candidate_windows_slots_and_words(spark, tiny_mentions):
    w = candidate_windows(tiny_mentions, window=2)
    row = w.filter(F.col("subject") == "Alice").first()
    alice = {(s["slot"], s["word"]) for s in row["slots"]}
    # window 2 around Oslo at pos 4: slots -2,-1 -> born,in ; +1 -> '.'
    assert alice == {(-2, "born"), (-1, "in"), (1, ".")}
    assert row["n_slots"] == 3


def test_learn_patterns_merge_is_groupby(spark, tiny_mentions):
    facts = spark.createDataFrame(
        [("Alice", "birthPlace", "Oslo"), ("Bob", "birthPlace", "Paris")],
        "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [("Alice", "Person"), ("Bob", "Person"),
         ("Oslo", "City"), ("Paris", "City")],
        "entity string, type string")
    w = candidate_windows(tiny_mentions, window=2)
    learned = learn_lexical_patterns(w, facts, types, least_threshold_words=2)
    words = {(r["slot"], r["word"]): r["freq"]
             for r in learned["pattern_words"].collect()}
    # 'born'@-2 and 'in'@-1 and '.'@+1 appear in both sentences -> freq 2;
    # threshold 2 keeps them; nothing else survives
    assert words == {(-2, "born"): 2, (-1, "in"): 2, (1, "."): 2}
    stats = learned["pattern_stats"].first()
    assert stats["covered_sentences"] == 2
    assert stats["total_words"] == 6
    assert stats["relative_position"] == pytest.approx(0.0)
    ptypes = {(r["side"], r["type"]): r["freq"]
              for r in learned["pattern_types"].collect()}
    assert ptypes[("subject", "Person")] == 2
    assert ptypes[("object", "City")] == 2


def test_salted_training_join_matches_broadcast(spark, tiny_mentions):
    # the salted skew-split path (learn's pick for fact sets too big to
    # broadcast) must be row-identical to the broadcast join across every
    # learned table —
    # salt_hot_min_count=1 forces EVERY key through the salted (hot) branch
    # so both the salted and the plain-cold legs are exercised
    facts = spark.createDataFrame(
        [("Alice", "birthPlace", "Oslo"), ("Bob", "birthPlace", "Paris")],
        "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [("Alice", "Person"), ("Bob", "Person"),
         ("Oslo", "City"), ("Paris", "City")],
        "entity string, type string")
    w = candidate_windows(tiny_mentions, window=2)
    base = learn_lexical_patterns(w, facts, types, least_threshold_words=2)
    for min_count in (1, 100):  # all-hot and all-cold splits
        salted = learn_lexical_patterns(
            w, facts, types, least_threshold_words=2,
            join_strategy="salted", salt_hot_min_count=min_count)
        for tbl in ("pattern_words", "pattern_stats", "pattern_types"):
            a = sorted(map(tuple, base[tbl].collect()))
            b = sorted(map(tuple, salted[tbl].collect()))
            assert a == b, (tbl, min_count)


def test_training_join_auto_picks_by_fact_count(spark, tables, monkeypatch):
    # learn() picks the join from the capped fact count: broadcast up to
    # TRAINING_JOIN_BROADCAST_ROWS, salted above it — and the two legs must
    # learn identical pattern tables
    from fact_extraction_spark.operators import lexical_patterns
    from fact_extraction_spark.plans import pipeline

    picked = []
    real = lexical_patterns.learn_lexical_patterns

    def spy(*args, join_strategy, **kwargs):
        picked.append(join_strategy)
        return real(*args, join_strategy=join_strategy, **kwargs)
    monkeypatch.setattr(pipeline, "learn_lexical_patterns", spy)

    def model_words():
        m = pipeline.learn(spark, tables["pages"], tables["facts"],
                           tables["types"], tables["redirects"])
        rows = sorted(map(tuple, m.pattern_words.collect()))
        m.unpersist()
        return rows

    # the capped fixture facts broadcast
    broadcast_rows = model_words()
    # bound 0 -> every fact set is "too big": learn takes the salted leg
    monkeypatch.setattr(pipeline, "TRAINING_JOIN_BROADCAST_ROWS", 0)
    salted_rows = model_words()
    assert picked == ["broadcast", "salted"]
    assert salted_rows == broadcast_rows
    assert len(salted_rows) > 0


def test_scoring_separates_true_match_from_distractor(spark, tiny_mentions):
    facts = spark.createDataFrame(
        [("Alice", "birthPlace", "Oslo"), ("Bob", "birthPlace", "Paris")],
        "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [("Alice", "Person"), ("Bob", "Person"), ("Carl", "Person"),
         ("Dora", "Person"), ("Oslo", "City"), ("Paris", "City")],
        "entity string, type string")
    w = candidate_windows(tiny_mentions, window=2)
    learned = learn_lexical_patterns(w, facts, types, least_threshold_words=2)
    from fact_extraction_spark.operators.type_patterns import learn_type_patterns
    type_probs, rel_stats = learn_type_patterns(facts, types, 0, 0)

    # candidate: Dora born in Oslo (unseen page, same construction) + the
    # Carl distractor
    cand = spark.createDataFrame([
        _mention("Dora", 0, 0.0, "Dora was born in Oslo .", "Oslo", 4, 4),
        _mention("Carl", 0, 0.5, "Carl once visited Oslo happily .", "Oslo", 3, 3),
    ], MENTIONS_DDL)
    cw = slim_score_windows(candidate_windows(cand, window=2))
    scored = score_candidates(
        cw, learned["pattern_words"], learned["pattern_stats"],
        learned["pattern_types"], type_probs, rel_stats, types,
        allow_unknown_entity_types=True, match_threshold=0.0)
    rows = {r["subj"]: r for r in scored.collect()}
    assert rows["Dora"]["pred"] == "birthPlace"
    # Dora: all 3 slots match -> syntax = min(1, 9/(6/2)/(3+1)) = 0.75
    # type scores: P(bP|Person)=1, P(bP|City)=1, |types|=1 -> 1.0 each
    # position: (1-0)^2 = 1; weights [1, 1, .15, 1]
    exp = (1 * 1 + 1 * 1 + 0.15 * 1 + 1 * 0.75) / (1 + 1 + 0.15 + 1)
    assert rows["Dora"]["score"] == pytest.approx(exp)
    # Carl distractor: 0 slot matches -> syntax 0; position (1-0.5)^2=0.25
    exp_carl = (1 + 1 + 0.15 * 0.25 + 0) / 3.15
    assert rows["Carl"]["score"] == pytest.approx(exp_carl)
    assert rows["Dora"]["score"] > rows["Carl"]["score"]


def test_unknown_types_renormalize_weights(spark, tiny_mentions):
    facts = spark.createDataFrame(
        [("Alice", "birthPlace", "Oslo"), ("Bob", "birthPlace", "Paris")],
        "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [("Alice", "Person"), ("Bob", "Person"),
         ("Oslo", "City"), ("Paris", "City")],
        "entity string, type string")
    w = candidate_windows(tiny_mentions, window=2)
    learned = learn_lexical_patterns(w, facts, types, least_threshold_words=2)
    from fact_extraction_spark.operators.type_patterns import learn_type_patterns
    type_probs, rel_stats = learn_type_patterns(facts, types, 0, 0)

    # Eve has NO types; with allow_unknown her subject score is None and
    # the weights renormalize to [owp, 0.15, 1.0]
    cand = spark.createDataFrame([
        _mention("Eve", 0, 0.0, "Eve was born in Oslo .", "Oslo", 4, 4),
    ], MENTIONS_DDL)
    cw = slim_score_windows(candidate_windows(cand, window=2))
    scored = score_candidates(
        cw, learned["pattern_words"], learned["pattern_stats"],
        learned["pattern_types"], type_probs, rel_stats, types,
        allow_unknown_entity_types=True, match_threshold=0.0)
    row = scored.first()
    exp = (1 * 1 + 0.15 * 1 + 1 * 0.75) / (1 + 0.15 + 1)
    assert row["score"] == pytest.approx(exp)
    # with allow_unknown=False the candidate dies at the gate
    scored2 = score_candidates(
        cw, learned["pattern_words"], learned["pattern_stats"],
        learned["pattern_types"], type_probs, rel_stats, types,
        allow_unknown_entity_types=False, match_threshold=0.0)
    assert scored2.count() == 0


def test_cap_training_facts_deterministic(spark):
    facts = spark.createDataFrame(
        [(f"S{i}", p, f"O{i}") for i in range(10) for p in ("a", "b", "c")],
        "subj string, pred string, obj string")
    capped = cap_training_facts(facts, facts_limit=3, relation_types_limit=2)
    got = capped.groupBy("pred").count().collect()
    assert {(r["pred"], r["count"]) for r in got} == {("a", 3), ("b", 3)}


@pytest.mark.parametrize("limit", [1, 50])
def test_cap_training_facts_ranks_distinct_predicates(spark, tables, limit):
    """The relation cap ranks the distinct predicates, not the fact rows:
    the facts kept equal those of a dense rank over every row, the first
    predicates are a distributed top-k, and no window runs without a
    partition spec (which would gather its input into one partition)."""
    from pyspark.sql import Window

    facts = tables["facts"]
    over_rows = (
        facts.withColumn("_pr", F.dense_rank().over(Window.orderBy("pred")))
        .filter(F.col("_pr") <= limit).drop("_pr")
        .withColumn("_fr", F.row_number().over(
            Window.partitionBy("pred").orderBy("subj", "obj")))
        .filter(F.col("_fr") <= 2000).drop("_fr"))
    capped = cap_training_facts(facts, relation_types_limit=limit)
    assert ({tuple(r) for r in capped.select("subj", "pred", "obj").collect()}
            == {tuple(r) for r in over_rows.collect()})

    assert "TakeOrderedAndProject" in \
        capped._jdf.queryExecution().executedPlan().toString()

    def nodes(node):
        yield node
        for i in range(node.children().size()):
            yield from nodes(node.children().apply(i))
    windows = [n for n in nodes(capped._jdf.queryExecution().sparkPlan())
               if n.nodeName() == "Window"]
    assert windows and all(n.partitionSpec().nonEmpty() for n in windows)


def test_pattern_coverage_and_diversity(spark):
    """Coverage (wikipedia_pattern_extractor.py:276-307) and diversity
    (pattern.py:53-73) aggregates on hand-built model tables."""
    from fact_extraction_spark.operators.lexical_patterns import (
        pattern_coverage, pattern_diversity)
    from pyspark.sql import functions as F  # noqa: F401

    instances = spark.createDataFrame(
        [("u1", 0, 0.0, "A", "X", "p"), ("u1", 1, 0.5, "A", "X", "p"),
         ("u2", 0, 0.0, "B", "Y", "p")],
        "url string, sent_id int, rel_pos double, subject string, "
        "object string, pred string")
    facts = spark.createDataFrame(
        [("A", "p", "X"), ("B", "p", "Y"), ("C", "p", "Z"), ("D", "q", "W")],
        "subj string, pred string, obj string")
    cov = {r["pred"]: (r["matched_facts"], r["total_facts"], r["coverage"])
           for r in pattern_coverage(instances, facts).collect()}
    assert cov["p"] == (2, 3, 2 / 3)
    assert cov["q"] == (0, 1, 0.0)

    words = spark.createDataFrame(
        [("p", -1, "born", 4), ("p", -1, "raised", 2), ("p", 1, "in", 6)],
        "pred string, slot int, word string, freq long")
    stats = spark.createDataFrame([("p", 6, 0.2, 12)],
                                  "pred string, covered_sentences long, "
                                  "relative_position double, total_words long")
    div = pattern_diversity(words, stats).first()
    # slot -1: 2 distinct / 6 covered; slot 1: 1/6 → mean = 0.25
    assert abs(div["diversity"] - 0.25) < 1e-9


def test_type_matching_disabled_scores_syntax_only(spark, tiny_mentions):
    """type_matching=False reproduces pattern_matcher.py:24-25 +
    fact_extractor.py:135-141: no reasonable-relations gate, and the score
    IS the pattern-intersection (syntax) score — no type terms, no
    position term, no weighted mean."""
    facts = spark.createDataFrame(
        [("Alice", "birthPlace", "Oslo"), ("Bob", "birthPlace", "Paris")],
        "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [("Alice", "Person"), ("Bob", "Person"), ("Carl", "Person"),
         ("Dora", "Person"), ("Oslo", "City"), ("Paris", "City")],
        "entity string, type string")
    w = candidate_windows(tiny_mentions, window=2)
    learned = learn_lexical_patterns(w, facts, types, least_threshold_words=2)
    from fact_extraction_spark.operators.type_patterns import learn_type_patterns
    type_probs, rel_stats = learn_type_patterns(facts, types, 0, 0)

    cand = spark.createDataFrame([
        _mention("Dora", 0, 0.0, "Dora was born in Oslo .", "Oslo", 4, 4),
        _mention("Carl", 0, 0.5, "Carl once visited Oslo happily .", "Oslo", 3, 3),
        # Eve has NO types: with the gate off and no type scores she is
        # scored anyway, even with allow_unknown_entity_types=False
        _mention("Eve", 0, 0.0, "Eve was born in Oslo .", "Oslo", 4, 4),
    ], MENTIONS_DDL)
    cw = slim_score_windows(candidate_windows(cand, window=2))
    scored = score_candidates(
        cw, learned["pattern_words"], learned["pattern_stats"],
        learned["pattern_types"], type_probs, rel_stats, types,
        allow_unknown_entity_types=False, match_threshold=0.0,
        type_matching=False)
    rows = {r["subj"]: r for r in scored.collect()}
    # syntax = min(1, matches^2 / (total_words/covered) / (n_slots+1))
    #        = min(1, 9 / 3 / 4) = 0.75 for the born-in construction
    assert rows["Dora"]["score"] == pytest.approx(0.75)
    assert rows["Eve"]["score"] == pytest.approx(0.75)  # gate skipped
    assert rows["Carl"]["score"] == pytest.approx(0.0)  # 0 slot matches
    assert set(rows) == {"Dora", "Eve", "Carl"}


@pytest.mark.slow
def test_side_broadcast_threshold_is_plan_only(spark, tiny_mentions,
                                               monkeypatch):
    """SIDE_BROADCAST_ROWS switches the side-table join between broadcast
    and shuffle — a physical-plan choice that must not change rows."""
    from fact_extraction_spark.operators import scoring

    facts = spark.createDataFrame(
        [("Alice", "birthPlace", "Oslo"), ("Bob", "birthPlace", "Paris")],
        "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [("Alice", "Person"), ("Bob", "Person"), ("Carl", "Person"),
         ("Dora", "Person"), ("Oslo", "City"), ("Paris", "City")],
        "entity string, type string")
    w = candidate_windows(tiny_mentions, window=2)
    learned = learn_lexical_patterns(w, facts, types, least_threshold_words=2)
    from fact_extraction_spark.operators.type_patterns import learn_type_patterns
    type_probs, rel_stats = learn_type_patterns(facts, types, 0, 0)
    cand = spark.createDataFrame([
        _mention("Dora", 0, 0.0, "Dora was born in Oslo .", "Oslo", 4, 4),
        _mention("Eve", 0, 0.0, "Eve was born in Oslo .", "Oslo", 4, 4),
        _mention("Carl", 0, 0.5, "Carl once visited Oslo happily .", "Oslo", 3, 3),
    ], MENTIONS_DDL)
    cw = slim_score_windows(candidate_windows(cand, window=2))

    def scored_rows():
        scored = score_candidates(
            cw, learned["pattern_words"], learned["pattern_stats"],
            learned["pattern_types"], type_probs, rel_stats, types,
            allow_unknown_entity_types=True, match_threshold=0.0)
        return sorted((r["subj"], r["pred"], r["obj"], round(r["score"], 9))
                      for r in scored.collect())

    broadcast = scored_rows()
    monkeypatch.setattr(scoring, "SIDE_BROADCAST_ROWS", 0)
    shuffled = scored_rows()
    assert broadcast == shuffled and broadcast


def test_scorer_builds_one_side_table(spark, tiny_mentions):
    """One score_candidates call persists ONE labelled side table for both
    type sides, and each side's score reaches its own candidate: Nora is
    the subject of one candidate and the object of another, and her
    subject-side and object-side type scores differ."""
    from fact_extraction_spark import caches

    facts = spark.createDataFrame(
        [("Alice", "birthPlace", "Oslo"), ("Bob", "birthPlace", "Paris")],
        "subj string, pred string, obj string")
    learn_types = spark.createDataFrame(
        [("Alice", "Person"), ("Bob", "Person"),
         ("Oslo", "City"), ("Paris", "City")],
        "entity string, type string")
    w = candidate_windows(tiny_mentions, window=2)
    # gate: subject Person, object City; syntax 0.75 for "X was born in Y ."
    learned = learn_lexical_patterns(w, facts, learn_types,
                                     least_threshold_words=2)
    type_probs = spark.createDataFrame(
        [("subject", "birthPlace", "Person", 0.8),
         ("object", "birthPlace", "City", 0.6)],
        "side string, pred string, type string, probability double")
    rel_stats = spark.createDataFrame(
        [("birthPlace", 0.5, 0.25)],
        "pred string, subject_weighted_probability double, "
        "object_weighted_probability double")
    types = spark.createDataFrame(
        [("Nora", "Person"), ("Nora", "City"),
         ("Dora", "Person"), ("Oslo", "City")],
        "entity string, type string")
    cand = spark.createDataFrame([
        _mention("Nora", 0, 0.0, "Nora was born in Oslo .", "Oslo", 4, 4),
        _mention("Dora", 0, 0.0, "Dora was born in Nora .", "Nora", 4, 4),
    ], MENTIONS_DDL)
    cw = slim_score_windows(candidate_windows(cand, window=2))

    n_tracked = len(caches._TRACKED)
    scored = score_candidates(
        cw, learned["pattern_words"], learned["pattern_stats"],
        learned["pattern_types"], type_probs, rel_stats, types,
        allow_unknown_entity_types=True, match_threshold=0.0)
    assert len(caches._TRACKED) - n_tracked == 1

    rows = {(r["subj"], r["obj"]): r for r in scored.collect()}
    assert set(rows) == {("Nora", "Oslo"), ("Dora", "Nora")}
    # Nora (2 types): subject 0.8/2 = 0.4, object 0.6/2 = 0.3;
    # Oslo object 0.6, Dora subject 0.8; position 1, syntax 0.75;
    # weights [0.5, 0.25, 0.15, 1.0]
    total_w = 0.5 + 0.25 + 0.15 + 1.0
    exp_nora_subj = (0.4 * 0.5 + 0.6 * 0.25 + 0.15 + 0.75) / total_w
    exp_nora_obj = (0.8 * 0.5 + 0.3 * 0.25 + 0.15 + 0.75) / total_w
    assert rows[("Nora", "Oslo")]["score"] == pytest.approx(exp_nora_subj)
    assert rows[("Dora", "Nora")]["score"] == pytest.approx(exp_nora_obj)


def _entity_side_scores(types, type_probs, side):
    """(entity, pred, prob_sum) — Σ P(rel|type) over the entity's types,
    one side at a time: the reference spelling of ``fused_side_scores``'
    probability sum."""
    side_probs = F.broadcast(
        type_probs.filter(F.col("side") == side).select("pred", "type", "probability"))
    return (
        types.join(side_probs, "type")
        .groupBy("entity", "pred")
        .agg(F.sum("probability").alias("prob_sum"))
    )


def _gate_pairs(types, pattern_types, side):
    """(entity, pred) pairs whose type sets intersect the learned gating set
    (fact_extractor.py:97-109 reasonable-relations filter): the reference
    spelling of ``fused_side_scores``' gate."""
    gate = F.broadcast(
        pattern_types.filter(F.col("side") == side).select("pred", "type"))
    return types.join(gate, "type").select("entity", "pred").distinct()


def test_fused_side_scores_matches_reference(spark):
    """The round-7 fused side-table build (one types traversal for both
    sides) must be row-identical to the per-side reference chain
    (_gate_pairs ∩ ents → left-join _entity_side_scores → ÷ n_types →
    early-exit filter → ∪ unknown). The fixture covers every branch:
    gate+prob, gate-without-prob (summed NULL → dropped), prob-without-gate
    (dropped), a type-less entity (NULL rows per pred), an entity present
    on BOTH sides, and a non-candidate entity (semi-join drop)."""
    types = spark.createDataFrame(
        [("A", "Person"), ("A", "Actor"),          # gate+prob, 2 types
         ("B", "Person"),                          # gate only (no prob row)
         ("C", "Weird"),                           # prob only (no gate row)
         ("D", "City"),                            # object-side gate+prob
         ("Both", "Person"), ("Both", "City"),     # candidate on both sides
         ("NotCand", "Person")],                   # not a candidate at all
        "entity string, type string")
    pattern_types = spark.createDataFrame(
        [("subject", "born", "Person"), ("subject", "acted", "Actor"),
         ("object", "born", "City")],
        "side string, pred string, type string")
    type_probs = spark.createDataFrame(
        [("subject", "born", "Person", 0.8),
         ("subject", "acted", "Person", 0.0),   # zero mass → dropped
         ("subject", "born", "Weird", 0.9),     # no gate → dropped
         ("object", "born", "City", 0.6)],
        "side string, pred string, type string, probability double")
    pattern_stats = spark.createDataFrame(
        [("born", 4, 2, 1.0), ("acted", 2, 1, 1.0)],
        "pred string, total_words int, covered_sentences int, diversity double")
    ents_sub = spark.createDataFrame(
        [("A",), ("B",), ("C",), ("Both",), ("Untyped",)], "entity string")
    ents_obj = spark.createDataFrame(
        [("D",), ("Both",), ("Untyped",)], "entity string")

    from pyspark.sql import functions as F
    from fact_extraction_spark.operators.scoring import fused_side_scores

    n_types = types.groupBy("entity").agg(F.count("*").alias("n_types"))

    def reference_side(ents, side):
        typed = (
            _gate_pairs(types, pattern_types, side)
            .join(ents, "entity", "left_semi")
            .join(_entity_side_scores(types, type_probs, side),
                  ["entity", "pred"], "left")
            .join(n_types, "entity")
            .withColumn("type_score",
                        F.coalesce("prob_sum", F.lit(0.0))
                        / F.col("n_types"))
            .filter(F.col("type_score") > 0)
            .select("entity", "pred", "type_score"))
        all_preds = F.broadcast(pattern_stats.select("pred").distinct())
        unknown = (ents.join(n_types, "entity", "left_anti")
                   .crossJoin(all_preds)
                   .withColumn("type_score", F.lit(None).cast("double")))
        return typed.unionByName(unknown).withColumn("side", F.lit(side))

    expected = sorted(
        (r["entity"], r["side"], r["pred"],
         None if r["type_score"] is None else round(r["type_score"], 9))
        for r in reference_side(ents_sub, "subject")
        .unionByName(reference_side(ents_obj, "object")).collect())

    ents_both = (ents_sub.withColumn("side", F.lit("subject"))
                 .unionByName(ents_obj.withColumn("side", F.lit("object"))))
    got = sorted(
        (r["entity"], r["side"], r["pred"],
         None if r["type_score"] is None else round(r["type_score"], 9))
        for r in fused_side_scores(
            types, pattern_types, type_probs, pattern_stats.select("pred"),
            n_types, ents_both, True).collect())

    assert got == expected and got, got
    # and with allow_unknown off, the NULL rows disappear on both sides
    got_known = fused_side_scores(types, pattern_types, type_probs,
                                  pattern_stats.select("pred"), n_types,
                                  ents_both, False)
    assert got_known.filter(F.col("type_score").isNull()).count() == 0
