"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the training-data-pipeline extras), each expressed over
the driver's parquet testdata; ``oracle_sql()`` holds the DuckDB-equivalent
SQL. Column names/aliases match pairwise; floats are rounded identically on
both sides so the order-insensitive value-hash comparison is stable.

KG-pipeline stages that are not SQL-expressible (Aho-Corasick UDF pipeline,
pattern learning, scoring) run over the deterministic fixture corpus and are
registered without oracles (rows-only checks); their real correctness gate
is tests/ (hand-computed algebra + golden end-to-end P/R).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the KG extraction pipeline on the deterministic fixture
    corpus (SURVEY.md §7.1 dataflow), end to end — pages → stage-1 Arrow UDF
    → mentions → learned patterns → scored triples."""
    from fact_extraction_spark.fixtures import generate_corpus, corpus_to_dataframes
    from fact_extraction_spark.plans.pipeline import PipelineConfig, extract, learn

    # smoke-scale corpus; deterministic (seed fixed)
    fx = generate_corpus(seed=42, n_persons=40)
    t = corpus_to_dataframes(spark, fx, partitions=4)
    cfg = PipelineConfig(articles_limit=0)
    model = learn(spark, t["pages"], t["facts"], t["types"], t["redirects"],
                  cfg, exclude_subjects=t["ground_truth"])
    return extract(spark, t["pages"], model, t["types"], t["redirects"], cfg)


# --------------------------------------------------------------------------
# relational operator inventory (SURVEY.md §2) over the driver testdata
# --------------------------------------------------------------------------

def q_agg_scan_pushdown(spark, sf_dir):
    """§2.1/§2.5: scan + filter pushdown + partial/final hash agg (TPC-H Q1
    shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_topk(spark, sf_dir):
    """§2.4/§2.7: 3-way join + agg + deterministic top-k."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )
    return rev


def q_relation_frequency(spark, sf_dir):
    """§2.5 relation frequency: groupBy(pred).count() analogue."""
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.count("*").alias("freq")))


def q_per_relation_cap(spark, sf_dir):
    """§2.3 per-relation fact cap as a deterministic window
    (wikipedia_pattern_extractor.py:98-103 semantics, fixed orderBy)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("event_type", "event_id", "rn"))


def q_anti_join(spark, sf_dir):
    """§2.4/§2.8 known-fact subtraction shape (fact_cleaner.py:15-25):
    customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
        .select("c_custkey", "c_name")


def q_semi_join(spark, sf_dir):
    """§2.2 filtered-index semantics (wikipedia_dump_index_creator.py:41-57):
    keep only customers that are referenced."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi") \
        .select("c_custkey", "c_nationkey")


def q_left_join_miss(spark, sf_dir):
    """§2.4 left-outer with identity-on-miss (redirects_substitutor.py:52-64
    shape): event user joined to the BUILDING-segment dimension."""
    ev = _t(spark, sf_dir, "events")
    dim = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    return (
        ev.join(dim, ev.user_id == dim.c_custkey, "left")
        .select(
            "event_id",
            F.coalesce(F.col("c_mktsegment"), F.lit("unknown")).alias("segment"),
        )
    )


def q_window_running(spark, sf_dir):
    """§2.6 windows: per-user running event value."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"))


def q_type_probability(spark, sf_dir):
    """§2.5 cross-relation normalized type probability
    (type_cleaner.py:24-43): pred=event_type, type=user_id%7 bucket."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(7)))
    facts = ev.groupBy("event_type").agg(F.count("*").alias("facts"))
    counts = ev.groupBy("event_type", "bucket").agg(F.count("*").alias("cnt"))
    j = counts.join(facts, "event_type")
    freq = F.col("cnt") / F.col("facts")
    norm = F.sum(freq).over(Window.partitionBy("bucket"))
    return j.select(
        "event_type", "bucket",
        F.round(freq / norm, 6).alias("probability"))


def q_weighted_type_probability(spark, sf_dir):
    """§2.5 weighted probability per relation (type_cleaner.py:27-43)."""
    probs = q_type_probability(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(7)))
    counts = ev.groupBy("event_type", "bucket").agg(F.count("*").alias("cnt"))
    total = Window.partitionBy("event_type")
    w = counts.withColumn("share", F.col("cnt") / F.sum("cnt").over(total))
    return (
        w.join(probs, ["event_type", "bucket"])
        .groupBy("event_type")
        .agg(F.round(F.sum(F.col("share") * F.col("probability")), 6)
             .alias("weighted_probability"))
    )


def q_set_except(spark, sf_dir):
    """§2.8 set difference: purchase users minus click users."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    return a.exceptAll(b)


def q_nt_roundtrip(spark, sf_dir):
    """§2.1 NT scan semantics on constructed lines (nt_reader.py:37-43):
    serialize nation rows as `<s> <p> <o> .`, parse back, apply drop rules."""
    n = _t(spark, sf_dir, "nation")
    lines = n.select(F.concat(
        F.lit("<"), F.col("n_name"), F.lit("> <inRegion> <R"),
        F.col("n_regionkey").cast("string"), F.lit("> .")).alias("value"))
    uris = lines.select(
        F.regexp_extract_all("value", F.lit(r"<([^>]+)>"), 1).alias("u"))
    return (uris.filter(F.size("u") == 3)
            .select(F.col("u")[0].alias("subj"),
                    F.col("u")[1].alias("pred"),
                    F.col("u")[2].alias("obj"))
            .filter(~F.col("subj").contains("__")))


def q_nt_clean_types(spark, sf_dir):
    """§2.2 setup ETL (nt_cleaner.py:20-44 semantics): NT type dump →
    types(entity, type) with predicate filter + type-URI abbreviation
    (owl#→owl, Wikicat→W, Yago→Y) + name stripping; exercised over
    constructed lines incl. a non-type predicate, a malformed line and a
    ``__`` subject (all dropped)."""
    from fact_extraction_spark.sources.setup_etl import (
        TYPE_RELATION, clean_nt)

    n = _t(spark, sf_dir, "nation")

    def line(pred: str, obj):
        return F.concat(F.lit("<http://dbpedia.org/resource/"),
                        F.col("n_name"), F.lit("> <"), F.lit(pred),
                        F.lit("> <"), obj, F.lit("> ."))

    shapes = [
        (TYPE_RELATION,
         F.concat(F.lit("http://dbpedia.org/class/yago/Wikicat"),
                  F.col("n_name"), F.lit("Persons"))),
        (TYPE_RELATION, F.lit("http://www.w3.org/2002/07/owl#Thing")),
        (TYPE_RELATION,
         F.concat(F.lit("http://dbpedia.org/class/yago/YagoLegalActor"),
                  F.col("n_regionkey").cast("string"))),
        ("http://dbpedia.org/ontology/wikiPageRedirects",
         F.lit("http://dbpedia.org/resource/Other")),
    ]
    lines = None
    for pred, obj in shapes:
        part = n.select(line(pred, obj).alias("value"))
        lines = part if lines is None else lines.unionByName(part)
    junk = spark.createDataFrame(
        [("<a> <b> .",),
         (f"<x__y> <{TYPE_RELATION}> <t> .",)], "value string")
    lines = lines.unionByName(junk)

    uris = lines.select(
        F.regexp_extract_all("value", F.lit(r"<([^>]+)>"), 1).alias("u"))
    facts = (uris.filter(F.size("u") == 3)
             .select(F.col("u")[0].alias("subj"),
                     F.col("u")[1].alias("pred"),
                     F.col("u")[2].alias("obj"))
             .filter(~F.col("subj").contains("__")))
    return clean_nt(facts, [TYPE_RELATION], ("entity", "type"))


# --------------------------------------------------------------------------
# training-data-pipeline extras over documents / embeddings
# --------------------------------------------------------------------------

def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy over document text."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count("*").alias("dup_count"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .filter(F.col("dup_count") > 1))


def q_token_count(spark, sf_dir):
    """Token counting (whitespace tokenizer) per document."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return d.select("doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens"))


def q_lang_stopword_ratio(spark, sf_dir):
    """Language-ID heuristic: English stopword ratio per document."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks = _tokens(F.col("text"))
    stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    return d.select(
        "doc_id",
        F.round(stop / F.size(toks), 6).alias("stopword_ratio"))


def q_quality_score(spark, sf_dir):
    """Quality scoring: mean token length per document."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.round(F.col("n_chars") / F.size(toks), 4).alias("chars_per_token"))


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: hash of the sorted distinct token set."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks = F.array_sort(F.array_distinct(_tokens(F.col("text"))))
    return d.select(
        "doc_id", F.md5(F.concat_ws(" ", toks)).alias("fingerprint"))


def q_embedding_cosine_knn(spark, sf_dir):
    """Brute-force cosine similarity against a fixed query vector (vec_id=0);
    JVM-side dot product via zip_with/aggregate — no Python UDF."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"))
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x))
    cos = dot / (norm(F.col("embedding")) * norm(F.col("qv")))
    return (joined.select("vec_id", F.round(cos, 4).alias("cosine"))
            .filter(F.col("cosine") > 0.5))


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (the verifier baseline)."""
    from fact_extraction_spark.dataops.dedup import ngram_jaccard_pairs
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return ngram_jaccard_pairs(d, n=3, threshold=0.5)


def q_minhash_lsh_dedup(spark, sf_dir):
    """MinHash+LSH near-dup pairs with exact-Jaccard verification; banding
    at 32 hashes / 16 bands has ~1.0 recall at the 0.5 threshold, so the
    output equals the exact all-pairs oracle."""
    from fact_extraction_spark.dataops.dedup import minhash_lsh_pairs
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # max_shingle_df defaulted ON in callers: a no-op on this corpus (max
    # shingle df is single-digit at sf0.01) but the boilerplate/skew guard
    # is the production posture; see q_minhash_lsh_guarded for the active
    # case.
    return minhash_lsh_pairs(d, n=3, num_hashes=32, bands=16, threshold=0.5,
                             max_shingle_df=100)


# the skew bomb: one suffix shared by EVERY document — its shingles have
# df = |corpus| and would put all documents into the same LSH buckets
_BOILERPLATE = (" share buttons subscribe to our newsletter all rights"
                " reserved privacy policy terms of service")


def q_minhash_lsh_guarded(spark, sf_dir):
    """MinHash+LSH with the max_shingle_df skew guard ACTIVE: every document
    carries an injected boilerplate suffix (df = full corpus). The guard
    drops those shingles before hashing — bucket sizes stay bounded instead
    of one bucket holding the whole corpus — and the emitted pairs carry
    Jaccard over the guarded shingle sets (the oracle models the same
    guard)."""
    from fact_extraction_spark.dataops.dedup import minhash_lsh_pairs
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    d = d.withColumn("text", F.concat(F.col("text"), F.lit(_BOILERPLATE)))
    return minhash_lsh_pairs(d, n=3, num_hashes=32, bands=16, threshold=0.5,
                             max_shingle_df=50)


def q_simhash(spark, sf_dir):
    """16-bit SimHash signature per document (md5-derived, oracle-portable)."""
    from fact_extraction_spark.dataops.dedup import simhash_signatures
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return simhash_signatures(d, bits=16)


def q_rolling_fingerprint(spark, sf_dir):
    """Winnowing-style min rolling-hash fingerprint per document."""
    from fact_extraction_spark.dataops.textquality import rolling_fingerprints
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return rolling_fingerprints(d, window=4)


def q_language_id(spark, sf_dir):
    """Stopword-inventory language ID (en/de/fr/und) per document."""
    from fact_extraction_spark.dataops.textquality import language_id
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return language_id(d)


def q_quality_full(spark, sf_dir):
    """Composite quality score (length/punct/stopword heuristics)."""
    from fact_extraction_spark.dataops.textquality import quality_scores
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return quality_scores(d)


def q_token_counts_bpe(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts per document."""
    from fact_extraction_spark.dataops.textquality import token_counts
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return token_counts(d)


def q_ann_lsh_bucketed(spark, sf_dir):
    """ANN top-10: signed-projection LSH bucket (deterministic reference
    planes from the data) + exact cosine re-rank inside the bucket."""
    from fact_extraction_spark.dataops.similarity import (
        lsh_bucketed_topk, reference_planes)
    e = _t(spark, sf_dir, "embeddings")
    planes = reference_planes(e, n_planes=2, stride=97)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return lsh_bucketed_topk(e, q, planes, k=10)


def q_embedding_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (LSH-bucket candidates + exact
    verify): the corpus is augmented with scaled copies of the first 20
    vectors (scaling preserves direction, so cosine = 1 and the copy lands
    in the same signed-projection bucket by construction) — the oracle
    mirrors the augmentation and the bucket constraint."""
    from fact_extraction_spark.dataops.similarity import (
        cosine_neardup_pairs, reference_planes)
    e = _t(spark, sf_dir, "embeddings")
    dup = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"))
    allv = e.select("vec_id", "embedding").unionByName(dup)
    planes = reference_planes(e, n_planes=2, stride=97)
    return cosine_neardup_pairs(allv, planes, threshold=0.99)


def q_salted_join_revenue(spark, sf_dir):
    """Skew-safe salted join (operators/salting.py): events fact table
    against the customer dim, salted 8 ways; semantics identical to the
    plain join the oracle runs."""
    from fact_extraction_spark.operators.salting import salted_join
    ev = _t(spark, sf_dir, "events")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    j = salted_join(ev, dim, ["user_id"], how="inner", buckets=8)
    return (j.groupBy("c_mktsegment")
            .agg(F.round(F.sum("value"), 2).alias("total_value"),
                 F.count("*").alias("n_events")))


def _stats_facts_types(spark, sf_dir):
    """Derive a (facts, types) pair from events for the statistics ops:
    subjects are users (two types each), objects are item buckets (one)."""
    ev = _t(spark, sf_dir, "events")
    facts = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(F.lit("i"), F.pmod(F.col("event_id"), F.lit(20)).cast("string"))
        .alias("obj"))
    users = ev.select(F.col("user_id")).distinct()
    utypes = users.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("entity"),
        F.concat(F.lit("ut"), F.pmod(F.col("user_id"), F.lit(3)).cast("string"))
        .alias("type"))
    uxtypes = users.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("entity"),
        F.concat(F.lit("ux"), F.pmod(F.col("user_id"), F.lit(5)).cast("string"))
        .alias("type"))
    items = ev.select(
        F.pmod(F.col("event_id"), F.lit(20)).alias("k")).distinct()
    itypes = items.select(
        F.concat(F.lit("i"), F.col("k").cast("string")).alias("entity"),
        F.concat(F.lit("it"), F.pmod(F.col("k"), F.lit(4)).cast("string"))
        .alias("type"))
    return facts, utypes.unionByName(uxtypes).unionByName(itypes)


def q_type_pair_independence(spark, sf_dir):
    """§2.5 statistics: observed vs independence-expected subject-type ×
    object-type counts per relation (types_independence.py:115-116,179-200)."""
    from fact_extraction_spark.operators.type_stats import type_pair_independence
    facts, types = _stats_facts_types(spark, sf_dir)
    return type_pair_independence(facts, types)


# --------------------------------------------------------------------------
# KG operators with closed-form oracles
# --------------------------------------------------------------------------

def q_connected_components(spark, sf_dir):
    """§2.4-new canonicalization CC on a derived star graph: nation→region
    edges; component representative = min member per region star."""
    from fact_extraction_spark.operators.canonicalize import connected_components
    n = _t(spark, sf_dir, "nation")
    edges = n.select(
        F.concat(F.lit("N"), F.format_string("%02d", "n_nationkey")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("dst"))
    return connected_components(edges).select("vertex", "component")


def q_kg_extract_canonicalized(spark, sf_dir):
    """End-to-end extract(canonicalize_output=True) — SURVEY §3.3 step 6
    driver-checked (VERDICT r3 Next #3): the deterministic fixture corpus
    plus an alias-titled mirror page ("Old_Veldt", a 2-hop redirect alias of
    "Veldt_Harbor"); the output is the SUBJECT-SET DELTA the
    connected-components rewrite induces vs the uncanonicalized run. The
    expected delta is closed-form — the alias title is dropped and the
    canonical title gained, everything else is untouched (the no-op-on-
    clean-corpus property is pytest-asserted) — so the oracle is a VALUES
    literal. An extraction/CC regression empties or shifts the delta and
    hash-mismatches."""
    from fact_extraction_spark.fixtures import (
        corpus_to_dataframes, generate_corpus)
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, extract, learn)

    fx = generate_corpus(seed=42, n_persons=40)
    t = corpus_to_dataframes(spark, fx, partitions=4)
    cfg = PipelineConfig(articles_limit=0)
    model = learn(spark, t["pages"], t["facts"], t["types"], t["redirects"],
                  cfg, exclude_subjects=t["ground_truth"])
    raw = extract(spark, t["pages"], model, t["types"], t["redirects"], cfg)
    # clone the first emitting page (deterministic: min url) under the
    # alias title — its triples must surface under the canonical name
    some_url = raw.agg(F.min("url")).collect()[0][0]
    clone = t["pages"].filter(F.col("url") == some_url).withColumn(
        "url", F.lit("https://en.wikipedia.org/wiki/Old_Veldt"))
    pages2 = t["pages"].unionByName(clone)
    cfg_on = PipelineConfig(articles_limit=0, canonicalize_output=True)
    raw2 = extract(spark, pages2, model, t["types"], t["redirects"], cfg)
    can2 = extract(spark, pages2, model, t["types"], t["redirects"], cfg_on)
    raw_subj = raw2.select("subj").distinct()
    can_subj = can2.select("subj").distinct()
    dropped = raw_subj.exceptAll(can_subj).withColumn(
        "change", F.lit("dropped"))
    gained = can_subj.exceptAll(raw_subj).withColumn(
        "change", F.lit("gained"))
    return dropped.unionByName(gained).select("subj", "change")


def _fixture_model(spark, n_persons=40, seed=42):
    """Deterministic fixture corpus + anchors-mode learned model — shared by
    the end-to-end oracle queries. The corpus generator and the whole
    pipeline are deterministic, so the extracted triple set is closed-form
    and the oracles below can be VALUES literals."""
    from fact_extraction_spark.fixtures import (
        corpus_to_dataframes, generate_corpus)
    from fact_extraction_spark.plans.pipeline import PipelineConfig, learn

    fx = generate_corpus(seed=seed, n_persons=n_persons)
    t = corpus_to_dataframes(spark, fx, partitions=4)
    cfg = PipelineConfig(articles_limit=0)
    model = learn(spark, t["pages"], t["facts"], t["types"], t["redirects"],
                  cfg, exclude_subjects=t["ground_truth"])
    return t, model, cfg


def q_kg_extract_triples(spark, sf_dir):
    """End-to-end anchors-mode extract: the FULL (subj, pred, obj) set over
    the deterministic fixture corpus (VERDICT r4 Next #4). Any
    scoring/threshold/windowing regression shifts the set and
    hash-mismatches against the closed-form VALUES oracle — a driver-checked
    signal where previously only pytest covered the full triple surface."""
    from fact_extraction_spark.plans.pipeline import extract

    t, model, cfg = _fixture_model(spark)
    triples = extract(spark, t["pages"], model, t["types"], t["redirects"],
                      cfg)
    return triples.select("subj", "pred", "obj").distinct()


def q_kg_extract_triples_seed7(spark, sf_dir):
    """Second-seed closed-form triple spec (VERDICT r5 Next #6): the same
    end-to-end anchors-mode extract as kg_extract_triples but over the
    seed=7, n_persons=25 fixture corpus. Two independent seeds make a
    scoring/windowing regression that coincidentally preserves one seed's
    triple set vanishingly unlikely to stay green on both."""
    from fact_extraction_spark.plans.pipeline import extract

    t, model, cfg = _fixture_model(spark, n_persons=25, seed=7)
    triples = extract(spark, t["pages"], model, t["types"], t["redirects"],
                      cfg)
    return triples.select("subj", "pred", "obj").distinct()


def q_kg_extract_dict(spark, sf_dir):
    """End-to-end DICTIONARY-mode extract over the ANCHORED fixture corpus
    — the default at-scale mention strategy with reference-shaped input:
    patterns learned in anchors mode, mentions from the broadcast
    Aho-Corasick dictionary + tf-idf disambiguation, keeps-a-link filter
    active. Deterministic pipeline → the triple set equals the anchors-mode
    closed-form spec exactly (shared oracle — driver-checked mode
    parity)."""
    from fact_extraction_spark.plans.pipeline import PipelineConfig, extract

    t, model, _ = _fixture_model(spark)
    cfg = PipelineConfig(articles_limit=0, mention_mode="dictionary",
                         dictionary_strategy="broadcast")
    triples = extract(spark, t["pages"], model, t["types"], t["redirects"],
                      cfg)
    return triples.select("subj", "pred", "obj").distinct()


def q_kg_extract_dict_unanchored(spark, sf_dir):
    """End-to-end DICTIONARY-mode extract over an ANCHOR-FREE corpus — the
    Common-Crawl shape (VERDICT r4 Next #3): patterns are learned from the
    anchored fixture corpus, then every [[target|text]] anchor is stripped
    from the discovery pages and mentions come solely from the broadcast
    Aho-Corasick dictionary with dictionary_scan_unanchored=True lifting the
    keeps-a-link sentence filter (textops/wikitext.py). Deterministic
    fixture + deterministic pipeline → closed-form VALUES oracle."""
    from fact_extraction_spark.plans.pipeline import PipelineConfig, extract

    t, model, _ = _fixture_model(spark)
    stripped = t["pages"].withColumn(
        "html", F.encode(
            F.regexp_replace(
                F.regexp_replace(F.decode("html", "utf-8"),
                                 r"\[\[([^|\]]*)\|([^\]]*)\]\]", "$2"),
                r"\[\[([^\]]*)\]\]", "$1"),
            "utf-8"))
    cfg2 = PipelineConfig(articles_limit=0, mention_mode="dictionary",
                          dictionary_strategy="broadcast",
                          dictionary_scan_unanchored=True)
    triples = extract(spark, stripped, model, t["types"], t["redirects"],
                      cfg2)
    return triples.select("subj", "pred", "obj").distinct()


def q_kg_extract_dict_mapside(spark, sf_dir):
    """q_kg_extract_dict_unanchored with the MAPSIDE dictionary strategy
    forced (tiny hot head so the n-gram tail join carries real weight) —
    end-to-end driver check of the at-scale detection plan: bounded-head
    automaton + first-token candidate marking + in-scan sentence pruning +
    relational tail join (operators/mentions.py). Strategy choice is
    semantics-free, so the triple set equals the shared closed-form
    oracle."""
    from fact_extraction_spark.plans.pipeline import PipelineConfig, extract

    t, model, _ = _fixture_model(spark)
    stripped = t["pages"].withColumn(
        "html", F.encode(
            F.regexp_replace(
                F.regexp_replace(F.decode("html", "utf-8"),
                                 r"\[\[([^|\]]*)\|([^\]]*)\]\]", "$2"),
                r"\[\[([^\]]*)\]\]", "$1"),
            "utf-8"))
    cfg2 = PipelineConfig(articles_limit=0, mention_mode="dictionary",
                          dictionary_strategy="mapside",
                          dictionary_hot_k=5,
                          dictionary_scan_unanchored=True)
    triples = extract(spark, stripped, model, t["types"], t["redirects"],
                      cfg2)
    return triples.select("subj", "pred", "obj").distinct()


def q_dictionary_mentions(spark, sf_dir):
    """North-star mention detection: Aho-Corasick UDF over documents with a
    broadcast dictionary; oracle = token-position scan in SQL."""
    from fact_extraction_spark.operators.mentions import detect_dictionary_mentions
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    sents = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).alias("sent_id"),
        F.lit(0.0).alias("rel_pos"),
        F.col("text").alias("sentence"))
    alias_bc = spark.sparkContext.broadcast(
        [("spark", "Spark"), ("query", "Query"), ("window", "Window")])
    hits = detect_dictionary_mentions(sents, alias_bc)
    return hits.select(F.col("url").cast("long").alias("doc_id"),
                       "start", "alias")


def q_dictionary_mentions_mapside(spark, sf_dir):
    """Map-side dictionary detection — the at-scale default strategy
    (bounded hot-head automaton + relational n-gram tail join,
    mentions.py detect_dictionary_mentions_mapside_sentences): hot_k=1
    pins only the shortest alias in the head so the tail join (incl. two
    bigram aliases) carries the weight; oracle = token/bigram position
    scan in SQL."""
    from fact_extraction_spark.operators.mentions import (
        collect_alias_broadcast, detect_dictionary_mentions_mapside_sentences,
        split_alias_dictionary)
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    sents = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).alias("sent_id"),
        F.lit(0.0).alias("rel_pos"),
        F.col("text").alias("sentence"))
    aliases = spark.createDataFrame(
        [("scan", "Scan"), ("table", "Table"),
         ("hash join", "Hash_join"), ("merge batch", "Merge_batch")],
        "alias string, entity string")
    head, tail = split_alias_dictionary(aliases, hot_k=1, max_tail_tokens=4)
    head_bc = collect_alias_broadcast(spark, head.select("alias", "entity"))
    hits = detect_dictionary_mentions_mapside_sentences(
        sents, head_bc, tail, max_tail_tokens=4)
    return hits.select(F.col("url").cast("long").alias("doc_id"),
                       "start", "end", "alias")


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "agg_scan_pushdown": q_agg_scan_pushdown,
        "join_topk": q_join_topk,
        "relation_frequency": q_relation_frequency,
        "per_relation_cap": q_per_relation_cap,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "left_join_miss": q_left_join_miss,
        "window_running": q_window_running,
        "type_probability": q_type_probability,
        "weighted_type_probability": q_weighted_type_probability,
        "set_except": q_set_except,
        "nt_roundtrip": q_nt_roundtrip,
        "nt_clean_types": q_nt_clean_types,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "lang_stopword_ratio": q_lang_stopword_ratio,
        "quality_score": q_quality_score,
        "doc_fingerprint": q_doc_fingerprint,
        "embedding_cosine_knn": q_embedding_cosine_knn,
        "connected_components": q_connected_components,
        "kg_extract_canonicalized": q_kg_extract_canonicalized,
        "kg_extract_triples": q_kg_extract_triples,
        "kg_extract_triples_seed7": q_kg_extract_triples_seed7,
        "kg_extract_dict": q_kg_extract_dict,
        "kg_extract_dict_unanchored": q_kg_extract_dict_unanchored,
        "kg_extract_dict_mapside": q_kg_extract_dict_mapside,
        "dictionary_mentions": q_dictionary_mentions,
        "dictionary_mentions_mapside": q_dictionary_mentions_mapside,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh_dedup": q_minhash_lsh_dedup,
        "minhash_lsh_guarded": q_minhash_lsh_guarded,
        "simhash": q_simhash,
        "rolling_fingerprint": q_rolling_fingerprint,
        "language_id": q_language_id,
        "quality_full": q_quality_full,
        "token_counts_bpe": q_token_counts_bpe,
        "ann_lsh_bucketed": q_ann_lsh_bucketed,
        "embedding_cosine_neardup": q_embedding_cosine_neardup,
        "salted_join_revenue": q_salted_join_revenue,
        "type_pair_independence": q_type_pair_independence,
    }


# Closed-form triple set of the deterministic fixture extract (seed=42,
# n_persons=40): the corpus generator, tokenizer, patterns and scoring are
# all deterministic, so this is a spec of the end-to-end pipeline, not a
# snapshot of incidental behavior — any windowing/scoring/threshold/
# dictionary regression shifts the set and hash-mismatches.
_FIXTURE_TRIPLES_ORACLE = """
    SELECT * FROM (VALUES
        ('Giant_Chronicle', 'birthPlace', 'Risbarpol_City'),
        ('Giant_Chronicle', 'employer', 'Fentampol_Works'),
        ('Nils_Tormerberg', 'birthPlace', 'Grandmere_City'),
        ('Nils_Tormerberg', 'employer', 'Barhaldra_Works'),
        ('Olga_Sulnorson', 'birthPlace', 'Zenzentor_City'),
        ('Olga_Sulnorson', 'employer', 'Fentampol_Works'),
        ('Pavel_Wixlinworth', 'almaMater', 'Suldrazen_University'),
        ('Pavel_Wixlinworth', 'birthPlace', 'Veldt_Harbor'),
        ('Quinn_Barrisholm', 'almaMater', 'Zennorwix_University'),
        ('Quinn_Barrisholm', 'birthPlace', 'Grandmere_City'),
        ('Quinn_Barrisholm', 'employer', 'Qualinris_Works'),
        ('Rosa_Garzenson', 'almaMater', 'Zennorwix_University'),
        ('Rosa_Garzenson', 'birthPlace', 'Veldt_Harbor'),
        ('Rosa_Garzenson', 'employer', 'Linpoltor_Works'),
        ('Sven_Zentamwick', 'almaMater', 'Barmonqua_University'),
        ('Sven_Zentamwick', 'birthPlace', 'Grandmere_City'),
        ('Sven_Zentamwick', 'employer', 'Qualinris_Works'),
        ('Tania_Monkelwick', 'almaMater', 'Suldrazen_University'),
        ('Tania_Monkelwick', 'birthPlace', 'Grandmere_City'),
        ('Tania_Monkelwick', 'birthPlace', 'Risbarpol_City'),
        ('Tania_Monkelwick', 'employer', 'Qualinris_Works')
    ) AS t(subj, pred, obj)
"""


# Second-seed closed-form triple set (seed=7, n_persons=25) — VERDICT r5
# Next #6: an independent sample of the same end-to-end spec.
_FIXTURE_TRIPLES_SEED7_ORACLE = """
    SELECT * FROM (VALUES
        ('Boris_Ostmerson', 'birthPlace', 'Grandmere_City'),
        ('Boris_Ostmerson', 'employer', 'Zentamvel_Works'),
        ('Carla_Fenmerberg', 'birthPlace', 'Grandmere_City'),
        ('Dmitri_Wixrisworth', 'almaMater', 'Velmondra_University'),
        ('Dmitri_Wixrisworth', 'birthPlace', 'Grandmere_City'),
        ('Dmitri_Wixrisworth', 'employer', 'Zentamvel_Works'),
        ('Elena_Velquagate', 'almaMater', 'Veltamris_University'),
        ('Elena_Velquagate', 'employer', 'Sultorgar_Works'),
        ('Giant_Chronicle', 'almaMater', 'Velmondra_University'),
        ('Giant_Chronicle', 'birthPlace', 'Velnorqua_City'),
        ('Giant_Chronicle', 'employer', 'Tamtamost_Works')
    ) AS t(subj, pred, obj)
"""


# exact all-pairs trigram Jaccard >= 0.5 — the oracle for BOTH the exact
# operator and the MinHash+LSH path (whose banding has ~1.0 recall there)
_JACCARD_ORACLE = """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE n_chars > 0),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(t, s, s + 2), ' ') AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(s)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id
               JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
"""


def _SW(lang: str) -> str:
    from fact_extraction_spark.dataops.textquality import LANG_STOPWORDS
    return ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])


def oracle_sql() -> dict[str, str]:
    stop_list = ",".join(f"'{s}'" for s in _STOPWORDS)
    return {
        "agg_scan_pushdown": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_topk": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "relation_frequency": """
            SELECT event_type, count(*) AS freq FROM events GROUP BY event_type
        """,
        "per_relation_cap": """
            SELECT event_type, event_id, rn FROM (
                SELECT event_type, event_id,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY event_id) AS rn
                FROM events) WHERE rn <= 5
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "semi_join": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "left_join_miss": """
            SELECT event_id, coalesce(c_mktsegment, 'unknown') AS segment
            FROM events LEFT JOIN (
                SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
            ON user_id = c_custkey
        """,
        "window_running": """
            SELECT event_id,
                   round(sum(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING), 4)
                       AS running_value
            FROM events
        """,
        "type_probability": """
            WITH ev AS (SELECT event_type, user_id % 7 AS bucket FROM events),
            facts AS (SELECT event_type, count(*) AS facts FROM ev GROUP BY event_type),
            counts AS (SELECT event_type, bucket, count(*) AS cnt FROM ev
                       GROUP BY event_type, bucket),
            j AS (SELECT c.event_type, c.bucket,
                         c.cnt * 1.0 / f.facts AS freq
                  FROM counts c JOIN facts f USING (event_type))
            SELECT event_type, bucket,
                   round(freq / sum(freq) OVER (PARTITION BY bucket), 6)
                       AS probability
            FROM j
        """,
        "weighted_type_probability": """
            WITH ev AS (SELECT event_type, user_id % 7 AS bucket FROM events),
            facts AS (SELECT event_type, count(*) AS facts FROM ev GROUP BY event_type),
            counts AS (SELECT event_type, bucket, count(*) AS cnt FROM ev
                       GROUP BY event_type, bucket),
            j AS (SELECT c.event_type, c.bucket,
                         c.cnt * 1.0 / f.facts AS freq, c.cnt
                  FROM counts c JOIN facts f USING (event_type)),
            probs AS (SELECT event_type, bucket,
                             round(freq / sum(freq) OVER (PARTITION BY bucket), 6)
                                 AS probability
                      FROM j),
            shares AS (SELECT event_type, bucket,
                              cnt * 1.0 / sum(cnt) OVER (PARTITION BY event_type)
                                  AS share
                       FROM counts)
            SELECT event_type,
                   round(sum(share * probability), 6) AS weighted_probability
            FROM shares JOIN probs USING (event_type, bucket)
            GROUP BY event_type
        """,
        "set_except": """
            SELECT user_id FROM
            (SELECT DISTINCT user_id FROM events WHERE event_type='purchase')
            EXCEPT ALL
            SELECT user_id FROM
            (SELECT DISTINCT user_id FROM events WHERE event_type='click')
        """,
        "nt_roundtrip": """
            WITH lines AS (
                SELECT '<' || n_name || '> <inRegion> <R' || n_regionkey
                       || '> .' AS value FROM nation),
            parsed AS (
                SELECT regexp_extract_all(value, '<([^>]+)>', 1) AS u FROM lines)
            SELECT u[1] AS subj, u[2] AS pred, u[3] AS obj FROM parsed
            WHERE len(u) = 3 AND u[1] NOT LIKE '%\\_\\_%' ESCAPE '\\'
        """,
        "nt_clean_types": """
            WITH lines AS (
                SELECT '<http://dbpedia.org/resource/' || n_name
                       || '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
                       || ' <http://dbpedia.org/class/yago/Wikicat' || n_name
                       || 'Persons> .' AS value FROM nation
                UNION ALL
                SELECT '<http://dbpedia.org/resource/' || n_name
                       || '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
                       || ' <http://www.w3.org/2002/07/owl#Thing> .' FROM nation
                UNION ALL
                SELECT '<http://dbpedia.org/resource/' || n_name
                       || '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
                       || ' <http://dbpedia.org/class/yago/YagoLegalActor'
                       || n_regionkey || '> .' FROM nation
                UNION ALL
                SELECT '<http://dbpedia.org/resource/' || n_name
                       || '> <http://dbpedia.org/ontology/wikiPageRedirects>'
                       || ' <http://dbpedia.org/resource/Other> .' FROM nation
                UNION ALL SELECT '<a> <b> .'
                UNION ALL SELECT
                  '<x__y> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <t> .'),
            parsed AS (
                SELECT regexp_extract_all(value, '<([^>]+)>', 1) AS u FROM lines),
            facts AS (
                SELECT u[1] AS subj, u[2] AS pred, u[3] AS obj FROM parsed
                WHERE len(u) = 3 AND u[1] NOT LIKE '%\\_\\_%' ESCAPE '\\')
            SELECT string_split(subj, '/')[-1] AS entity,
                   string_split(replace(replace(replace(obj, 'owl#', 'owl'),
                                                'Wikicat', 'W'),
                                        'Yago', 'Y'), '/')[-1] AS type
            FROM facts
            WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS dup_count,
                   min(doc_id) AS keeper_doc_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "token_count": """
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens
            FROM documents WHERE n_chars > 0
        """,
        "lang_stopword_ratio": f"""
            SELECT doc_id,
                   round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                         x -> x IN ({stop_list}))) * 1.0
                         / len(string_split_regex(trim(text), '\\s+')), 6)
                       AS stopword_ratio
            FROM documents WHERE n_chars > 0
        """,
        "quality_score": """
            SELECT doc_id,
                   round(n_chars * 1.0
                         / len(string_split_regex(trim(text), '\\s+')), 4)
                       AS chars_per_token
            FROM documents WHERE n_chars > 0
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split_regex(trim(text), '\\s+'))), ' '))
                       AS fingerprint
            FROM documents WHERE n_chars > 0
        """,
        "embedding_cosine_knn": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding, qv), 4) AS cosine
            FROM embeddings, q
            WHERE vec_id != 0
              AND round(list_cosine_similarity(embedding, qv), 4) > 0.5
        """,
        "connected_components": """
            -- star graphs N<nationkey> -- R<regionkey>: the component label
            -- (min vertex) is min(N-name) per region, and every vertex maps
            -- to its region's min
            WITH verts AS (
                SELECT 'N' || format('{:02d}', n_nationkey) AS vertex,
                       n_regionkey AS g FROM nation
                UNION ALL
                SELECT DISTINCT 'R' || CAST(n_regionkey AS VARCHAR) AS vertex,
                       n_regionkey AS g FROM nation),
            reps AS (SELECT g, min(vertex) AS component FROM verts GROUP BY g)
            SELECT v.vertex, r.component FROM verts v JOIN reps r USING (g)
        """,
        "kg_extract_canonicalized": """
            -- closed-form subject-set delta of the CC canonicalization pass
            -- on the fixture corpus + alias-titled mirror page: the 2-hop
            -- alias title is rewritten to the canonical page title; the
            -- rest of the corpus is untouched (no-op property
            -- pytest-asserted in test_canonicalize_and_snapshot.py)
            SELECT * FROM (VALUES ('Old_Veldt', 'dropped'),
                                  ('Veldt_Harbor', 'gained')) AS t(subj, change)
        """,
        # the FULL closed-form triple set of the deterministic fixture
        # extract (seed=42, n_persons=40, anchors mode, default config) —
        # VERDICT r4 Next #4. The dictionary+unanchored run over the
        # anchor-STRIPPED corpus reproduces exactly the same set (the
        # Common-Crawl-shape path recovers every anchored triple from the
        # AC dictionary alone), so both queries share this oracle.
        "kg_extract_triples": _FIXTURE_TRIPLES_ORACLE,
        "kg_extract_triples_seed7": _FIXTURE_TRIPLES_SEED7_ORACLE,
        "kg_extract_dict": _FIXTURE_TRIPLES_ORACLE,
        "kg_extract_dict_unanchored": _FIXTURE_TRIPLES_ORACLE,
        "kg_extract_dict_mapside": _FIXTURE_TRIPLES_ORACLE,
        "ngram_jaccard": _JACCARD_ORACLE,
        "minhash_lsh_dedup": _JACCARD_ORACLE,
        "minhash_lsh_guarded": f"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(text || '{_BOILERPLATE}'),
                                          '\\s+') AS t
                FROM documents WHERE n_chars > 0),
            sh0 AS (
                SELECT DISTINCT doc_id,
                       array_to_string(list_slice(t, s, s + 2), ' ') AS shingle
                FROM toks,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(s)),
            df AS (SELECT shingle, count(*) AS c FROM sh0 GROUP BY shingle),
            sh AS (SELECT sh0.doc_id, sh0.shingle
                   FROM sh0 JOIN df USING (shingle) WHERE c <= 50),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
                   round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                       JOIN sizes sb ON doc_b = sb.doc_id
            WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
        """,
        "simhash": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents WHERE n_chars > 0),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
            h AS (SELECT doc_id, tf,
                         ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
                  FROM tf),
            votes AS (
                SELECT doc_id, j,
                       sum(CASE WHEN (h >> j) % 2 = 1 THEN tf ELSE -tf END) AS v
                FROM h, unnest(generate_series(0, 15)) AS u(j)
                GROUP BY doc_id, j)
            SELECT doc_id,
                   -- CAST: DuckDB integer sum() yields HUGEINT, which lands
                   -- in pandas as float64 ("123.0") and breaks the value
                   -- hash against Spark's int64 even when values are equal
                   CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "rolling_fingerprint": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE n_chars > 0),
            g AS (
                SELECT doc_id,
                       ('0x' || substring(md5(array_to_string(
                           list_slice(t, s, s + 3), ' ')), 1, 15))::BIGINT AS h
                FROM toks, unnest(generate_series(1, greatest(len(t) - 3, 1))) AS u(s))
            SELECT doc_id, min(h) AS fingerprint FROM g GROUP BY doc_id
        """,
        "language_id": f"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE n_chars > 0),
            scores AS (
                SELECT doc_id, lang, score FROM toks, LATERAL (
                    VALUES
                    ('en', len(list_filter(t, x -> lower(x) IN ({_SW('en')}))) * 1.0 / len(t)),
                    ('de', len(list_filter(t, x -> lower(x) IN ({_SW('de')}))) * 1.0 / len(t)),
                    ('fr', len(list_filter(t, x -> lower(x) IN ({_SW('fr')}))) * 1.0 / len(t))
                ) AS s(lang, score)),
            best AS (
                SELECT doc_id, lang, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, lang DESC) AS rn
                FROM scores)
            SELECT doc_id,
                   CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
                   round(score, 6) AS lang_score
            FROM best WHERE rn = 1
        """,
        "quality_full": f"""
            WITH base AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
                       length(trim(text)) AS chars
                FROM documents WHERE n_chars > 0),
            m AS (
                SELECT doc_id, len(t) AS n,
                       chars * 1.0 / len(t) AS mean_len,
                       len(list_filter(t, x -> regexp_matches(x, '^[^A-Za-z0-9]+$')))
                           * 1.0 / len(t) AS punct_ratio,
                       len(list_filter(t, x -> lower(x) IN ({_SW('en')})))
                           * 1.0 / len(t) AS stop_ratio
                FROM base)
            SELECT doc_id, n AS n_tokens,
                   round(mean_len, 4) AS mean_token_len,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(least(1.0, greatest(0.0,
                       0.5 * least(stop_ratio * 4, 1.0)
                       + 0.3 * (CASE WHEN mean_len >= 3 AND mean_len <= 12
                                     THEN 1.0 ELSE 0.0 END)
                       + 0.2 * (1.0 - least(punct_ratio * 5, 1.0)))), 6) AS quality
            FROM m
        """,
        "token_counts_bpe": """
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                       AS n_bpe_tokens
            FROM documents WHERE n_chars > 0
        """,
        "ann_lsh_bucketed": """
            WITH p AS (
                SELECT list(embedding ORDER BY vec_id) AS planes
                FROM (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 2)),
            b AS (
                SELECT vec_id, embedding,
                       (CASE WHEN list_inner_product(embedding, planes[1]) >= 0
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN list_inner_product(embedding, planes[2]) >= 0
                             THEN 2 ELSE 0 END) AS bucket
                FROM embeddings, p),
            q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding, qv), 6) AS cosine
            FROM b, q WHERE bucket = qbucket
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "embedding_cosine_neardup": """
            WITH p AS (
                SELECT list(embedding ORDER BY vec_id) AS planes
                FROM (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 2)),
            allv AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000,
                       list_transform(embedding, x -> x * 1.5)
                FROM embeddings WHERE vec_id < 20),
            b AS (
                SELECT vec_id, embedding,
                       (CASE WHEN list_inner_product(embedding, planes[1]) >= 0
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN list_inner_product(embedding, planes[2]) >= 0
                             THEN 2 ELSE 0 END) AS bucket
                FROM allv, p)
            SELECT id_a, id_b, cosine FROM (
                SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                       round(list_cosine_similarity(a.embedding, c.embedding),
                             6) AS cosine
                FROM b a JOIN b c
                  ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
            WHERE cosine >= 0.99
        """,
        "salted_join_revenue": """
            SELECT c_mktsegment, round(sum(value), 2) AS total_value,
                   count(*) AS n_events
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment
        """,
        "type_pair_independence": """
            WITH facts AS (
                SELECT 'u' || CAST(user_id AS VARCHAR) AS subj,
                       event_type AS pred,
                       'i' || CAST(event_id % 20 AS VARCHAR) AS obj
                FROM events),
            types AS (
                SELECT 'u' || CAST(user_id AS VARCHAR) AS entity,
                       'ut' || CAST(user_id % 3 AS VARCHAR) AS type
                FROM (SELECT DISTINCT user_id FROM events)
                UNION ALL
                SELECT 'u' || CAST(user_id AS VARCHAR),
                       'ux' || CAST(user_id % 5 AS VARCHAR)
                FROM (SELECT DISTINCT user_id FROM events)
                UNION ALL
                SELECT 'i' || CAST(k AS VARCHAR),
                       'it' || CAST(k % 4 AS VARCHAR)
                FROM (SELECT DISTINCT event_id % 20 AS k FROM events)),
            pairs AS (
                SELECT pred, st.type AS stype, ot.type AS otype,
                       count(*) AS observed
                FROM facts f JOIN types st ON f.subj = st.entity
                             JOIN types ot ON f.obj = ot.entity
                GROUP BY pred, st.type, ot.type),
            s_marg AS (SELECT pred, stype, sum(observed) AS s_cnt
                       FROM pairs GROUP BY pred, stype),
            o_marg AS (SELECT pred, otype, sum(observed) AS o_cnt
                       FROM pairs GROUP BY pred, otype),
            total AS (SELECT pred, sum(observed) AS total
                      FROM pairs GROUP BY pred)
            SELECT p.pred, p.stype, p.otype, p.observed,
                   round(s_cnt * o_cnt * 1.0 / total, 6) AS expected,
                   round(p.observed / (s_cnt * o_cnt * 1.0 / total), 6) AS lift
            FROM pairs p JOIN s_marg USING (pred, stype)
                         JOIN o_marg USING (pred, otype)
                         JOIN total USING (pred)
        """,
        "dictionary_mentions_mapside": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE n_chars > 0),
            uni AS (
                SELECT doc_id, s - 1 AS start, s - 1 AS "end",
                       t[s] AS alias
                FROM toks, unnest(generate_series(1, len(t))) AS u(s)
                WHERE t[s] IN ('scan', 'table')),
            bi AS (
                SELECT doc_id, s - 1 AS start, s AS "end",
                       t[s] || ' ' || t[s + 1] AS alias
                FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(s)
                WHERE t[s] || ' ' || t[s + 1] IN ('hash join', 'merge batch'))
            SELECT * FROM uni UNION ALL SELECT * FROM bi
        """,
        "dictionary_mentions": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                       generate_subscripts(
                           string_split_regex(trim(text), '\\s+'), 1) - 1
                           AS start
                FROM documents WHERE n_chars > 0)
            SELECT doc_id, start, tok AS alias FROM toks
            WHERE tok IN ('spark', 'query', 'window')
        """,
    }


if __name__ == "__main__":
    from fact_extraction_spark.session import get_spark

    spark = get_spark("spark_entry_smoke")
    df = entry(spark)
    print("flagship rows:", df.count())
    df.show(5, truncate=60)
