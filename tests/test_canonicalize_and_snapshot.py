"""Connected-components canonicalization + snapshot/lineage resume."""

import pytest
from fact_extraction_spark.operators.canonicalize import (
    build_equivalence_edges, canonical_mapping, canonicalize_triples,
    connected_components,
)
from fact_extraction_spark.sinks import snapshot as snap
from pyspark.sql import functions as F


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string")
    comps = {r["vertex"]: r["component"]
             for r in connected_components(edges).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["a"] != comps["x"]


def test_connected_components_long_chain_logarithmic(spark):
    # a 64-hop alias chain: plain min-label propagation needs ~64 rounds;
    # the large-star/small-star alternation must land it in O(log d)
    n = 64
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(n)],
        "src string, dst string")
    comps = connected_components(edges, max_iterations=12)
    vals = {r["component"] for r in comps.collect()}
    assert vals == {"v000"}
    assert comps.count() == n + 1


def test_canonical_mapping_prefers_titles(spark, tables):
    edges = build_equivalence_edges(tables["redirects"])
    titles = spark.createDataFrame([("Veldt_Harbor",), ("Grandmere_City",)],
                                   ["name"])
    mapping = {r["name"]: r["canonical"]
               for r in canonical_mapping(edges, preferred=titles).collect()}
    # 2-hop alias chain lands on the real page title
    assert mapping["Old_Veldt"] == "Veldt_Harbor"
    assert mapping["Veldt_Haven"] == "Veldt_Harbor"
    assert mapping["grandmere_City"] == "Grandmere_City"
    assert mapping["The_Grand_City"] == "Grandmere_City"


def test_canonicalize_triples_rewrites_both_sides(spark, tables):
    triples = spark.createDataFrame(
        [("Old_Veldt", "birthPlace", "The_Grand_City", 0.9)],
        "subj string, pred string, obj string, score double")
    edges = build_equivalence_edges(tables["redirects"])
    titles = spark.createDataFrame([("Veldt_Harbor",), ("Grandmere_City",)],
                                   ["name"])
    out = canonicalize_triples(triples, canonical_mapping(edges, titles)).first()
    assert (out["subj"], out["obj"]) == ("Veldt_Harbor", "Grandmere_City")
    assert out["score"] == 0.9  # payload columns survive


def _mk_triples(spark, n=200):
    return spark.range(n).select(
        F.concat(F.lit("S"), F.col("id")).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("O"), F.col("id")).alias("obj"),
    )


def test_snapshot_commit_read_roundtrip(spark, tmp_path):
    base = str(tmp_path / "table")
    df = snap.with_part_id(_mk_triples(spark), "subj", num_parts=8)
    result = snap.commit_partitions(spark, df, base, stage="triples")
    assert result["parts"] == 8 and result["rows"] == 200
    back = snap.read_committed(spark, base, stage="triples")
    assert back.count() == 200
    lin = snap.lineage(spark, base)
    assert lin.filter("status='committed'").count() == 8
    # counters match data
    per_part = {r["part_id"]: r["row_count"] for r in lin.collect()}
    got = {r["part_id"]: r["cnt"] for r in
           back.groupBy("part_id").agg(F.count("*").alias("cnt")).collect()}
    assert per_part == got


def test_snapshot_commit_evaluates_input_once(spark, tmp_path):
    """The rows counted into lineage and the rows written come from one
    evaluation of the input: a UDF in it runs once per row."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def subject(i):
        calls.add(1)
        return f"S{i}"

    n = 50
    df = spark.range(n).select(subject("id").alias("subj"),
                               F.lit("p").alias("pred"))
    result = snap.commit_partitions(
        spark, snap.with_part_id(df, "subj", num_parts=4),
        str(tmp_path / "table"), stage="triples")
    assert result["rows"] == n
    assert calls.value == n


def test_snapshot_commit_raises_on_corrupt_lineage(spark, tmp_path):
    """An unreadable lineage file is a fault, not "nothing committed": the
    commit fails instead of rewriting every part and appending its
    lineage again."""
    base = tmp_path / "table"
    (base / "_lineage").mkdir(parents=True)
    (base / "_lineage" / "part-00000-garbage.parquet").write_bytes(
        b"not a parquet file")
    df = snap.with_part_id(_mk_triples(spark, 20), "subj", num_parts=4)
    with pytest.raises(Exception):
        snap.commit_partitions(spark, df, str(base), stage="triples")
    assert not (base / "data").exists()


def test_snapshot_commit_over_lineage_without_files(spark, tmp_path):
    """A lineage directory holding no data file yet (a first lineage
    append killed before its commit) means nothing committed."""
    base = tmp_path / "table"
    (base / "_lineage" / "_temporary").mkdir(parents=True)
    df = snap.with_part_id(_mk_triples(spark, 20), "subj", num_parts=4)
    result = snap.commit_partitions(spark, df, str(base), stage="triples")
    assert result["rows"] == 20
    assert snap.read_committed(spark, str(base), "triples").count() == 20


def test_snapshot_resume_no_dupes_no_gaps(spark, tmp_path):
    """Kill-and-rerun: commit a subset of partitions, then rerun the full
    input — only the missing partitions are processed; nothing duplicates."""
    base = str(tmp_path / "table")
    full = snap.with_part_id(_mk_triples(spark), "subj", num_parts=8).cache()

    # simulated first run that died after committing parts {0,1,2}
    partial = full.filter(F.col("part_id") < 3)
    r1 = snap.commit_partitions(spark, partial, base, stage="triples")
    assert r1["parts"] == 3

    # orphan data (written but never committed) must stay invisible
    orphan = full.filter(F.col("part_id") == 3)
    orphan.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic").partitionBy("part_id") \
        .parquet(base + "/data")
    visible = snap.read_committed(spark, base, stage="triples")
    assert visible.select("part_id").distinct().count() == 3

    # resume with the FULL input: only parts 3..7 are new work
    r2 = snap.commit_partitions(spark, full, base, stage="triples")
    assert r2["parts"] == 5

    back = snap.read_committed(spark, base, stage="triples")
    assert back.count() == 200                      # no gaps
    assert back.dropDuplicates(["subj"]).count() == 200  # no dupes

    # a third run is a no-op
    r3 = snap.commit_partitions(spark, full, base, stage="triples")
    assert r3["parts"] == 0


@pytest.mark.slow
@pytest.mark.slowest
def test_dictionary_mode_kill_rerun_resume(spark, tables, tmp_path):
    """Kill-and-rerun through the FULL dictionary-mode pipeline (VERDICT r5
    Next #5): the anchors path's resume guarantee is covered by the
    unit-level lineage test above, but dictionary mode carries extra
    persisted state (dict_ctx automaton/candidates, the ambiguous-alias
    set) that a rerun must rebuild from scratch.

    Run 1 extracts in dictionary(mapside) mode and "dies" after committing
    a prefix of partitions, plus one orphan data partition written without
    its lineage row (crash between data job and lineage append). Run 2 is a
    cold rerun — fresh learn + extract, every cache released — whose commit
    must process exactly the missing partitions; the committed table then
    equals the full triple set with no dupes and no gaps."""
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, extract, learn, release_pipeline_caches)

    base = str(tmp_path / "kg_dict")
    cfg = PipelineConfig(articles_limit=0, mention_mode="dictionary",
                         dictionary_strategy="mapside")

    def cold_run():
        model = learn(spark, tables["pages"], tables["facts"],
                      tables["types"], tables["redirects"], cfg,
                      exclude_subjects=tables["ground_truth"])
        triples = extract(spark, tables["pages"], model, tables["types"],
                          tables["redirects"], cfg)
        return model, snap.with_part_id(triples, "subj", num_parts=8)

    model1, full1 = cold_run()
    expected = {(r["subj"], r["pred"], r["obj"])
                for r in full1.select("subj", "pred", "obj").collect()}
    parts1 = sorted(r["part_id"] for r in
                    full1.select("part_id").distinct().collect())
    assert expected and len(parts1) >= 3, "fixture must span several parts"

    # run 1 dies after committing the first part only
    first_part = parts1[0]
    r1 = snap.commit_partitions(
        spark, full1.filter(F.col("part_id") == first_part), base,
        stage="triples")
    assert r1["parts"] == 1
    # ...having also written (but never committed) the next part's data
    orphan_part = parts1[1]
    full1.filter(F.col("part_id") == orphan_part).write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("part_id").parquet(base + "/data")
    assert snap.read_committed(spark, base, stage="triples") \
        .select("part_id").distinct().count() == 1

    # the kill: every piece of cached dictionary/pipeline state goes away
    model1.unpersist()
    release_pipeline_caches()
    spark.catalog.clearCache()

    # cold rerun rebuilds dict_ctx / ambiguous set and
    # resumes: only the uncommitted parts (incl. the orphan) are new work
    model2, full2 = cold_run()
    r2 = snap.commit_partitions(spark, full2, base, stage="triples")
    assert r2["parts"] == len(parts1) - 1

    back = [(r["subj"], r["pred"], r["obj"]) for r in
            snap.read_committed(spark, base, stage="triples")
            .select("subj", "pred", "obj").collect()]
    assert len(back) == len(set(back)), "no dupes"
    assert set(back) == expected, "no gaps"

    # a third commit of the same output is a no-op
    assert snap.commit_partitions(
        spark, full2, base, stage="triples")["parts"] == 0
    model2.unpersist()
    release_pipeline_caches()


@pytest.mark.slow
@pytest.mark.slowest
def test_pipeline_canonicalize_output_flag(spark, tables):
    """cfg.canonicalize_output wires canonicalization into extract()
    (SURVEY §3.3 step 6): an alias-titled mirror page's triples surface
    under the canonical subject, and on the unmodified corpus the pass is
    an exact no-op (subjects are real titles, objects are already
    redirect-resolved at match time) — golden P/R unchanged by
    construction."""
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, extract, learn)

    cfg = PipelineConfig(articles_limit=0)
    model = learn(spark, tables["pages"], tables["facts"], tables["types"],
                  tables["redirects"], cfg,
                  exclude_subjects=tables["ground_truth"])
    base = extract(spark, tables["pages"], model, tables["types"],
                   tables["redirects"], cfg)

    def rows(df):
        return {(r["subj"], r["pred"], r["obj"], round(r["score"], 9))
                for r in df.collect()}

    base_rows = rows(base)
    assert base_rows

    # no-op on the unmodified corpus
    cfg_on = PipelineConfig(articles_limit=0, canonicalize_output=True)
    same = extract(spark, tables["pages"], model, tables["types"],
                   tables["redirects"], cfg_on)
    assert rows(same) == base_rows

    # clone an emitting discovery page under a redirect alias title: its
    # triples must come out under the canonical name, not the alias
    some_url = sorted(r[0] for r in base.select("url").distinct().collect())[0]
    clone = tables["pages"].filter(F.col("url") == some_url).withColumn(
        "url", F.lit("https://en.wikipedia.org/wiki/Old_Veldt"))
    pages2 = tables["pages"].unionByName(clone)
    got = extract(spark, pages2, model, tables["types"],
                  tables["redirects"], cfg_on)
    subjects = {r["subj"] for r in got.select("subj").distinct().collect()}
    assert "Old_Veldt" not in subjects
    assert "Veldt_Harbor" in subjects
    # without the flag the alias subject leaks through
    raw = extract(spark, pages2, model, tables["types"],
                  tables["redirects"], cfg)
    raw_subjects = {r["subj"] for r in raw.select("subj").distinct().collect()}
    assert "Old_Veldt" in raw_subjects


def test_snapshot_driver_rows_start_no_python_worker(spark, tmp_path,
                                                     monkeypatch):
    """The sink's driver-made tables (the empty committed set of a fresh
    base and the lineage rows) are local relations: reading them runs
    through no PythonRDD, so no Python worker starts for them."""
    made = []
    create = spark.createDataFrame

    def spy(*args, **kwargs):
        made.append(create(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(spark, "createDataFrame", spy)
    df = snap.with_part_id(_mk_triples(spark, 20), "subj", num_parts=4)
    result = snap.commit_partitions(spark, df, str(tmp_path / "t"), "triples")
    assert result["parts"] == 4
    assert [d.columns for d in made] == [
        ["part_id"], ["snapshot_id", "part_id", "stage", "status",
                      "row_count"]]
    for d in made:
        assert "PythonRDD" not in d._jdf.queryExecution().toRdd().toDebugString()
    assert made[0].schema.simpleString() == "struct<part_id:int>"
    assert made[1].schema.simpleString() == (
        "struct<snapshot_id:string,part_id:int,stage:string,status:string,"
        "row_count:bigint>")
