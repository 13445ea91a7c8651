"""spark-submit entry point: the full KG-construction pipeline.

Cluster usage (the north-rule submission path)::

    python jobs/package.py
    spark-submit --master <cluster> \
        --py-files dist/fact_extraction_spark.zip \
        jobs/run_pipeline.py \
        --pages s3://corpus/pages --facts s3://kb/facts \
        --types s3://kb/types --redirects s3://kb/redirects \
        --out s3://kg/triples --mention-mode dictionary

Local smoke (what tests/test_spark_submit.py runs)::

    spark-submit --master local[4] --py-files dist/fact_extraction_spark.zip \
        jobs/run_pipeline.py --fixture 30 --out /tmp/kg_out

spark-submit launches its own JVM, so ``get_spark``'s JIT flag (two
compiler threads, set only on a JVM it launches itself) does not apply
here: a local submit gets it by passing
``--conf spark.driver.defaultJavaOptions=-XX:CICompilerCount=2``.

Inputs are parquet directories (Iceberg tables on a real cluster — swap
``spark.read.parquet`` for ``spark.read.table``); the output is committed
through the snapshot sink (per-partition lineage rows, resume-safe).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--pages"), p.add_argument("--facts")
    p.add_argument("--types"), p.add_argument("--redirects")
    p.add_argument("--known-facts", default=None)
    p.add_argument("--out", required=True)
    # default=None so a flag the user never passed cannot override the
    # config file's value (only explicitly-given flags win)
    p.add_argument("--mention-mode", default=None,
                   choices=["anchors", "dictionary"])
    p.add_argument("--config", default=None,
                   help="config.ini path (generated from config-default.ini "
                        "if missing; CLI flags below override file values)")
    p.add_argument("--articles-limit", type=int, default=None)
    p.add_argument("--canonicalize", action="store_true",
                   help="canonicalize triple subjects/objects through the "
                        "redirect/case connected-components graph before "
                        "the sink (SURVEY §3.3 step 6)")
    p.add_argument("--num-parts", type=int, default=32)
    p.add_argument("--fixture", type=int, default=0,
                   help="generate a deterministic fixture corpus of N persons "
                        "instead of reading input tables (smoke runs)")
    args = p.parse_args(argv)

    # Import AFTER argparse so --help works without the zip on sys.path.
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, extract, learn)
    from fact_extraction_spark.session import get_spark
    from fact_extraction_spark.sinks.snapshot import (
        commit_partitions, with_part_id)

    # under spark-submit the submitter's master and conf win; the engine
    # defaults fill in the rest
    spark = get_spark("kg_construct")

    exclude = None
    if args.fixture:
        from fact_extraction_spark.fixtures import (
            corpus_to_dataframes, generate_corpus)
        t = corpus_to_dataframes(spark, generate_corpus(42, args.fixture))
        pages, facts = t["pages"], t["facts"]
        types, redirects = t["types"], t["redirects"]
        known = None
        # hold out the ground-truth subjects so their pages form the
        # discovery corpus (mirrors the train/test split of the tests)
        exclude = t["ground_truth"]
    else:
        pages = spark.read.parquet(args.pages)
        facts = spark.read.parquet(args.facts)
        types = spark.read.parquet(args.types)
        redirects = spark.read.parquet(args.redirects)
        known = (spark.read.parquet(args.known_facts)
                 if args.known_facts else None)

    overrides = {k: v for k, v in {
        "articles_limit": args.articles_limit,
        "mention_mode": args.mention_mode,
        "canonicalize_output": args.canonicalize or None,
    }.items() if v is not None}
    if args.config:
        from fact_extraction_spark.plans.config import load_config
        cfg = load_config(args.config, **overrides)
    else:
        # no config file: fall back to argparse-era defaults (cap off,
        # anchors mode) for knobs the user didn't set
        overrides.setdefault("articles_limit", 0)
        overrides.setdefault("mention_mode", "anchors")
        cfg = PipelineConfig(**overrides)
    t0 = time.time()
    model = learn(spark, pages, facts, types, redirects, cfg,
                  exclude_subjects=exclude)
    triples = extract(spark, pages, model, types, redirects, cfg,
                      known_facts=known)
    triples = with_part_id(triples, "subj", num_parts=args.num_parts)
    summary = commit_partitions(spark, triples, args.out, stage="triples")
    summary["wall_sec"] = round(time.time() - t0, 2)
    summary["n_pages"] = pages.count()
    summary["master"] = spark.sparkContext.master
    summary["shuffle_partitions"] = int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
