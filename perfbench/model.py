"""The model every run extracts with: learned once per checkout and engine
version, on a fixed training corpus, and kept as parquet.

    python3 perfbench/model.py <work dir>

builds it (a run does this itself when the model is missing). ``learn`` and
one extract cost a fresh JVM more than a run can afford, so runs load the
model instead, the way a production job applies a model learned once to
many crawls. ``learn`` is still measured: its wall and CPU time are in
every run's detail line, and the traced run times its layers.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TRAIN_SEED = 0
TRAIN_PERSONS = 200
TABLES = ("pattern_words", "pattern_stats", "pattern_types", "type_probs",
          "rel_stats", "training_subjects")


def fingerprint(root: str = ROOT) -> str:
    """Changes with the engine's sources and with what the model is
    learned from, so a changed engine never extracts with a stale model."""
    h = hashlib.sha256(f"{TRAIN_SEED}:{TRAIN_PERSONS}".encode())
    sources = sorted(glob.glob(os.path.join(
        root, "fact_extraction_spark", "**", "*.py"), recursive=True))
    for path in sources + [os.path.join(HERE, n)
                           for n in ("model.py", "corpus.py", "host.py")]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure(work: str) -> tuple[str, dict]:
    """The model's directory and its build facts; builds it in a child
    process first when this engine version has none."""
    path = os.path.join(work, "model", fingerprint())
    info = os.path.join(path, "learn.json")
    if not os.path.exists(info):
        subprocess.run([sys.executable, os.path.abspath(__file__), work],
                       check=True, stdout=sys.stderr)
    with open(info) as f:
        return path, json.load(f)


def learn_config():
    from fact_extraction_spark.plans.pipeline import PipelineConfig
    return PipelineConfig(articles_limit=0)


def load(spark, path: str):
    """The model tables as local DataFrames, cached and not yet filled, as
    ``learn()`` returns them; the first extract fills the caches. The
    tables hold a few hundred rows, so no Spark job reads them."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType
    from fact_extraction_spark.plans.pipeline import LearnedModel
    tables = []
    for n in TABLES:
        t = pq.read_table(os.path.join(path, n))
        schema = StructType.fromJson(json.loads(
            t.schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"]))
        tables.append(spark.createDataFrame(
            [tuple(r.values()) for r in t.to_pylist()], schema))
    return LearnedModel(*tables).cache()


def build(work: str) -> None:
    from perfbench import host
    from perfbench.corpus import write_corpus
    from fact_extraction_spark.plans.pipeline import learn
    from fact_extraction_spark.session import get_spark

    path = os.path.join(work, "model", fingerprint())
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus = os.path.join(tmp, "corpus")
    cpus = host.nproc()
    write_corpus(TRAIN_SEED, TRAIN_PERSONS, 0, corpus, files=cpus)
    spark = get_spark(
        "perfbench-model", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=host.spark_conf(
            work, host.driver_heap_mb(host.mem_total_mb(), cpus)))
    spark.sparkContext.setLogLevel("ERROR")
    t = {n: spark.read.parquet(os.path.join(corpus, f"{n}.parquet"))
         for n in ("pages", "facts", "types", "redirects", "ground_truth")}
    t0, c0 = time.time(), host.tree_cpu_seconds()
    model = learn(spark, t["pages"], t["facts"], t["types"], t["redirects"],
                  learn_config(), exclude_subjects=t["ground_truth"])
    counts = {n: getattr(model, n).count() for n in TABLES}
    facts = {"learn_s": time.time() - t0,
             "learn_cpu_s": host.tree_cpu_seconds() - c0,
             "train_seed": TRAIN_SEED, "train_persons": TRAIN_PERSONS,
             "rows": counts}
    for n in TABLES:
        getattr(model, n).write.parquet(os.path.join(tmp, n))
    spark.stop()
    shutil.rmtree(corpus)
    with open(os.path.join(tmp, "learn.json"), "w") as f:
        json.dump(facts, f)
    # models of other engine versions are never read again
    models = os.path.dirname(path)
    for name in os.listdir(models):
        if name != os.path.basename(tmp):
            shutil.rmtree(os.path.join(models, name))
    os.rename(tmp, path)


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import host
    host.become_subreaper()
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        build(argv[0])
    finally:
        host.stop_jvm()
        host.end_descendants()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
