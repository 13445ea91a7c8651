"""One benchmark run of one workload: session -> model -> extract+commit,
the extract half of the job ``jobs/run_pipeline.py`` runs, with the commit
read back and checked. The extract repeats until ``--seconds`` have passed. The model is
learned once per checkout (perfbench.model) and loaded by every run.

A closed loop with one caller: each extract starts after the previous
commit returned. The traced run follows its one unsegmented extract with
a stage-isolated pass (perfbench.layers), all under a Spark event log.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import digest, host, layers, model
from perfbench.corpus import TABLES, write_corpus
from perfbench.spans import Tracer
from perfbench.workloads import Workload

MB = 1e6
# share of committed triples that must be known facts of the corpus. A
# floor against broken output, not a quality gate: at 200 persons the
# engine's precision ranges from about 0.7 to 1.0 across seeds
MIN_PRECISION = 0.5


@dataclass
class Ops:
    """Attempted/failed operations; an op is one model load or one
    extract+commit, and it fails if it raises or its output check fails."""
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)
        print(f"perfbench: {what}", file=sys.stderr)


class Run:
    def __init__(self, workload: Workload, seed: int, work_dir: str,
                 t_start: float, trace: bool = False,
                 force_mismatch: bool = False, record: bool = False):
        self.w = workload
        self.seed = seed
        self.work = work_dir
        self.t_start = t_start
        self.trace = trace
        self.record = record
        self.ops = Ops()
        self.tracer = Tracer()
        self.expected = (None if record
                         else digest.expected_for(workload.name, seed))
        if force_mismatch:
            self.expected = [0, "0" * 64]
        self.reference = None       # first digest seen, when none recorded
        self.digests: list = []
        self.precision: list[float] = []
        self.extract_cpu: list[float] = []
        self.n_commits = 0
        self.cpus = host.nproc()
        self.heap_mb = host.driver_heap_mb(host.mem_total_mb(), self.cpus)
        self.spark = None

    # -- set-up ------------------------------------------------------------

    def make_corpus(self) -> None:
        """The load generator; its time is in no metric."""
        out = os.path.join(self.work, "corpus")
        shutil.rmtree(out, ignore_errors=True)
        c0 = time.process_time()
        self.facts = write_corpus(self.seed, self.w.persons, self.w.fat_kb,
                                  out, files=self.cpus)
        self.gen_cpu_s = time.process_time() - c0
        self.corpus_dir = out

    def start_session(self) -> None:
        from fact_extraction_spark.session import get_spark
        self.event_dir = (os.path.join(self.work, "eventlog")
                          if self.trace else None)
        if self.event_dir:
            shutil.rmtree(self.event_dir, ignore_errors=True)
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=host.spark_conf(self.work, self.heap_mb,
                                       self.event_dir))
        self.spark.sparkContext.setLogLevel("ERROR")

    def open_corpus(self) -> None:
        import pyarrow.parquet as pq
        name = "web_pages" if self.w.web else "pages"
        t = {n: self.spark.read.parquet(f"{self.corpus_dir}/{n}.parquet")
             for n in TABLES if n != "web_pages" or self.w.web}
        t["run_pages"] = t[name]
        html = pq.read_table(f"{self.corpus_dir}/{name}.parquet",
                             columns=["html"]).column("html")
        self.n_pages = len(html)
        self.raw_bytes = sum(len(h) for h in html.to_pylist())
        self.t = t

    def configs(self):
        from fact_extraction_spark.plans.pipeline import PipelineConfig
        return (model.learn_config(),
                PipelineConfig(articles_limit=0, **self.w.extract_conf))

    def load_model(self) -> None:
        """The stored model as the session's DataFrames; raises on
        failure."""
        self.ops.attempted += 1
        try:
            self.model = model.load(self.spark, self.model_dir)
        except Exception:
            self.ops.fail("model load raised")
            raise

    # -- the measured operation ----------------------------------------------

    def extract_commit(self) -> float | None:
        """One extract+commit to a fresh base; returns its wall time (its
        CPU time goes to ``extract_cpu``), or None if it raised. A failed
        output check counts as a failed op."""
        from fact_extraction_spark.plans.pipeline import (
            extract, release_pipeline_caches)
        from fact_extraction_spark.sinks.snapshot import (
            commit_partitions, with_part_id)
        _, cfg = self.configs()
        t = self.t
        base = self.fresh_base()
        self.ops.attempted += 1
        try:
            t0, c0 = time.time(), host.tree_cpu_seconds()
            triples = extract(self.spark, t["run_pages"], self.model,
                              t["types"], t["redirects"], cfg)
            commit_partitions(self.spark, with_part_id(
                triples, "subj", num_parts=self.cpus), base, stage="triples")
            elapsed = time.time() - t0
            self.extract_cpu.append(host.tree_cpu_seconds() - c0)
            self.check(base)
        except Exception:
            traceback.print_exc()
            self.ops.fail("extract+commit raised")
            return None
        finally:
            release_pipeline_caches()
            shutil.rmtree(base, ignore_errors=True)
        return elapsed

    def fresh_base(self) -> str:
        self.n_commits += 1
        base = os.path.join(self.work, "out", f"commit{self.n_commits}")
        shutil.rmtree(base, ignore_errors=True)
        return base

    def check(self, base: str) -> bool:
        """Reads the commit back: non-empty, mostly known facts, and the
        digest recorded for this seed (or, for a seed never recorded, the
        digest of this run's first extract)."""
        from fact_extraction_spark.sinks.snapshot import read_committed
        rows = [tuple(r) for r in read_committed(self.spark, base, "triples")
                .select("subj", "pred", "obj").collect()]
        got = digest.triple_digest(rows)
        self.digests.append(got)
        if not rows:
            self.ops.fail("extract committed no triples")
            return False
        precision = sum(r in self.facts for r in rows) / len(rows)
        self.precision.append(precision)
        if precision < MIN_PRECISION:
            self.ops.fail(f"precision {precision:.3f} < {MIN_PRECISION}")
            return False
        want = self.expected or self.reference
        if want is None:
            self.reference = want = got
        if list(got) != list(want):
            self.ops.fail(f"output mismatch: got {list(got)}, want {want}")
            return False
        return True

    # -- whole runs -----------------------------------------------------------

    def setup(self) -> dict:
        """model build (once per checkout) -> corpus -> session -> model
        load; returns set-up timings. Raises if the model cannot load."""
        tr = self.tracer
        c0 = host.tree_cpu_seconds()
        with tr.span("model_build") as build:
            self.model_dir, learned = model.ensure(self.work)
        # the child's CPU time is in this process's reaped-children times
        build_cpu_s = host.tree_cpu_seconds() - c0
        with tr.span("corpus") as corpus:
            self.make_corpus()
        with tr.span("session") as session:
            self.start_session()
            self.open_corpus()
        with tr.span("model_load") as load:
            self.load_model()
        # process start until the extract can begin, less the model build
        # and the load generator
        setup_wall_s = (time.time() - self.t_start - build.duration
                        - corpus.duration)
        return {"build_s": build.duration, "gen_s": corpus.duration,
                "session_s": session.duration, "model_load_s": load.duration,
                "setup_wall_s": setup_wall_s,
                # the CPU of the whole tree since process start: interpreter,
                # JVM launch, session and model load
                "setup_cpu_s": (host.tree_cpu_seconds() - build_cpu_s
                                - self.gen_cpu_s),
                "model": {"dir": os.path.basename(self.model_dir),
                          **learned}}

    def extract_loop(self, seconds: float) -> list[float]:
        """Extract+commit until ``seconds`` have passed, at least once."""
        samples: list[float] = []
        t0 = time.time()
        while not samples or time.time() - t0 < seconds:
            s = self.extract_commit()
            if s is None:
                break
            samples.append(s)
        return samples

    def end_to_end(self, seconds: float) -> tuple[dict, dict]:
        setup = self.setup()
        extracts = self.extract_loop(seconds)
        if self.record and self.digests:
            digest.record(self.w.name, self.seed, self.digests[0])
        if not extracts:
            raise RuntimeError("no extract completed")
        wall = statistics.median(extracts)
        cpu = statistics.median(self.extract_cpu)
        metrics = {
            "extract_pages_per_cpu_s": (self.n_pages / cpu, "pages/cpu_s"),
            "extract_mb_per_cpu_s": (self.raw_bytes / MB / cpu, "MB/cpu_s"),
            "setup_s": (setup["setup_cpu_s"], "s"),
        }
        detail = {**setup, "extract_s": extracts, 
                  "extract_cpu_s": self.extract_cpu,
                  "extract_pages_per_s": self.n_pages / wall,
                  "extract_mb_per_s": self.raw_bytes / MB / wall,
                  "pages": self.n_pages, "raw_mb": self.raw_bytes / MB}
        return metrics, detail

    def traced(self) -> tuple[dict, dict]:
        setup = self.setup()
        tr = self.tracer
        with tr.span("extract"):
            e2e_s = self.extract_commit()
        if e2e_s is None:
            raise RuntimeError("traced extract raised")
        self.ops.attempted += 1
        with tr.span("staged"):
            try:
                counts = layers.staged_pass(self, tr)
            except Exception:
                self.ops.fail("staged pass raised")
                raise
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()   # flushes the event log
        self.spark = None
        metrics = layers.layer_metrics(
            tr, os.path.join(self.event_dir, app_id), counts, e2e_s)
        tr.dump(os.path.join(self.work, "trace.json"),
                {"workload": self.w.name, "seed": self.seed, **setup})
        return metrics, {**setup, "e2e_s": e2e_s}
