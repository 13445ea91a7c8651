"""spark-submit --py-files packaging smoke (the north-rule submission path).

Runs jobs/run_pipeline.py in a REAL ``spark-submit`` subprocess with the
package shipped only via the zip (cwd outside the repo, PYTHONPATH cleared)
— catches executor-import and packaging bugs no in-process test can.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_pyfiles_smoke(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    sys.path.insert(0, REPO)
    from jobs.package import build
    zip_path = build(str(tmp_path / "dist"))
    assert os.path.exists(zip_path)

    out_dir = str(tmp_path / "kg_out")
    # without SPARK_GRAFT_CPUS the engine's own default master is
    # local[32], so a session that ignored the submitter would show it
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "run_pipeline.py"),
         "--fixture", "25", "--out", out_dir, "--num-parts", "4"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["rows"] > 0 and summary["parts"] > 0
    # the session runs with what was submitted, not the engine defaults
    assert summary["master"] == "local[4]"
    assert summary["shuffle_partitions"] == 8

    # the committed table is readable through the snapshot reader
    from fact_extraction_spark.session import get_spark
    from fact_extraction_spark.sinks.snapshot import lineage, read_committed
    spark = get_spark("submit_check", master="local[4]", shuffle_partitions=4)
    committed = read_committed(spark, out_dir, stage="triples")
    assert committed.count() == summary["rows"]
    lin = lineage(spark, out_dir)
    assert lin.filter(lin.status == "committed").count() == summary["parts"]
