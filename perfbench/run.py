"""KG pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload thin_anchored --seed 42 \
        --seconds 1 --trace 0

Run from the repository root. With ``--trace 0`` it times the end-to-end
metrics; with ``--trace 1`` it writes a Spark event log and reports the
per-layer metrics of a stage-isolated pass. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. The line before it holds the details (host facts before and
after, every sample, digests, error_rate). ``--force-mismatch`` checks
against a wrong recorded digest (every extract then counts as failed);
``--record`` stores this seed's digest in expected.json. The first run in
a checkout also learns the model every run extracts with
(``perfbench/model.py``). See BASELINE.md for the method.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="how long the warm extract loop measures")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--force-mismatch", action="store_true")
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import host
    host.become_subreaper()
    # a terminated run unwinds like a failed one, so the cleanup below runs
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        return measure(args)
    finally:
        # every process the run started has ended before it exits
        host.stop_jvm()
        host.end_descendants()


def measure(args) -> int:
    try:
        import fact_extraction_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.runner import Run
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work")
    # Python workers, the JVM launcher and Spark's block manager keep their
    # files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    before = host.host_facts()
    run = Run(WORKLOADS[args.workload], args.seed, work, T_START,
              trace=bool(args.trace), force_mismatch=args.force_mismatch,
              record=args.record)
    try:
        with host.RssSampler() as rss:
            if args.trace:
                metrics, detail = run.traced()
            else:
                metrics, detail = run.end_to_end(args.seconds)
                metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    finally:
        if run.spark is not None:
            run.spark.stop()
    ops = run.ops
    detail.update(workload=args.workload, seed=args.seed,
                  host_before=before, host_after=host.host_facts(),
                  driver_heap_mb=run.heap_mb, digests=run.digests,
                  precision=run.precision,
                  error_rate=ops.failed / ops.attempted, failures=ops.notes,
                  wall_s=time.time() - T_START)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
