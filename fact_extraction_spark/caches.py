"""Stage boundaries and the tables they hold.

``materialize(df)`` is the engine's one way to end a stage: it marks ``df``
for a local checkpoint and runs one ``count()``. That one job computes the
rows, stores them in the executors' block managers, cuts the lineage and
returns the row count, which the caller uses for its next decision
(broadcast or shuffle, empty or not). Plans built over the result start at
a ``LogicalRDD`` leaf: Spark renders every action's plan as text and
re-plans it under AQE, and a cached subplan (``persist()``) is printed in
full at each place it is referenced, so chained persisted stages made the
final plan of an in-session extract tens of MB.

Lifetime. ``df.unpersist()`` does not free a checkpoint; only its RDD's
``unpersist`` does (``free``), and after that any read of the DataFrame
fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. There is one rule: a
model's six tables are freed by ``LearnedModel.unpersist()``; every other
driver-side table is materialized or ``track``-ed and lives until
``release()``. Call it after the action that consumes an extract, never
while a DataFrame built over a tracked table is still to be read.

Reuse. ``memo(name, objs, build)`` keeps ``build()`` per ``name`` and the
identities of ``objs`` until ``release()``, which drops every entry along
with the tables its build materialized. It serves what one session builds
twice from the same inputs: the resolved redirects with their broadcast
map (one entry, one collect), and the dictionary context.

Fault model. A task that fails while reading a checkpoint re-reads its
blocks, so task retry leaves the output identical. A local checkpoint's
blocks live on the executor that computed them: on a cluster, losing that
executor makes the job fail loudly instead of recomputing, and rerunning
the job resumes from the snapshot sink's per-partition commits. Reliable
``checkpoint()`` (blocks written to a shared directory) would survive the
loss, at the cost of writing every boundary to it; it is not used because
no workload here loses an executor, so nothing could test it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_MEMO: dict = {}


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` computed once with its lineage cut, and its row count; the
    result is tracked for ``release()``."""
    df = df.localCheckpoint(eager=False)
    rows = df.count()
    track(df)
    return df, rows


def track(df: DataFrame) -> DataFrame:
    """Register a materialized or persisted DataFrame for ``release()``."""
    _TRACKED.append(df)
    return df


def memo(name, objs: tuple, build):
    """``build()``, kept per ``name`` and the identities of ``objs`` until
    ``release()``. The entry pins ``objs`` and a hit re-checks them with
    ``is``, so a recycled ``id()`` can never serve another input's value."""
    key = (name, *map(id, objs))
    entry = _MEMO.get(key)
    if entry is not None and all(a is b for a, b in zip(entry[0], objs)):
        return entry[1]
    value = build()
    _MEMO[key] = (objs, value)
    return value


def free(df: DataFrame) -> None:
    """Drop ``df``'s stored blocks: a checkpoint's RDD, else its persist.
    Safe with a stopped SparkContext (nothing to free then)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist()
    except Exception:
        pass


def release() -> int:
    """Free every tracked DataFrame and drop every memo entry; returns how
    many tables were released."""
    n = len(_TRACKED)
    for df in _TRACKED:
        free(df)
    _TRACKED.clear()
    _MEMO.clear()
    return n
