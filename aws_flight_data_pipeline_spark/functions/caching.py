"""Session-lifetime cache discipline for query builders.

``DataFrame.cache()`` registers an InMemoryRelation in Spark's CacheManager,
which holds a STRONG reference until ``unpersist()``/``clearCache()`` — unlike
RDD-level persistence it is never garbage-collected by the ContextCleaner. A
builder that caches an intermediate (iterative label propagation, reused edge
frames, exploded token tables) therefore leaks storage blocks into every
long-lived shared session: an 86-query bench run or the driver's 50-query
correctness sweep accumulates every round's cached frames.

Discipline: builders call :func:`tracked_cache` instead of ``.cache()``.
Release points, each covering one harness surface:

- ``__spark_entry__.queries()`` / the driver sweep: the ``_self_cleaning``
  wrapper (``plans/registry.py``) releases the PREVIOUS query's caches when
  the next query is BUILT — see ``all_queries()`` for the build-then-
  materialize contract this implies.
- ``bench.py``: explicit ``release_tracked()`` between the warm-up and timed
  runs and after each timed run.
- the pytest suite: an autouse teardown fixture (``tests/conftest.py``)
  releases after EVERY test — this is what covers the parity tests, which
  invoke ``spec.fn`` directly and bypass the ``_self_cleaning`` wrapper.

Intra-query semantics are identical to ``.cache()``; releasing early only
costs recomputation, never correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_LIVE: list[DataFrame] = []

#: Per-call session temp views registered by builders (bloom_prune's scalar-
#: subquery injection) — without tracking, a long-lived session (driver
#: correctness sweep, repeated bench runs) accumulates catalog entries
#: without bound. Dropping a view never invalidates DataFrames already built
#: against it: PySpark analyzes eagerly, so the resolved plan no longer
#: consults the catalog.
_LIVE_VIEWS: list[tuple[SparkSession, str]] = []


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` plus registration for later bulk release."""
    df = df.cache()
    _LIVE.append(df)
    return df


#: The persisted JVM RDDs behind tracked_localcheckpoint frames: PySpark has
#: no public call that unpersists a local checkpoint, so each is released
#: through the RDD its analyzed plan scans.
_LIVE_RDDS: list = []


def tracked_localcheckpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` plus registration for bulk release.

    ``eager=False`` keeps the plan truncation (the returned frame's logical
    plan is a LogicalRDD leaf either way — Catalyst analysis cost is
    identical) but defers materialization to the first downstream action:
    the checkpoint's partitions compute inside that action's job and persist
    for every other consumer, instead of paying a dedicated job per
    checkpoint up front. Right for a chain of checkpoints consumed by ONE
    terminal action (the admission gate: 3 eager jobs collapsed into the
    final pass, A/B 0.87×); keep the eager default when consumers are
    separate actions or when build/exec cost attribution matters.

    Use instead of :func:`tracked_cache` when a frame's LINEAGE, not its
    recompute cost, is the problem: ``cache()`` keeps the full analyzed
    subtree in every consumer's plan, so a composition that references a
    cached frame N times hands Catalyst an O(N × lineage) tree — and on
    micro-batch-sized inputs the optimizer pass dwarfs execution (the
    unified admission gate profiled ~2 s of zero-job driver time against
    ~4 s of stage work at sf0.1). A local checkpoint truncates the plan to
    a LogicalRDD leaf; downstream planning cost becomes O(stages).

    Local checkpoints trade fault-tolerance for speed (executor loss loses
    the partition — unrecoverable without the lineage), which is the right
    trade inside one composed query over micro-batch state; a lake-scale
    deployment that needs recovery across a long-lived pipeline uses
    reliable ``checkpoint()`` to the checkpoint dir instead.
    """
    out = df.localCheckpoint(eager=eager)
    _LIVE_RDDS.append(out._jdf.queryExecution().analyzed().rdd())
    return out


def tracked_view(spark: SparkSession, name: str) -> None:
    """Register a session temp view for bulk drop at the next release point."""
    _LIVE_VIEWS.append((spark, name))


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked cache and drop every tracked temp view;
    returns how many caches were released.

    Safe against already-stopped sessions (each unpersist/drop is
    best-effort — a dead SparkContext just means the blocks are gone
    anyway).
    """
    released = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking)
            released += 1
        except Exception:
            pass
    while _LIVE_RDDS:
        rdd = _LIVE_RDDS.pop()
        try:
            rdd.unpersist(blocking)
            released += 1
        except Exception:
            pass
    while _LIVE_VIEWS:
        spark, name = _LIVE_VIEWS.pop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    return released
