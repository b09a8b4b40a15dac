"""Declared-query registry: every engine capability as a named query.

Each entry pairs a Spark DataFrame plan builder with an equivalent ANSI-SQL
oracle string (runnable by DuckDB over the same parquet tables). The driver —
and our own parity tests — run both sides and compare row count, schema, and
order-insensitive value hashes. Every registered query carries an oracle
(``tests/test_driver_contract.py`` asserts it); a plan whose semantics are not
expressible in portable SQL stays a builder with ``oracle=None``, timed by the
bench but outside the parity harness.

Column-name discipline: every computed column is aliased identically in the
Spark plan and in the oracle SQL — the comparison sorts columns by name.
Float discipline: aggregates over doubles are rounded (default 4 dp) on BOTH
sides so summation-order noise between engines cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

#: Non-registered query builders — production API surface kept out of the
#: driver registry (the driver's correctness gate reads at most the first 50
#: registered queries). bench.py and the tests reach them by name through
#: ``resolve()``; ``tests/test_bench_coverage.py`` requires each one to have
#: an oracle, a headline entry or a test that names it. Builders may carry an
#: oracle too: the local parity harness verifies oracle-backed builders
#: exactly like registered queries, they just don't occupy one of the driver
#: gate's 50 slots.
BUILDER_SPECS: dict[str, QuerySpec] = {}


def builder(name: str, *, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator registering a builder in the non-driver registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in BUILDER_SPECS:
            raise ValueError(f"duplicate builder name: {name}")
        BUILDER_SPECS[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc)
        return fn

    return deco


def resolve(name: str) -> QueryFn:
    """Look up a query by name across both registries (driver + builders)."""
    _ensure_loaded()
    if name in REGISTRY:
        return REGISTRY[name].fn
    return BUILDER_SPECS[name].fn


def query(name: str, *, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator registering a (spark, sf_dir) -> DataFrame query builder."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc)
        return fn

    return deco


def _self_cleaning(fn: QueryFn) -> QueryFn:
    """Release the PREVIOUS query's tracked caches before building this one.

    Query builders cache intermediates via ``tracked_cache`` (iterative label
    propagation, reused edge/token frames). In a long-lived shared session
    (the driver's correctness sweep, the bench run) those blocks would
    otherwise accumulate query-over-query — see ``functions/caching.py``.
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from aws_flight_data_pipeline_spark.functions.caching import release_tracked

        release_tracked()
        return fn(spark, sf_dir)

    return run


def all_queries() -> dict[str, QueryFn]:
    """Driver-facing registry, with self-cleaning cache discipline.

    CONTRACT — build, then materialize immediately: calling any returned
    builder releases every cache tracked by PREVIOUSLY built queries (see
    ``_self_cleaning``). A consumer that builds several DataFrames before
    evaluating any still gets CORRECT results from all of them — unpersist
    only forces recomputation — but only the most recently built query
    retains its caches, so earlier builds silently lose their intra-query
    reuse. The driver's and bench's build-then-evaluate loop is the
    intended calling pattern; pinned by tests/test_caching_semantics.py.
    """
    _ensure_loaded()
    return {name: _self_cleaning(spec.fn) for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def _ensure_loaded() -> None:
    """Import every plan module so its @query decorators run."""
    import aws_flight_data_pipeline_spark.plans.multimodal_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.quality_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.relational  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.sequences  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.text_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.vector_queries  # noqa: F401

    # Second import block: originally builders-only, but rotation rounds may
    # promote entries here to @query (today: decontam_fuzzy_pairs,
    # bpe_apply_encode, ivm_single_increment, decontam_incremental_probe,
    # index_single_refresh). Their REGISTRY entries append AFTER the round-1
    # order above — fine as long as TOTAL registered queries stay <= 50,
    # since the driver reads only the first 50 (pinned by
    # tests/test_driver_contract.py).
    import aws_flight_data_pipeline_spark.plans.classifier_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.curation_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.graph_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.ivm_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.layout_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.planner_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.repetition_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.retrieval_queries  # noqa: F401
    import aws_flight_data_pipeline_spark.plans.sketch_queries  # noqa: F401
