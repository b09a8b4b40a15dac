"""Incremental materialized-view maintenance over the versioned table.

The reference refreshes its summary views by re-running the full query
(``sql/athena/06_create_summary_views.sql`` via the optimization guide's
views-as-cache pattern, ``07:529-571``). This module maintains such a
rollup incrementally under APPENDS, UPDATES and DELETES, driven by the
versioned table's change feed — classic incremental view maintenance with
retractions.

The refresh pipeline, per cycle:

1. ``table_changes(fact, cursor, head)`` yields the net row-level diff —
   scan cost proportional to the churned files, never the table.
2. The diff folds to signed per-group deltas (insert = +1, delete = −1
   multiplicity; SUM/COUNT are the retractable aggregates — MIN/MAX are
   deliberately excluded because a retracted extremum forces a group
   rescan, so a MIN/MAX view is recomputed, not maintained).
3. Deltas join the current rollup's AFFECTED groups only and the new
   absolute rows merge in via :func:`~.versioned.merge_into` — manifest
   stats prune the rewrite to files that can contain affected groups.
4. The merge manifest is stamped with ``source_version`` — the cursor
   moves ATOMICALLY with the data (one manifest publication), so a
   crashed refresh replays from the old cursor against the old rollup
   state and a completed refresh can never double-apply: exactly-once
   maintenance with no side ledger. Every later commit on the rollup
   (OPTIMIZE, rollback) carries the cursor of the snapshot it publishes,
   so the cursor is always the head manifest's.

Groups whose count reaches zero stay as TOMBSTONE rows (count 0 — still
correct partials) rather than forcing a second delete commit;
:func:`read_view` hides them and ``optimize()`` on the rollup table
physically drops them during compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources.versioned import (
    _head_manifest,
    _publish_version,
    commit,
    latest_version,
    merge_into,
    read,
    table_changes,
)


def _cursor(rollup_path: str) -> int | None:
    """Last fact-table version folded into the rollup: the head manifest's
    ``source_version``. None = never refreshed."""
    m = _head_manifest(rollup_path)
    return None if m is None or m.get("source_version") is None else int(m["source_version"])


def refresh_view(
    spark: SparkSession,
    fact_path: str,
    rollup_path: str,
    group_cols: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    count_col: str = "n_rows",
) -> dict:
    """Bring the rollup up to the fact table's head; returns
    ``{refreshed, from_version, to_version, groups_touched}``.

    First call (or a rollback to a version before the first refresh)
    does a full snapshot build — a pure recompute, so the fallback is
    always safe. Subsequent calls are change-feed increments as described
    in the module docstring.
    """
    head = latest_version(fact_path)
    if head is None:
        raise FileNotFoundError(f"{fact_path} has no committed versions")
    cur = _cursor(rollup_path)

    if cur == head:
        return {
            "refreshed": False,
            "from_version": cur,
            "to_version": head,
            "groups_touched": 0,
        }

    aggs = [F.count("*").cast("bigint").alias(count_col)] + [
        F.sum(c).cast("bigint").alias(f"sum_{c}") for c in sum_cols
    ]
    if cur is None:
        full = read(spark, fact_path, version=head).groupBy(*group_cols).agg(*aggs)
        commit(
            full,
            rollup_path,
            mode="overwrite" if latest_version(rollup_path) is not None else "append",
            stats_cols=tuple(group_cols),
            meta={"source_version": int(head)},
        )
        return {
            "refreshed": True,
            "from_version": None,
            "to_version": head,
            "groups_touched": None,
        }

    w = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        table_changes(spark, fact_path, cur, head)
        .groupBy(*group_cols)
        .agg(
            F.sum(w).cast("bigint").alias(f"_d_{count_col}"),
            *[F.sum(w * F.col(c)).cast("bigint").alias(f"_d_sum_{c}") for c in sum_cols],
        )
    )
    # churn that nets to zero on every maintained aggregate (an update that
    # only touched non-aggregated columns) must not force a rollup rewrite
    nonzero = F.col(f"_d_{count_col}") != 0
    for c in sum_cols:
        nonzero = nonzero | (F.col(f"_d_sum_{c}") != 0)
    delta = delta.where(nonzero)
    # LEFT join from the delta side inherently restricts the rollup scan
    # to the affected groups (rollup rows are unique per group); the
    # merged frame (KB-scale: one row per affected group) is materialized
    # ONCE — merge_into drives several actions over its source and each
    # would otherwise re-scan the change feed and re-run the aggregation
    existing = read(spark, rollup_path)
    merged = delta.join(existing, list(group_cols), "left").select(
        *group_cols,
        (F.coalesce(F.col(count_col), F.lit(0)) + F.col(f"_d_{count_col}"))
        .cast("bigint")
        .alias(count_col),
        *[
            (F.coalesce(F.col(f"sum_{c}"), F.lit(0)) + F.col(f"_d_sum_{c}"))
            .cast("bigint")
            .alias(f"sum_{c}")
            for c in sum_cols
        ],
    ).persist()
    try:
        prior = latest_version(rollup_path)
        out = merge_into(
            spark,
            rollup_path,
            merged,
            on=tuple(group_cols),
            meta={"source_version": int(head)},
        )
    finally:
        merged.unpersist()
    if out["version"] == prior:
        # cur < head but the net diff was empty (rollback that netted out,
        # OPTIMIZE compaction, metadata-only commits): merge_into was a
        # no-op, so move the cursor with a metadata-only republish — never
        # touch the rollup's data. (merge_into detects the empty source in
        # its own bounds aggregate; no standalone isEmpty job is paid.)
        _stamp_cursor(rollup_path, int(head))
        return {
            "refreshed": True,
            "from_version": cur,
            "to_version": head,
            "groups_touched": 0,
        }
    groups = out["rows_updated"] + out["rows_inserted"]
    return {
        "refreshed": True,
        "from_version": cur,
        "to_version": head,
        "groups_touched": groups,
    }


def _stamp_cursor(rollup_path: str, head: int) -> None:
    """Metadata-only commit that carries the cursor forward: republish the
    newest manifest's file set with the new ``source_version`` (atomic
    publication, no data movement)."""
    m = _head_manifest(rollup_path)
    _publish_version(
        rollup_path, m, "cursor", keep=m["files"], extra={"source_version": head}
    )


def read_view(spark: SparkSession, rollup_path: str, count_col: str = "n_rows") -> DataFrame:
    """The maintained rollup, with fully-retracted tombstone groups
    (count 0) hidden; OPTIMIZE on the rollup table drops them physically."""
    return read(spark, rollup_path).where(F.col(count_col) > 0)
