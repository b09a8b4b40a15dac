"""ANALYZE for the versioned table: mergeable per-file HLL column NDV.

The manifest's footer stats ([min, max] per file) answer range questions;
they say nothing about CARDINALITY. Distinct counts drive the decisions a
planner and an operator make at scale — which join side broadcasts,
whether a key is near-unique (dedup candidate) or low-cardinality (pivot
candidate), how many buckets a layout needs — and recomputing
COUNT(DISTINCT) per question rescans the table.

This module maintains a HyperLogLog sketch PER DATA FILE per column:

- Data files of the versioned table are immutable (copy-on-write), so a
  file's sketch never goes stale — it stays valid for every version that
  references the file. ``analyze`` therefore only sketches files not yet
  covered: O(churn) maintenance, same contract as the IVM and inverted-
  index tiers.
- HLL registers merge by element-wise MAX, so the table-level NDV at any
  version is the merge of that version's file sketches — no rescan, and
  the incremental result is BIT-IDENTICAL to a from-scratch analyze (the
  per-file registers don't depend on when they were computed).

Register computation is one Spark pass over the un-analyzed files, all
JVM-side: xxhash64 per value, low 8 bits pick 1 of m=256 registers, the
rank of the remaining 56 bits is derived INTEGER-EXACTLY from the length
of the binary string (``57 - length(bin(w))`` — no float log whose edge
rounding could flip a register), then ``groupBy(file, col, bucket).max``.
Output is m rows per (file, column): KB-scale state, like the manifest
blooms.

Sketches live in ``<table>/_stats/hll.json``, replaced atomically
(tmp + rename). Like OPTIMIZE, analyze assumes one maintenance actor at
a time; concurrent analyzers lose no correctness, only coverage (last
write wins, the next analyze tops the gap back up).
"""

from __future__ import annotations

import json
import math
import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources import versioned

M = 256  # registers per sketch (2^8); standard error ~ 1.04/sqrt(m) = 6.5%
_MAX_RANK = 57  # 56 usable bits after the 8-bit bucket index, +1


def _stats_path(path: str) -> str:
    return os.path.join(path, "_stats", "hll.json")


def _load(path: str) -> dict:
    try:
        with open(_stats_path(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _store(path: str, payload: dict) -> None:
    d = os.path.dirname(_stats_path(path))
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, _stats_path(path))


def analyze(
    spark: SparkSession, path: str, cols: tuple[str, ...], version: int | None = None
) -> dict:
    """Sketch every not-yet-covered data file of ``version`` (default head)
    for ``cols``. Returns ``{"files_sketched": n, "files_total": t}``."""
    v = versioned.latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    manifest = versioned._read_manifest(path, v)
    files = manifest["files"]
    stats = _load(path)
    covered = {f for f, per_col in stats.items() if all(c in per_col for c in cols)}
    missing = [f for f in files if f not in covered]
    if missing:
        df = spark.read.parquet(*[os.path.join(path, f) for f in missing])
        # map absolute scan URIs back to manifest-relative paths by
        # basename — part-file names carry a write-unique uuid
        base_to_rel = {os.path.basename(f): f for f in missing}
        present = [c for c in cols if c in df.columns]
        # NB: xxhash64(NULL) returns the seed hash, not NULL — nulls must
        # be excluded on the VALUE, or every null would count as one
        # spurious distinct
        entries = F.array(
            *[
                F.struct(
                    F.lit(c).alias("col"),
                    F.xxhash64(F.col(c)).alias("h"),
                    F.col(c).isNull().alias("is_null"),
                )
                for c in present
            ]
        )
        long = (
            df.select(F.input_file_name().alias("uri"), F.explode(entries).alias("s"))
            .where(~F.col("s.is_null"))
            .select("uri", "s.col", "s.h")
        )
        w = F.shiftrightunsigned(F.col("h"), 8)
        regs = (
            long.select(
                "uri",
                "col",
                F.expr("h & 255").cast("int").alias("bucket"),
                F.when(w == 0, F.lit(_MAX_RANK))
                .otherwise(F.lit(_MAX_RANK) - F.length(F.bin(w)))
                .cast("int")
                .alias("rank"),
            )
            .groupBy("uri", "col", "bucket")
            .agg(F.max("rank").alias("r"))
            .collect()
        )
        fresh: dict[str, dict[str, list[int]]] = {}
        for row in regs:
            rel = base_to_rel[os.path.basename(row["uri"])]
            arr = fresh.setdefault(rel, {}).setdefault(row["col"], [0] * M)
            arr[row["bucket"]] = row["r"]
        # files whose column is entirely NULL produce no rows: record the
        # all-zero sketch so coverage (and NDV 0) is explicit
        for rel in missing:
            for c in present:
                fresh.setdefault(rel, {}).setdefault(c, [0] * M)
        for rel, per_col in fresh.items():
            stats.setdefault(rel, {}).update(per_col)
        _store(path, stats)
    return {"files_sketched": len(missing), "files_total": len(files)}


def _estimate(regs: list[int]) -> int:
    alpha = 0.7213 / (1 + 1.079 / M)
    e = alpha * M * M / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    if e <= 2.5 * M and zeros:  # small-range (linear counting) correction
        e = M * math.log(M / zeros)
    return int(round(e))


def column_stats(
    path: str, cols: tuple[str, ...], version: int | None = None
) -> dict:
    """Merged NDV estimate per column at ``version`` (default head), from
    the per-file sketches alone — no scan. ``files_covered`` <
    ``files_total`` means analyze() hasn't caught up with a rewrite
    (OPTIMIZE / MERGE / DELETE produce new files); the estimate then
    covers only the sketched files and ``complete`` is False."""
    v = versioned.latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    files = versioned._read_manifest(path, v)["files"]
    stats = _load(path)
    out: dict[str, dict] = {}
    for c in cols:
        merged = [0] * M
        covered = 0
        for f in files:
            regs = stats.get(f, {}).get(c)
            if regs is None:
                continue
            covered += 1
            for i, r in enumerate(regs):
                if r > merged[i]:
                    merged[i] = r
        out[c] = {
            "ndv": _estimate(merged) if covered else None,
            "files_covered": covered,
            "files_total": len(files),
            "complete": covered == len(files),
        }
    return out


def prune(path: str) -> dict:
    """Drop sketches for data files no LIVE manifest references anymore —
    the stats-store companion to ``versioned.vacuum`` (a sketch of a
    vacuumed file is dead weight; one of a still-referenced historical
    file stays, since time-travel reads may ask for its version's NDV).
    Returns ``{"pruned": n, "kept": k}``."""
    stats = _load(path)
    if not stats:
        return {"pruned": 0, "kept": 0}
    live: set[str] = set()
    for v in versioned._list_versions(path):
        live.update(versioned._read_manifest(path, v)["files"])
    kept = {f: s for f, s in stats.items() if f in live}
    pruned = len(stats) - len(kept)
    if pruned:
        _store(path, kept)
    return {"pruned": pruned, "kept": len(kept)}


def row_count(path: str, version: int | None = None) -> int:
    """Exact row count at ``version`` (default head) from parquet FOOTER
    metadata — no data pages read, O(files) driver work. The lake-side
    input to planner decisions (broadcast thresholds, bucket counts)."""
    v = versioned.latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    return versioned._footer_rows(path, versioned._read_manifest(path, v)["files"])


#: Session-lifetime NDV cache for PLAIN-PARQUET planner inputs, keyed by the
#: file list's (path, mtime, size) fingerprint — the parquet analog of the
#: versioned table's ``_stats/hll.json`` sidecar, held in memory because raw
#: inputs may be read-only (the testdata mount is). A rewrite of any file
#: changes the fingerprint and invalidates exactly that table's entry.
_PARQUET_NDV_CACHE: dict[tuple, dict[str, int]] = {}


def _parquet_ndv(
    spark: SparkSession, path: str, files: list[str], cols: tuple[str, ...]
) -> dict[str, int]:
    """ANALYZE-on-demand for a plain-parquet table: one column-pruned pass
    computing ``approx_count_distinct`` (Spark's JVM-side HLL++) for every
    requested column at once, cached for the session (see
    ``_PARQUET_NDV_CACHE``). Only the key columns are scanned — at 100 TB
    this reads the key columns' pages once per session, not per query."""
    fp = tuple(
        (f, os.path.getmtime(f), os.path.getsize(f)) for f in sorted(files)
    )
    cached = _PARQUET_NDV_CACHE.setdefault((os.path.realpath(path), fp), {})
    missing = [c for c in cols if c not in cached]
    if missing:
        row = (
            spark.read.parquet(*files)
            .select([F.approx_count_distinct(c).alias(c) for c in missing])
            .first()
        )
        for c in missing:
            cached[c] = int(row[c])
    return {c: cached[c] for c in cols}


def _row_group_may_match(group, where: dict) -> bool:
    """Row-group-level footer pruning for plain parquet: False only when a
    recorded [min, max] is provably disjoint from the requested inclusive
    range. Missing stats or incomparable bound types keep the group
    (conservative, exactly like the manifest's ``plan_files``)."""
    mm: dict[str, tuple] = {}
    for i in range(group.num_columns):
        c = group.column(i)
        s = c.statistics
        if s is not None and s.has_min_max:
            mm[c.path_in_schema] = (s.min, s.max)
    for col, (lo, hi) in where.items():
        rng = mm.get(col)
        if rng is None:
            continue
        try:
            if rng[1] < lo or rng[0] > hi:
                return False
        except TypeError:
            continue
    return True


class _Relation:
    """One planner input table, behind a uniform stats/read surface.

    ``spec`` is a path string, or ``{"path": ..., "select": {src: alias}}``
    for projected/renamed reads — how the same base table joins a plan
    twice under different roles (Q8's customer-nation vs supplier-nation).
    Two kinds, auto-detected:

    - VERSIONED table (has a committed manifest): exact footer row counts
      via the manifest, filter pruning via ``plan_files`` footer stats,
      NDV from the maintained per-file HLL sketches (``analyze`` tops up
      uncovered files, O(churn)).
    - PLAIN PARQUET file/directory: footer row counts via file listing
      (row-group stats prune under a filter), NDV computed on demand and
      session-cached (``_parquet_ndv``) — raw inputs may be read-only, so
      no sidecar is written.

    ``filters`` / ``where`` always name SOURCE columns (they apply before
    the projection); join keys and ``out_columns`` live in ALIAS space.
    """

    def __init__(self, name: str, spec):
        if isinstance(spec, str):
            self.path, self.select = spec, None
        else:
            self.path = spec["path"]
            self.select = spec.get("select")
        self.name = name
        self.versioned = versioned.latest_version(self.path) is not None
        if not self.versioned and not os.path.exists(self.path):
            raise FileNotFoundError(
                f"planner table {name!r}: {self.path} is neither a versioned "
                "table nor an existing parquet path"
            )

    def _files(self) -> list[str]:
        if os.path.isdir(self.path):
            return sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if f.endswith(".parquet")
            )
        return [self.path]

    def out_columns(self) -> list[str]:
        if self.select:
            return list(self.select.values())
        import pyarrow.parquet as pq

        if self.versioned:
            v = versioned.latest_version(self.path)
            files = versioned._read_manifest(self.path, v)["files"]
            if not files:
                return []
            first = os.path.join(self.path, files[0])
        else:
            first = self._files()[0]
        return list(pq.ParquetFile(first).schema_arrow.names)

    def src_of(self, alias: str) -> str:
        if not self.select:
            return alias
        inv = {a: s for s, a in self.select.items()}
        return inv[alias]

    def rows(self, where: dict | None = None) -> int:
        import pyarrow.parquet as pq

        if self.versioned:
            v = versioned.latest_version(self.path)
            if where:
                kept, _ = versioned.plan_files(self.path, v, where)
            else:
                kept = versioned._read_manifest(self.path, v)["files"]
            return versioned._footer_rows(self.path, kept)
        total = 0
        for f in self._files():
            md = pq.ParquetFile(f).metadata
            if not where:
                total += md.num_rows
                continue
            for i in range(md.num_row_groups):
                g = md.row_group(i)
                if _row_group_may_match(g, where):
                    total += g.num_rows
        return total

    def read(self, spark: SparkSession, where: dict | None = None):
        if self.versioned:
            df = versioned.read(spark, self.path, where=where)
        else:
            # event-time parity with load_table: extraction functions over
            # timestamp columns must see the same (UTC) session zone
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = spark.read.parquet(*self._files())
            for col, (lo, hi) in (where or {}).items():
                df = df.where(F.col(col).between(F.lit(lo), F.lit(hi)))
        if self.select:
            df = df.select(*[F.col(s).alias(a) for s, a in self.select.items()])
        return df

    def ndv(
        self, spark: SparkSession, alias_cols, ensure_analyzed: bool = True
    ) -> dict[str, int | None]:
        src = tuple(sorted({self.src_of(c) for c in alias_cols}))
        if self.versioned:
            if ensure_analyzed:
                analyze(spark, self.path, src)
            st = column_stats(self.path, src)
            return {a: st[self.src_of(a)]["ndv"] for a in alias_cols}
        if not ensure_analyzed:
            return {a: None for a in alias_cols}
        est = _parquet_ndv(spark, self.path, self._files(), src)
        return {a: est[self.src_of(a)] for a in alias_cols}


def edges_from_predicates(
    predicates: list[str], columns_by_table: dict[str, list[str]]
) -> list[tuple[str, str, str, str]]:
    """Derive ``plan_join_tree``'s edge list from equi-join predicates —
    the strings a SQL frontend's ON/WHERE conjunction would yield, so a
    caller declares ``"l_orderkey = o_orderkey"`` instead of hand-building
    4-tuples. Each side is ``col`` (resolved to its owning table, which
    must be unique across the plan) or ``table.col`` (explicit). Column
    names here are the tables' OUTPUT (alias-space) names."""
    owner: dict[str, list[str]] = {}
    for t, cols in columns_by_table.items():
        for c in cols:
            owner.setdefault(c, []).append(t)

    def resolve(tok: str) -> tuple[str, str]:
        tok = tok.strip()
        if "." in tok:
            t, c = tok.split(".", 1)
            if t not in columns_by_table or c not in columns_by_table[t]:
                raise ValueError(f"unknown qualified column {tok!r}")
            return t, c
        owners = owner.get(tok, [])
        if not owners:
            raise ValueError(f"unknown column {tok!r} in join predicate")
        if len(owners) > 1:
            raise ValueError(
                f"ambiguous column {tok!r} (owned by {sorted(owners)}); "
                "qualify it as table.col or alias one side's columns"
            )
        return owners[0], tok

    edges = []
    for p in predicates:
        sides = p.split("=")
        if len(sides) != 2:
            raise ValueError(f"not an equi-join predicate: {p!r}")
        ta, ka = resolve(sides[0])
        tb, kb = resolve(sides[1])
        if ta == tb:
            raise ValueError(
                f"predicate {p!r} references one table twice; a self-join "
                "needs the table registered under two aliased names"
            )
        edges.append((ta, ka, tb, kb))
    return edges


def plan_join_tree(
    spark: SparkSession,
    tables: dict[str, str | dict],
    edges: list[tuple[str, str, str, str]] | None = None,
    broadcast_threshold_rows: int = 1_000_000,
    ensure_analyzed: bool = True,
    filters: dict[str, dict] | None = None,
    predicates: list[str] | None = None,
):
    """Cost-based LEFT-DEEP ordering + per-edge strategy for a 3+ table
    equi-join over versioned tables, driven entirely by the ANALYZE tier:
    exact footer row counts pick the fact table (largest — always the
    streaming probe side, never broadcast) and the build-side strategy per
    edge; per-column HLL NDV drives the System-R output-cardinality
    estimate ``|A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k))`` that orders
    the remaining joins greedily (most-reducing edge first). This is the
    decision Catalyst cannot make for manifest-pinned file lists: its
    size-in-bytes estimates see whatever the scan relation reports, not
    the manifest's exact knowledge — and with the broadcast threshold off
    (or file sizes misreported) it plans shuffle joins for KB dimensions.
    Reference analog: the optimization guide's filter-before-join +
    small-dimension broadcast guidance
    (``sql/athena/07_optimization_guide.sql:193-234``), automated from
    maintained statistics instead of hand-written per query.

    ``tables``: name -> versioned table path, plain-parquet path, or a
    ``{"path", "select": {src: alias}}`` spec (see :class:`_Relation` —
    plain parquet gets footer row counts via file listing and NDV on
    demand; ``select`` lets one base table join the plan twice under
    different roles). ``edges``: equi-join conditions ``(table_a, key_a,
    table_b, key_b)`` — or pass ``predicates`` (``"l_orderkey =
    o_orderkey"`` strings, the form a SQL frontend's ON conjunction
    yields) and the edge list is derived by resolving each column to its
    owning table (:func:`edges_from_predicates`). The edge set must
    connect all tables (tree or cyclic — a cyclic edge whose both sides
    are already joined is applied as a post-filter). When
    ``ensure_analyzed`` is set, join-key columns missing an HLL sketch are
    analyzed first (O(uncovered files) for versioned tables, one cached
    ``approx_count_distinct`` pass for plain parquet); otherwise an
    unsketched key falls back to the table's row count (assume-unique —
    conservative for dimension keys).

    ``filters``: per-table range/equality predicates ``{table: {col:
    (lo, hi)}}`` — the optimization guide's FILTER-BEFORE-JOIN rule made a
    planner input: each filtered table is read stats-scoped
    (``versioned.read(where=...)`` — manifest file skipping + the row
    filter), and its row count for ordering/broadcast decisions is the
    FOOTER count of only the surviving files (an upper bound: a kept file
    may still hold non-matching rows — conservative, so a filter can only
    demote a table toward broadcast when its pruned size provably allows).

    Returns ``(df, facts)``: the joined DataFrame and a plan-facts dict
    (the monitor's evidence format) with the chosen order, per-step
    cardinality estimates, and per-edge strategies.
    """
    if len(tables) < 2:
        raise ValueError("plan_join_tree needs at least two tables")
    rels = {t: _Relation(t, spec) for t, spec in tables.items()}
    if predicates is not None:
        if edges is not None:
            raise ValueError("pass edges or predicates, not both")
        edges = edges_from_predicates(
            predicates, {t: r.out_columns() for t, r in rels.items()}
        )
    if edges is None:
        raise ValueError("plan_join_tree needs edges or predicates")
    keys_by_table: dict[str, set[str]] = {t: set() for t in tables}
    for a, ka, b, kb in edges:
        if a not in tables or b not in tables:
            raise ValueError(f"edge ({a},{ka},{b},{kb}) references unknown table")
        keys_by_table[a].add(ka)
        keys_by_table[b].add(kb)

    filters = filters or {}

    n: dict[str, int] = {t: rels[t].rows(filters.get(t)) for t in tables}
    ndv: dict[str, dict[str, int]] = {}
    for t, rel in rels.items():
        cols = tuple(sorted(keys_by_table[t]))
        if not cols:
            ndv[t] = {}
            continue
        st = rel.ndv(spark, cols, ensure_analyzed)
        # assume-unique fallback for unsketched keys; cap at the (possibly
        # filter-pruned) row count — an NDV above the rows that survive
        # pruning is impossible among the surviving rows, and capping
        # tightens the join estimate exactly when a filter made the
        # table's key set smaller
        ndv[t] = {c: min(n[t], st[c]) if st[c] else n[t] for c in cols}

    fact = max(n, key=lambda t: (n[t], t))
    joined = {fact}
    df = rels[fact].read(spark, filters.get(fact))
    cur = n[fact]
    steps: list[dict] = []
    remaining = list(edges)

    while remaining:
        # Cycle-closing filter edges are FREE and strictly reducing (inner
        # joins and filters commute), so drain every edge whose both sides
        # are already joined before scoring join candidates — deferring one
        # behind a cheap-looking join would leave intermediates needlessly
        # large and later edge estimates looser. Equality selectivity
        # ~ 1/max(ndv) — System-R — so the running estimate tightens for
        # every subsequent candidate score.
        closable = [e for e in remaining if e[0] in joined and e[2] in joined]
        for e in sorted(closable, key=str):
            remaining.remove(e)
            a, ka, b, kb = e
            df = df.where(F.col(ka) == F.col(kb))
            sel_ndv = max(
                [ndv[x][k] for k in (ka, kb) for x in tables if k in ndv[x]]
                or [1]
            )
            cur = max(1, cur // max(1, sel_ndv))
            steps.append({"edge": e, "strategy": "filter", "est_rows_out": cur})
        if not remaining:
            break

        candidates = []
        for e in remaining:
            a, ka, b, kb = e
            if a in joined:
                t, tk, jk = b, kb, ka
            elif b in joined:
                t, tk, jk = a, ka, kb
            else:
                continue
            # joined-side key NDV: the base table's sketch for that column,
            # capped by the current estimated cardinality
            j_sketches = [ndv[x][jk] for x in joined if jk in ndv[x]]
            j_ndv = min(cur, max(j_sketches)) if j_sketches else cur
            est = max(1, (cur * n[t]) // max(1, max(j_ndv, ndv[t][tk])))
            candidates.append((est, e, (t, tk, jk)))
        if not candidates:
            raise ValueError(
                f"edge set does not connect {sorted(set(tables) - joined)} "
                "to the joined tree"
            )
        est, e, pick = min(candidates, key=lambda c: (c[0], str(c[1])))
        remaining.remove(e)
        a, ka, b, kb = e
        t, tk, jk = pick
        right = rels[t].read(spark, filters.get(t))
        bcast = n[t] <= broadcast_threshold_rows
        right_in = F.broadcast(right) if bcast else right
        df = df.join(right_in, on=F.col(jk) == F.col(tk), how="inner")
        joined.add(t)
        cur = est
        steps.append(
            {
                "edge": e,
                "table": t,
                "rows": n[t],
                "ndv_used": {jk: None, tk: ndv[t][tk]},
                "strategy": "broadcast" if bcast else "sort_merge",
                "est_rows_out": est,
            }
        )

    if joined != set(tables):
        raise ValueError(
            f"edge set does not connect {sorted(set(tables) - joined)} "
            "to the joined tree"
        )
    facts = {
        "fact_table": fact,
        "fact_rows": n[fact],
        "order": [fact] + [s["table"] for s in steps if "table" in s],
        "steps": steps,
        "broadcasts": sum(1 for s in steps if s["strategy"] == "broadcast"),
        "row_counts": n,
    }
    return df, facts
