"""Join planning from table statistics: ``plan_join_tree`` and its inputs.

Two statistics drive the planner, for versioned and plain-parquet tables
alike:

- ROW COUNTS come from parquet footers, no data pages read. A versioned
  table sums the footers of its head manifest's files (``plan_files``
  prunes them first under a filter); plain parquet sums the footers of
  its file listing (row-group stats prune under a filter).
- NDV (distinct counts of the join keys) comes from one column-pruned
  ``approx_count_distinct`` pass (Spark's JVM-side HLL++) over the
  table's files, cached for the session and keyed by the file set's
  (path, mtime, size) fingerprint. A versioned table's file set is its
  head manifest's ``files``; data files are immutable and every commit
  names new ones, so a new version is a new cache key. Nothing is
  written beside the table: raw inputs may be read-only (the testdata
  mount is), and nothing outlives the process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.sources import versioned

#: Session-lifetime NDV cache, keyed by the table path and its file list's
#: (path, mtime, size) fingerprint. A rewrite of any file, or a commit
#: that changes a versioned table's file set, changes the fingerprint and
#: invalidates exactly that table's entry.
_NDV_CACHE: dict[tuple, dict[str, int]] = {}


def _ndv(
    spark: SparkSession, path: str, files: list[str], cols: tuple[str, ...]
) -> dict[str, int]:
    """ANALYZE-on-demand: one column-pruned pass computing
    ``approx_count_distinct`` for every requested column at once, cached
    for the session (see ``_NDV_CACHE``). Only the key columns are
    scanned — at 100 TB this reads the key columns' pages once per
    session, not per query. NULLs are not counted; an all-NULL column
    reads 0."""
    fp = tuple(
        (f, os.path.getmtime(f), os.path.getsize(f)) for f in sorted(files)
    )
    cached = _NDV_CACHE.setdefault((os.path.realpath(path), fp), {})
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

    - VERSIONED table (has a committed manifest): its files are the head
      manifest's ``files``; exact footer row counts via the manifest,
      filter pruning via ``plan_files`` footer stats.
    - PLAIN PARQUET file/directory: its files are the listing; footer
      row counts via the listing, row-group stats prune under a filter.

    Both kinds take NDV from the session-cached pass over their files
    (``_ndv``).

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
        if self.versioned:
            files = versioned._head_manifest(self.path)["files"]
            return [os.path.join(self.path, f) for f in files]
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

        files = self._files()
        if not files:
            return []
        return list(pq.ParquetFile(files[0]).schema_arrow.names)

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

    def ndv(self, spark: SparkSession, alias_cols) -> dict[str, int]:
        src = tuple(sorted({self.src_of(c) for c in alias_cols}))
        est = _ndv(spark, self.path, self._files(), src)
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
    filters: dict[str, dict] | None = None,
    predicates: list[str] | None = None,
):
    """Cost-based LEFT-DEEP ordering + per-edge strategy for a 3+ table
    equi-join, driven entirely by table statistics: exact footer row
    counts pick the fact table (largest — always the streaming probe side,
    never broadcast) and the build-side strategy per edge; per-column NDV
    (the session-cached ``approx_count_distinct`` pass, ``_ndv``) drives
    the System-R output-cardinality estimate
    ``|A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k))`` that orders the
    remaining joins greedily (most-reducing edge first). This is the
    decision Catalyst cannot make for manifest-pinned file lists: its
    size-in-bytes estimates see whatever the scan relation reports, not
    the manifest's exact knowledge — and with the broadcast threshold off
    (or file sizes misreported) it plans shuffle joins for KB dimensions.
    Reference analog: the optimization guide's filter-before-join +
    small-dimension broadcast guidance
    (``sql/athena/07_optimization_guide.sql:193-234``), automated from
    table statistics instead of hand-written per query.

    ``tables``: name -> versioned table path, plain-parquet path, or a
    ``{"path", "select": {src: alias}}`` spec (see :class:`_Relation`;
    ``select`` lets one base table join the plan twice under different
    roles). ``edges``: equi-join conditions ``(table_a, key_a,
    table_b, key_b)`` — or pass ``predicates`` (``"l_orderkey =
    o_orderkey"`` strings, the form a SQL frontend's ON conjunction
    yields) and the edge list is derived by resolving each column to its
    owning table (:func:`edges_from_predicates`). The edge set must
    connect all tables (tree or cyclic — a cyclic edge whose both sides
    are already joined is applied as a post-filter). A key whose NDV
    reads 0 (all NULL) falls back to the table's row count
    (assume-unique — conservative for dimension keys).

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
        st = rel.ndv(spark, cols)
        # assume-unique fallback for a 0 estimate; cap at the (possibly
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
            # joined-side key NDV: the base table's estimate for that column,
            # capped by the current estimated cardinality
            j_ndvs = [ndv[x][jk] for x in joined if jk in ndv[x]]
            j_ndv = min(cur, max(j_ndvs)) if j_ndvs else cur
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
