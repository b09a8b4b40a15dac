"""Manifest-based versioned table: atomic commits, time travel, rollback,
vacuum — the transactional-lake tier on plain parquet.

The reference manages its processed zone as mutable S3 prefixes plus
lifecycle rules (``infrastructure/terraform/s3.tf``, and the rewrite-affected-
prefixes correction pattern in ``src/lambda/data_processing``); the failure
mode at scale is that readers can observe half-written prefixes and there is
no way to reproduce "the table as of yesterday's training run". This module
re-expresses that zone as an immutable-file + commit-manifest table (the
Delta/Iceberg core idea, built here on nothing but parquet and atomic
file creation):

- **Data files are immutable.** Every commit writes NEW parquet files under
  ``data/``; nothing is ever overwritten in place.
- **A commit is one atomically-published JSON manifest** listing the table's
  complete active file set. The manifest is written whole into a temp file
  and hard-linked to the next version's name — two racing writers cannot
  both win, the loser gets ``CommitConflict`` (optimistic concurrency, no
  locks), and no reader ever sees a partly written manifest.
- **Readers resolve a manifest once** and then read only its listed files:
  a reader holds a consistent snapshot no matter what commits land while it
  runs, and at 100 TB the read plans from a KB–MB manifest instead of
  listing millions of objects (directory listing is the scale killer this
  design removes — same motivation as the reference's partition-pruning
  guidance, ``sql/athena/07_optimization_guide.sql:31-76``).
- **Time travel** = resolve an older manifest. **Rollback** = a new commit
  whose file set is copied from an older manifest (no data movement).
- **Vacuum** deletes data files no retained manifest references — the only
  operation that removes bytes, and it never touches the retained history.

Schema evolution is additive: reads use parquet schema merging, so columns
added by later commits surface as nulls for older files.

**One write path.** Every writer — ``commit``, ``rollback``, ``merge_into``,
``delete_where``, the inverted index's refresh and compaction
(``invindex.py``) and the view cursor stamp (``ivm.py``) — goes through
the same two private steps, and nothing outside this module builds a
manifest or names a txn dir:

1. :func:`_stage` writes a DataFrame into a fresh
   ``data/v{version:09d}-{uuid12}[-tag]`` txn dir and describes its parquet
   files (footer stats, blooms). Rollback and the cursor stamp stage
   nothing.
2. :func:`_publish_version` assembles the manifest over the parent
   manifest the caller already holds and publishes it through
   :func:`_publish`, the only commit point.

The manifest, ``_commits/{version:09d}.json``, always carries ``version``,
``parent``, ``mode``, ``files``, ``n_files``, ``stats``, ``blooms`` and
``committed_at``. The snapshot's own keys — ``schema``, ``tombstones`` and
the cursors ``batch_id``, ``source_version``, ``index_n_docs`` and
``index_sum_dl`` — are inherited from the manifest the file set comes from
(the parent; the restored version for a rollback) unless the writer sets
them, so every cursor read is one read of the head manifest. Writers add
their own keys on top (``rows_*``, ``rolled_back_to``, ``merge_on``). Kept
files carry their stats and blooms; files a merge, delete or index
compaction rewrites get stats on every column the parent records stats
for, plus the merge keys, and blooms on every column the parent blooms.
``_commits/`` holds nothing but the manifests and the ``_head.json`` hint.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer published this version first — re-read and retry."""


class SchemaMismatch(ValueError):
    """An append changes the TYPE of an existing column. Parquet schema
    merging cannot reconcile conflicting types at read time, so the write
    is rejected up front (Delta-style write-time enforcement) instead of
    landing a file that breaks every future read."""


def _commits_dir(path: str) -> str:
    return os.path.join(path, "_commits")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_commits_dir(path), f"{version:09d}.json")


def _list_versions(path: str) -> list[int]:
    d = _commits_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    )


def _read_manifest(path: str, version: int) -> dict:
    mp = _manifest_path(path, version)
    if not os.path.exists(mp):
        have = _list_versions(path)
        raise FileNotFoundError(
            f"version {version} of {path} does not exist "
            f"(available: {have[:3]}..{have[-3:] if have else []})"
        )
    with open(mp) as fh:
        return json.load(fh)


def _head_path(path: str) -> str:
    return os.path.join(_commits_dir(path), "_head.json")


def _write_head(path: str, version: int) -> None:
    """Best-effort head HINT (atomic replace). Correctness never depends on
    it: the manifest's atomic link is the commit point; readers probe
    forward from the hint, so a stale hint (writer crashed between publish
    and hint update, or two writers raced) costs extra probe reads, never
    a wrong answer."""
    hp = _head_path(path)
    tmp = f"{hp}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump({"version": int(version)}, fh)
    os.replace(tmp, hp)


def latest_version(path: str) -> int | None:
    """Newest committed version — O(1) manifest-chain reads: start from the
    ``_head.json`` hint and probe forward until the first missing manifest
    (versions are dense). Streaming sinks commit once per micro-batch, so
    chains reach thousands of manifests fast; without the hint every
    commit/read would pay a full directory listing (the metadata wall the
    reference avoids with partition projection,
    ``sql/athena/02_create_raw_tables.sql:47-94``). Tables written before
    the hint existed (or with a deleted hint) fall back to one listing —
    and the next publish repairs the hint."""
    hp = _head_path(path)
    v = None
    if os.path.exists(hp):
        try:
            with open(hp) as fh:
                v = int(json.load(fh)["version"])
        except (ValueError, KeyError, TypeError):  # torn or garbage hint
            v = None
    if v is None or not os.path.exists(_manifest_path(path, v)):
        versions = _list_versions(path)
        return versions[-1] if versions else None
    while os.path.exists(_manifest_path(path, v + 1)):
        v += 1
    return v


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    bloom_fpp: float = 0.01,
    meta: dict | None = None,
    retries: int = 0,
) -> int:
    """Write ``df`` as a new table version; returns the version number.

    ``mode='append'`` extends the parent's file set; ``'overwrite'`` replaces
    it. The data write happens BEFORE publication, into a commit-unique
    subdirectory — a crash mid-write leaves an unreferenced directory (vacuum
    garbage), never a torn table. Publication is a single atomic,
    exclusive link of the manifest, so concurrent writers serialize:
    exactly one wins version N, the other raises ``CommitConflict``.

    ``stats_cols`` records per-file min/max for those columns in the
    manifest (read from the parquet FOOTERS of the commit's new files —
    no data scan), enabling manifest-level file skipping at read time
    (``read(..., where=...)``). Cluster the data on the stats columns
    first (``repartitionByRange`` / the Z-order writer in
    ``operators/layout.py``) so per-file ranges are tight — stats on
    randomly-scattered data prune nothing, exactly like Z-order locality.

    ``bloom_cols`` additionally records a per-file bloom filter of each
    listed column's distinct values (int/string key columns; ~1.2 KB per
    1k keys at ``bloom_fpp``), which ``plan_files`` probes for POINT
    predicates (lo == hi) — the file skip that works on high-cardinality
    keys whose per-file [min, max] spans the whole domain, where range
    stats prune nothing (Delta's bloom-filter-index role). Blooms carry
    with untouched files through append/rollback/merge/delete, and the
    files a merge or delete rewrites get blooms on the same columns.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_commits_dir(path), exist_ok=True)

    parent = latest_version(path)
    pm = None if parent is None else _read_manifest(path, parent)

    # write-time schema enforcement, BEFORE the data write (fail fast; a
    # rebase retry re-validates against the new parent below)
    new_schema = _df_schema(df)
    if mode == "append" and pm is not None:
        _check_append_schema(new_schema, pm.get("schema"))

    staged = _stage(
        path,
        0 if parent is None else parent + 1,
        df,
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        bloom_fpp=bloom_fpp,
    )

    # publish with bounded retry-with-REBASE: the data files are written
    # exactly once; a losing publish race only re-reads the new head and
    # re-assembles the manifest on top of it (append folds onto the
    # winner's file set; overwrite replaces whatever won). No data motion,
    # no orphaned rows — the loser's work is preserved, not redone.
    attempt = 0
    while True:
        if mode == "append" and pm is not None:
            keep = pm["files"]
            schema = _check_append_schema(new_schema, pm.get("schema"))
        else:
            keep, schema = [], new_schema
        try:
            return _publish_version(
                path,
                pm,
                mode,
                keep=keep,
                new=staged,
                extra={"schema": schema, **(meta or {})},
            )
        except CommitConflict:
            if attempt >= retries:
                raise
            attempt += 1
            pm = _head_manifest(path)


def _stage(
    path: str,
    version: int,
    df: DataFrame,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    bloom_fpp: float = 0.01,
    tag: str = "",
) -> dict:
    """Write ``df`` into a fresh txn dir for ``version`` and describe it:
    ``{dir, files, stats, blooms}`` with table-relative file paths and the
    footer stats / blooms of each new file. The dir is referenced by no
    manifest until :func:`_publish_version` lands, so a crash or a lost
    race leaves garbage that vacuum reaps, never a torn table."""
    txn = f"v{version:09d}-{uuid.uuid4().hex[:12]}" + (f"-{tag}" if tag else "")
    txn_dir = os.path.join(_data_dir(path), txn)
    df.write.mode("error").option("compression", "snappy").parquet(txn_dir)
    files = sorted(
        os.path.join("data", txn, f) for f in os.listdir(txn_dir) if f.endswith(".parquet")
    )
    stats = (
        {f: _footer_stats(os.path.join(path, f), stats_cols) for f in files}
        if stats_cols
        else {}
    )
    blooms = (
        {
            f: b
            for f in files
            if (b := _file_blooms(os.path.join(path, f), bloom_cols, bloom_fpp))
        }
        if bloom_cols
        else {}
    )
    return {"dir": txn_dir, "files": files, "stats": stats, "blooms": blooms}


#: Manifest keys that describe the snapshot rather than the commit:
#: :func:`_publish_version` carries them from the manifest the file set
#: comes from. ``batch_id`` is the newest micro-batch folded into the
#: snapshot; ``source_version`` the newest source version folded into a
#: view or index, whose running BM25 stats are the ``index_*`` keys.
_SNAPSHOT_KEYS = (
    "schema",
    "tombstones",
    "batch_id",
    "source_version",
    "index_n_docs",
    "index_sum_dl",
)


def _head_manifest(path: str) -> dict | None:
    """The head manifest; None for a table with no committed version."""
    v = latest_version(path)
    return None if v is None else _read_manifest(path, v)


def _publish_version(
    path: str,
    pm: dict | None,
    mode: str,
    keep: list[str] | tuple = (),
    new: dict | None = None,
    carry_from: dict | None = None,
    extra: dict | None = None,
) -> int:
    """Assemble the next version's manifest on top of the parent manifest
    ``pm`` (None for a table's first version) and publish it; returns the
    version. ``keep`` lists the files carried over, with the stats and
    blooms ``carry_from`` (default ``pm``) records for them; ``new`` is a
    :func:`_stage` result appended after them. Every key of
    :data:`_SNAPSHOT_KEYS` that ``extra`` does not set is inherited from
    the same source manifest when it has one: the schema, the tombstone
    mask and the cursors describe the snapshot, so they travel with its
    file set — a maintenance commit keeps the cursor and the mask (the
    mask stays valid over rewritten files: the gen column rides the
    data), and a rollback restores the old version's."""
    src = (pm if carry_from is None else carry_from) or {}
    extra = extra or {}
    kept = set(keep)
    files = list(keep)
    stats = {f: s for f, s in src.get("stats", {}).items() if f in kept}
    blooms = {f: b for f, b in src.get("blooms", {}).items() if f in kept}
    if new is not None:
        files += new["files"]
        stats.update(new["stats"])
        blooms.update(new["blooms"])
    parent = None if pm is None else pm["version"]
    version = 0 if parent is None else parent + 1
    manifest = {"version": version, "parent": parent, "mode": mode}
    manifest.update((k, src[k]) for k in _SNAPSHOT_KEYS if k not in extra and k in src)
    manifest.update(
        files=files,
        n_files=len(files),
        stats=stats,
        blooms=blooms,
        committed_at=time.time(),
        **extra,
    )
    _publish(path, version, manifest)
    return version


def _rewrite_cols(pm: dict, keys: list[str] | tuple = ()) -> dict:
    """What the files a merge, delete or index compaction writes record,
    as :func:`_stage` keyword arguments: stats on every column the parent
    records stats for, plus the merge keys, and blooms on every column the
    parent blooms — so a rewrite never loses the table's pruning power."""
    return {
        "stats_cols": tuple(
            sorted({c for s in pm.get("stats", {}).values() for c in s} | set(keys))
        ),
        "bloom_cols": tuple(sorted({c for b in pm.get("blooms", {}).values() for c in b})),
    }


def _footer_rows(path: str, files: list[str]) -> int:
    """Total rows of ``files`` from parquet footer metadata — no scan."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files)


def _scan(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    """Schema-merging scan of table-relative ``files``: additively evolved
    columns read back as NULL for older files."""
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, f) for f in files]
    )


def _footer_stats(file_path: str, cols: tuple[str, ...]) -> dict:
    """Per-file min/max from parquet footer metadata — no data pages read.
    Only JSON-portable scalar types are recorded; anything else is skipped
    (absent stats make pruning conservative, never wrong)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file_path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for col in cols:
        idx = names.get(col)
        if idx is None:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None and isinstance(lo, (int, float, str)) and not isinstance(lo, bool):
            out[col] = [lo, hi]
    return out


def _bloom_canon(v) -> str | None:
    """Canonical probe/build encoding for bloom-indexable values: ints and
    strings only (the point-lookup key types); floats/bools/None return
    None, which disables the bloom for the file (conservative)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    return None


def _bloom_positions(canon: str, m_bits: int, k: int) -> list[int]:
    """k bit positions from ⌈k/8⌉ blake2b digests (8 bytes per position,
    up to 8 positions per 64-byte digest) — ONE hash invocation for the
    common k ≤ 8 instead of one per position. The scheme is internal to
    the manifest (build and probe share this function; blooms are rebuilt
    whenever a file is rewritten), and per-position bits stay independent
    uniform, so the fpp math in ``optimal_params`` is unchanged. Driver-
    side cost matters here: index refreshes hash every distinct key of
    every new file in the commit path."""
    import hashlib

    need = 8 * k
    raw = b"".join(
        hashlib.blake2b(
            canon.encode(),
            digest_size=min(64, need - 64 * chunk),
            salt=chunk.to_bytes(8, "little"),
        ).digest()
        for chunk in range((need + 63) // 64)
    )
    return [
        int.from_bytes(raw[8 * i : 8 * i + 8], "big") % m_bits for i in range(k)
    ]


def _bloom_build(values, fpp: float) -> dict | None:
    """{'k', 'm', 'b64'} bloom of the values, or None if any value is not
    bloom-indexable. Sized for the file's distinct count at ``fpp``."""
    import base64
    import struct as _struct

    from aws_flight_data_pipeline_spark.functions.bloom import optimal_params

    canon = set()
    # dedupe RAW values before canonicalizing: postings files carry each
    # token once per document, so the column is far from distinct and the
    # canon pass would otherwise run once per posting. bool is canon-None
    # (disables the bloom) and True == 1 in a set, so bools are routed
    # straight to canon rather than deduped against ints.
    seen: set = set()
    for v in values:
        if isinstance(v, bool) or v not in seen:
            if not isinstance(v, bool):
                seen.add(v)
            c = _bloom_canon(v)
            if c is None:
                return None
            canon.add(c)
    m_bits, k = optimal_params(len(canon), fpp)
    words = [0] * (m_bits // 64)
    for c in canon:
        for p in _bloom_positions(c, m_bits, k):
            words[p // 64] |= 1 << (p % 64)
    packed = _struct.pack(f"<{len(words)}Q", *words)
    return {"k": k, "m": m_bits, "b64": base64.b64encode(packed).decode()}


def _bloom_might_contain(bloom: dict, value) -> bool:
    import base64
    import struct as _struct

    c = _bloom_canon(value)
    if c is None:
        return True  # unindexable probe value: never skip
    raw = base64.b64decode(bloom["b64"])
    words = _struct.unpack(f"<{len(raw) // 8}Q", raw)
    return all(
        words[p // 64] & (1 << (p % 64)) for p in _bloom_positions(c, bloom["m"], bloom["k"])
    )


def _file_blooms(file_path: str, cols: tuple[str, ...], fpp: float) -> dict:
    """Per-column blooms for one data file — a column-pruned pyarrow read
    of just the indexed columns (at cluster scale this rides the write
    task; the manifest payload is what matters: ~1.2 KB per 1k distinct
    keys at 1%)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(file_path, columns=[c for c in cols])
    out = {}
    for c in cols:
        if c not in tbl.column_names:
            continue
        # vectorized distinct in Arrow BEFORE crossing to Python: postings
        # files carry each token once per document, so the raw column is
        # far from unique and shipping every value to a Python-set dedupe
        # would dominate the commit path
        b = _bloom_build(tbl[c].unique().to_pylist(), fpp)
        if b is not None:
            out[c] = b
    return out


def plan_files(
    path: str, version: int | None = None, where: dict | None = None
) -> tuple[list[str], int]:
    """The file list a read would scan: (kept relative paths, n_skipped).

    ``where`` maps column -> (lo, hi) inclusive ranges; a file is skipped
    only when its recorded [min, max] for that column is provably disjoint
    from the requested range. Files without recorded stats for a predicate
    column are always kept (conservative). This is driver-side arithmetic
    over the KB-scale manifest — at 100 TB it removes whole files before
    Spark ever plans the scan, the manifest-level complement of the parquet
    reader's row-group pruning.
    """
    if version is None:
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"{path} has no committed versions")
    m = _read_manifest(path, version)
    stats = m.get("stats", {})
    blooms = m.get("blooms", {})
    kept, skipped = [], 0
    for f in m["files"]:
        fs = stats.get(f, {})
        fb = blooms.get(f, {})
        drop = False
        for col, (lo, hi) in (where or {}).items():
            rng = fs.get(col)
            if rng is not None and (rng[1] < lo or rng[0] > hi):
                drop = True
                break
            # point lookups also consult the per-file bloom — the skip that
            # works when every file's [min, max] spans the whole key domain
            bl = fb.get(col)
            if bl is not None and lo == hi and not _bloom_might_contain(bl, lo):
                drop = True
                break
        if drop:
            skipped += 1
        else:
            kept.append(f)
    return kept, skipped


def _df_schema(df: DataFrame) -> list[dict]:
    return [
        {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
        for f in df.schema.fields
    ]


def _check_append_schema(new: list[dict], old: list[dict] | None) -> list[dict]:
    """Write-time schema enforcement + additive evolution for appends.

    Columns present in both MUST keep their type (else SchemaMismatch —
    a type flip would poison every future merged-schema read). New
    columns are allowed (pre-evolution files read them back as NULL);
    omitted columns are allowed (the new files read THEM back as NULL).
    Returns the evolved table schema: old order, new columns appended.
    ``old`` is None for legacy manifests that never recorded a schema —
    nothing to validate against, the append records one going forward.
    """
    if old is None:
        return list(new)
    old_types = {c["name"]: c["type"] for c in old}
    for c in new:
        have = old_types.get(c["name"])
        if have is not None and have != c["type"]:
            raise SchemaMismatch(
                f"column {c['name']!r} is {have} in the table but "
                f"{c['type']} in the append; cast it or overwrite the table"
            )
    known = set(old_types)
    return list(old) + [c for c in new if c["name"] not in known]


def _publish(path: str, version: int, manifest: dict) -> None:
    """The commit point: the manifest is written whole into a temp file in
    ``_commits/``, then hard-linked to the version's name. The link is
    atomic and fails when the name exists, so exactly one writer wins the
    version and a failure partway through the write publishes nothing.
    Then the head hint."""
    mp = _manifest_path(path, version)
    tmp = f"{mp}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        try:
            os.link(tmp, mp)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} of {path} was committed concurrently"
            ) from e
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    _write_head(path, version)


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Snapshot read: latest version, or time travel to ``version``.

    The returned plan scans exactly the manifest's file list — commits that
    land after this call do not change what this DataFrame reads, and files
    a later overwrite dropped are still read for the pinned version (until
    vacuumed). ``mergeSchema`` makes additive column evolution read back as
    nulls for pre-evolution files.

    ``where`` = {col: (lo, hi)} inclusive ranges: files whose manifest
    stats are provably outside the range are dropped from the scan
    (``plan_files``), and the equivalent row filter is applied so the
    result is exactly the filtered table — manifest file skipping plus
    parquet predicate pushdown for whatever survives.
    """
    if version is None:
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"{path} has no committed versions")
    kept, _ = plan_files(path, version, where)
    if not kept:
        # every file pruned: preserve result semantics with an empty frame
        # over the version's schema
        all_files, _ = plan_files(path, version)
        return _scan(spark, path, all_files).where(F.lit(False))
    files = [os.path.join(path, f) for f in kept]
    missing = [f for f in files if not os.path.exists(f)]
    if missing:
        raise FileNotFoundError(
            f"version {version} of {path} references vacuumed data "
            f"(e.g. {missing[0]}); time travel is bounded by vacuum retention"
        )
    df = _scan(spark, path, kept)
    for col, (lo, hi) in (where or {}).items():
        df = df.where(F.col(col).between(lo, hi))
    return df


def rollback(path: str, to_version: int) -> int:
    """Restore an older snapshot as a NEW version (no data movement).

    History is append-only — rollback never deletes the versions it skips
    over, it just republishes the old file set at the head, with the old
    version's schema, tombstones and cursors: a view or index rolled back
    refreshes forward from the restored cursor.
    """
    old = _read_manifest(path, to_version)
    return _publish_version(
        path,
        _head_manifest(path),
        "rollback",
        keep=old["files"],
        carry_from=old,
        extra={"rolled_back_to": to_version},
    )


def history(spark: SparkSession, path: str) -> DataFrame:
    """The commit log as a DataFrame (newest first)."""
    rows = [
        (
            m["version"],
            m["parent"],
            m["mode"],
            m.get("rolled_back_to"),
            m["n_files"],
            float(m["committed_at"]),
        )
        for m in (_read_manifest(path, v) for v in _list_versions(path))
    ]
    return (
        spark.createDataFrame(
            rows,
            "version long, parent long, mode string, rolled_back_to long, "
            "n_files long, committed_at double",
        )
        .orderBy("version", ascending=False)
    )


def vacuum(path: str, keep_last: int = 2, min_age_seconds: float = 600.0) -> dict:
    """Drop history beyond the last ``keep_last`` versions and delete every
    data file none of the retained manifests references.

    The referenced-set computation is driver-side set arithmetic over file
    NAMES (strings — MBs even for millions of files), not file contents;
    deletion is the only byte-destructive operation in the module and it can
    never touch a retained version's data.

    ``min_age_seconds`` is the concurrent-writer grace period (Delta's
    retention-hours idea): a writer that has finished its data write but not
    yet published its manifest owns files referenced by NO manifest — an
    ungated vacuum would delete them out from under the publish. Files
    younger than the grace are kept; only set 0 when no writer can be
    in flight (tests, single-process maintenance windows).

    Cursors survive any retention: the head manifest carries them
    (``batch_id``, ``source_version``, ``index_*`` are inherited by every
    commit), so dropping older manifests loses no exactly-once guard.
    """
    if keep_last < 1:
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): retaining zero "
            "manifests would drop the live head and destroy the table"
        )
    versions = _list_versions(path)
    if not versions:
        return {"versions_dropped": 0, "files_deleted": 0}
    keep = versions[-keep_last:]
    drop = [v for v in versions if v not in keep]

    referenced: set[str] = set()
    for v in keep:
        mv = _read_manifest(path, v)
        referenced.update(mv["files"])
        # side-files a manifest references outside its data file list
        # (e.g. the inverted index's tombstone parquets) are live too
        referenced.update(mv.get("tombstones", []))

    now = time.time()
    files_deleted = 0
    data_root = _data_dir(path)
    for txn in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        txn_dir = os.path.join(data_root, txn)
        for f in sorted(os.listdir(txn_dir)):
            rel = os.path.join("data", txn, f)
            full = os.path.join(txn_dir, f)
            if (
                f.endswith(".parquet")
                and rel not in referenced
                and now - os.path.getmtime(full) >= min_age_seconds
            ):
                os.remove(full)
                files_deleted += 1
        if not any(n.endswith(".parquet") for n in os.listdir(txn_dir)):
            # leftover non-data garbage: crashed writes leave _temporary/
            # SUBDIRECTORIES and _SUCCESS markers — rmtree for dirs, and
            # the same min_age grace as data files (an in-flight writer
            # owns young entries)
            for leftover in os.listdir(txn_dir):
                lp = os.path.join(txn_dir, leftover)
                if now - os.path.getmtime(lp) < min_age_seconds:
                    continue
                if os.path.isdir(lp):
                    shutil.rmtree(lp, ignore_errors=True)
                else:
                    os.remove(lp)
            if not os.listdir(txn_dir):
                os.rmdir(txn_dir)
    for v in drop:
        os.remove(_manifest_path(path, v))
    return {"versions_dropped": len(drop), "files_deleted": files_deleted}


def optimize(
    spark: SparkSession,
    path: str,
    cluster_by: tuple[str, ...] = (),
    n_files: int = 16,
    bits: int = 8,
    stats_cols: tuple[str, ...] | None = None,
    bloom_cols: tuple[str, ...] = (),
    bloom_fpp: float = 0.01,
) -> int:
    """OPTIMIZE: rewrite the latest snapshot compacted (and optionally
    clustered) as a new overwrite commit — content-identical, atomically
    published, with prior versions still time-travelable.

    ``cluster_by=()`` compacts to ``n_files``; one column range-clusters
    (tight per-file min/max on that column); two columns Z-order
    (operators/layout.py — per-file ranges tighten on BOTH dimensions).
    ``stats_cols`` defaults to ``cluster_by``, so the rewrite feeds the
    manifest exactly the stats its layout makes prunable: this is the
    OPTIMIZE ZORDER + collect-stats pairing on the transactional tier.
    Readers racing the optimize keep their snapshot (immutable files +
    pinned manifest); the swap is the manifest publication.
    """
    cur = read(spark, path)
    if stats_cols is None:
        stats_cols = tuple(cluster_by)
    if len(cluster_by) >= 2:
        from aws_flight_data_pipeline_spark.operators.layout import zorder_key

        out = (
            zorder_key(cur, cluster_by[0], cluster_by[1], bits)
            .repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    elif len(cluster_by) == 1:
        out = cur.repartitionByRange(n_files, F.col(cluster_by[0])).sortWithinPartitions(
            cluster_by[0]
        )
    else:
        out = cur.repartition(n_files)
    return commit(
        out,
        path,
        mode="overwrite",
        stats_cols=stats_cols,
        # an OPTIMIZE rewrite replaces every file, so per-file blooms must
        # be rebuilt here or the point-lookup skip is lost table-wide
        bloom_cols=bloom_cols,
        bloom_fpp=bloom_fpp,
    )


def _batch_committed(path: str, batch_id: int) -> bool:
    """Whether micro-batch ``batch_id`` is already folded into the table:
    one read of the head manifest, whose ``batch_id`` is the newest batch
    the snapshot holds. A restarted query re-runs only its last
    uncommitted batch and no table is written by two queries, so the
    high-water mark answers exactly what the set of committed ids would."""
    m = _head_manifest(path)
    return m is not None and m.get("batch_id") is not None and batch_id <= m["batch_id"]


def commit_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    stats_cols: tuple[str, ...] = (),
    mode: str = "append",
) -> int | None:
    """Idempotent per-micro-batch commit: the manifest is stamped with
    ``batch_id``, atomically with the data, and every later commit
    inherits the stamp, so a replay of an already-committed batch is a
    no-op — foreachBatch's at-least-once delivery becomes an EXACTLY-ONCE
    visible table, and the guard survives maintenance commits and vacuum
    retention. A crash after the data write but before publication leaves
    only unreferenced files (vacuum garbage), never duplicate rows."""
    if _batch_committed(path, batch_id):
        return None
    return commit(
        batch_df,
        path,
        mode=mode,
        stats_cols=stats_cols,
        meta={"batch_id": int(batch_id)},
    )


def _start_foreach_batch(
    stream: DataFrame,
    process_batch,
    checkpoint_path: str,
    trigger: dict | None = None,
):
    """Start ``process_batch(batch_df, batch_id)`` as a foreachBatch query
    over ``stream``, checkpointed at ``checkpoint_path``. ``trigger``
    defaults to availableNow: drain what has landed, then stop. Every
    foreachBatch stream in the engine starts here."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def streaming_versioned_sink(
    values: DataFrame,
    path: str,
    checkpoint_path: str,
    stats_cols: tuple[str, ...] = (),
    trigger: dict | None = None,
):
    """Stream into a versioned table: one append commit per micro-batch,
    manifest-stamped with the batch id so at-least-once replays are
    skipped (exactly-once visibility on plain parquet). Each commit is a
    consistent snapshot — downstream batch readers time-travel across
    micro-batch boundaries, and vacuum retention bounds history growth."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit_stream_batch(batch_df, batch_id, path, stats_cols=stats_cols)

    return _start_foreach_batch(values, process_batch, checkpoint_path, trigger)


def streaming_upsert_sink(
    values: DataFrame,
    path: str,
    checkpoint_path: str,
    on: tuple[str, ...],
    seq_col: str | None = None,
    trigger: dict | None = None,
):
    """Stream-apply upserts into a versioned table: each micro-batch is
    collapsed to one row per key and merged via :func:`merge_into`, so the
    table converges to one row per key no matter how updates straddle
    micro-batches — the foreachBatch+MERGE pattern Structured Streaming
    uses for CDC apply onto lakehouse tables.

    ``seq_col`` names the CDC ordering column (event timestamp / LSN):
    within a batch the row with the GREATEST ``seq_col`` per key wins
    (``max_by`` — one hash aggregate, no sort). Without it the per-key
    pick is arbitrary (``dropDuplicates``) — only safe when a key cannot
    repeat within one micro-batch.

    Exactly-once: the merge manifest is stamped with the batch id
    (inherited by later commits, vacuum-safe), so an at-least-once replay
    of a committed batch is skipped; a no-op merge publishes nothing, and
    replaying a no-op is itself a no-op.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if _batch_committed(path, batch_id):
            return
        if seq_col is not None:
            cols = batch_df.columns
            latest = (
                batch_df.groupBy(*on)
                .agg(
                    F.max_by(
                        F.struct(*[c for c in cols if c not in on]), F.col(seq_col)
                    ).alias("_row")
                )
                .select(*on, "_row.*")
                .select(*cols)
            )
        else:
            latest = batch_df.dropDuplicates(list(on))
        merge_into(
            batch_df.sparkSession,
            path,
            latest,
            on=on,
            meta={"batch_id": int(batch_id)},
        )

    return _start_foreach_batch(values, process_batch, checkpoint_path, trigger)


#: Above this many distinct source keys, collecting them to probe per-file
#: blooms costs more than the rewrite it might save — range pruning alone
#: applies (the bloom path is for TRICKLE merges into wide key domains).
_MERGE_BLOOM_PROBE_CAP = 4096


def _bloom_prune_merge_targets(
    manifest: dict,
    affected: list[str],
    source: DataFrame,
    keys: list[str],
    n_distinct: int,
) -> list[str]:
    """Second-stage MERGE target pruning: probe each range-affected file's
    per-file bloom with the source's (bounded) key set. Range stats prune
    nothing when sparse keys span the domain — the realistic trickle-CDC
    shape — but a bloom answers point membership per file. A file stays a
    rewrite target only if some source row is a MAYBE in every key
    column's bloom; blooms have no false negatives, so a pruned file
    provably holds no matched row (false positives only cost an
    unnecessary rewrite, never a wrong answer). Files without blooms for
    a key column are kept conservatively."""
    if not affected or n_distinct == 0 or n_distinct > _MERGE_BLOOM_PROBE_CAP:
        return affected
    blooms = manifest.get("blooms", {})
    if not any(
        any(c in blooms.get(f, {}) for c in keys) for f in affected
    ):
        return affected  # no key-column blooms anywhere: nothing to probe
    key_rows = [
        tuple(r[c] for c in keys)
        for r in source.select(*keys).distinct().collect()
        if all(r[c] is not None for c in keys)  # NULL keys never match
    ]
    kept = []
    for f in affected:
        fb = blooms.get(f, {})
        cols = [c for c in keys if c in fb]
        if not cols:
            kept.append(f)
            continue
        if any(
            all(
                _bloom_might_contain(fb[c], row[keys.index(c)]) for c in cols
            )
            for row in key_rows
        ):
            kept.append(f)
    return kept



def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: tuple[str, ...],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    meta: dict | None = None,
    retries: int = 0,
) -> dict:
    """See :func:`_merge_into_once`; ``retries`` adds bounded
    retry-with-rebase on :class:`CommitConflict` — a merge that loses the
    publish race re-plans against the NEW head (the affected-file set may
    have changed, so a full re-plan is the only correct rebase for a
    rewrite, unlike append's manifest-only fold). The losing attempt's
    txn directory is unreferenced garbage that vacuum reaps."""
    attempt = 0
    while True:
        try:
            return _merge_into_once(
                spark, path, source, on, when_matched, when_not_matched, meta
            )
        except CommitConflict:
            if attempt >= retries:
                raise
            attempt += 1


def _merge_into_once(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: tuple[str, ...],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    meta: dict | None = None,
) -> dict:
    """MERGE (upsert) via copy-on-write, scoped by manifest stats — the
    transactional-tier twin of the reference's rewrite-affected-prefixes
    correction flow (``src/lambda/data_processing``), with Delta-style
    MERGE semantics on plain parquet.

    ``on`` is the row-identity key; ``source`` must carry at most one row
    per non-null key — ENFORCED: the bounds aggregate also counts
    distinct keys and the merge raises before touching the table if the
    source would fan matched rows out (same precondition as Delta MERGE;
    NULL-keyed rows are exempt because they can never match). Modes: ``when_matched`` in
    ``update | delete | ignore`` (``update`` replaces the WHOLE target row
    with the source row), ``when_not_matched`` in ``insert | ignore``.

    Scale shape (the whole point at 100 TB):

    1. One key-column-only aggregate computes the source's [min, max] per
       key column; manifest stats then prune the target to files whose
       ranges can OVERLAP the source keys (``plan_files`` arithmetic — on
       a key-clustered table a trickle merge rewrites a handful of files
       out of millions). Files without stats are conservatively rewritten.
    2. Matching is an equi join on the key columns only — the probe side
       is the source's projected key set, so the extra accounting passes
       scan just the key columns (parquet column pruning); the single
       full-width pass over affected files is the rewrite itself.
    3. Every other file is carried into the new manifest untouched;
       readers of prior versions keep their snapshot (copy-on-write).

    NULL join semantics: a source row with a NULL key never equi-matches,
    so it inserts (SQL MERGE behavior). Schema evolution is additive —
    source-only columns surface as NULL on carried-forward target rows
    (``unionByName(allowMissingColumns=True)`` + mergeSchema reads).

    Returns ``{version, files_rewritten, files_carried, rows_updated,
    rows_deleted, rows_inserted}``; a no-op merge (nothing matched,
    nothing to insert) publishes nothing and returns the current version.
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update|delete|ignore, got {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert|ignore, got {when_not_matched!r}")
    keys = list(on)
    version = latest_version(path)

    if version is None:
        # empty table: the merge degenerates to the insert branch
        if when_not_matched != "insert":
            return {
                "version": None,
                "files_rewritten": 0,
                "files_carried": 0,
                "rows_updated": 0,
                "rows_deleted": 0,
                "rows_inserted": 0,
            }
        v = commit(source, path, mode="append", meta={"merge_on": keys, **(meta or {})})
        return {
            "version": v,
            "files_rewritten": 0,
            "files_carried": 0,
            "rows_updated": 0,
            "rows_deleted": 0,
            "rows_inserted": _footer_rows(path, _read_manifest(path, v)["files"]),
        }

    m = _read_manifest(path, version)

    # file pruning + row accounting + the documented source-uniqueness
    # precondition, all from ONE key-column aggregate over the source
    # (driver gets back a single row of scalars, never data). NULL-keyed
    # source rows are exempt from the uniqueness check: they can never
    # equi-match, so duplicates among them simply insert (SQL MERGE
    # raises only when multiple source rows hit the same target row).
    all_keyed = F.lit(True)
    for k in keys:
        all_keyed = all_keyed & F.col(k).isNotNull()
    bounds = source.agg(
        *[F.min(k).alias(f"lo_{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"hi_{i}") for i, k in enumerate(keys)],
        F.count(F.lit(1)).alias("n_src"),
        F.count(F.when(all_keyed, 1)).alias("n_keyed"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("n_distinct"),
    ).first()
    if bounds["n_keyed"] != bounds["n_distinct"]:
        raise ValueError(
            "merge_into source carries more than one row per key "
            f"({bounds['n_keyed']} non-null-keyed rows over "
            f"{bounds['n_distinct']} distinct keys on {keys}); matched "
            "target rows would fan out into duplicates - dedupe the "
            "source first (e.g. keep the latest row per key)"
        )
    n_src = int(bounds["n_src"])
    no_op = {
        "version": version,
        "files_rewritten": 0,
        "files_carried": len(m["files"]),
        "rows_updated": 0,
        "rows_deleted": 0,
        "rows_inserted": 0,
    }
    if n_src == 0:
        return no_op

    where = {}
    for i, k in enumerate(keys):
        lo, hi = bounds[f"lo_{i}"], bounds[f"hi_{i}"]
        if lo is not None and isinstance(lo, (int, float, str)) and not isinstance(lo, bool):
            where[k] = (lo, hi)
    affected, _ = plan_files(path, version, where)
    affected = _bloom_prune_merge_targets(
        m, affected, source, keys, int(bounds["n_distinct"])
    )
    aff = set(affected)
    carried = [f for f in m["files"] if f not in aff]

    # one limit-1 probe decides the plan shape; the full accounting
    # counts ride the rewrite pass itself as observed metrics (zero
    # standalone counting jobs)
    src_keys = source.select(*keys)
    tgt = None
    matched_any = False
    if affected:
        tgt = _scan(spark, path, affected)
        matched_any = not tgt.join(src_keys, on=keys, how="left_semi").isEmpty()

    count_n = F.count(F.lit(1)).alias("n")
    if not matched_any or when_matched == "ignore":
        # no target row changes: EVERY file carries and only genuinely new
        # rows are written (a trickle merge into a cold key range is an
        # append, not a table rewrite - and when_matched="ignore" never
        # rewrites at all, it only inserts the unmatched source rows)
        if when_not_matched != "insert":
            return no_op
        if matched_any:
            obs_ins = Observation()
            to_write = source.join(
                tgt.select(*keys), on=keys, how="left_anti"
            ).observe(obs_ins, count_n)
        else:
            obs_ins = None
            to_write = source
        affected, carried = [], m["files"]
        n_updated = n_deleted = 0
        n_matched_rows = 0
    else:
        obs_surv = Observation()
        survivors = tgt.join(src_keys, on=keys, how="left_anti").observe(
            obs_surv, count_n
        )
        tgt_keys = tgt.select(*keys)
        pieces = [survivors]
        if when_matched == "update":
            # matched source rows replace their target rows wholesale
            pieces.append(source.join(tgt_keys, on=keys, how="left_semi"))
        obs_ins = None
        if when_not_matched == "insert":
            obs_ins = Observation()
            pieces.append(
                source.join(tgt_keys, on=keys, how="left_anti").observe(
                    obs_ins, count_n
                )
            )
        to_write = pieces[0]
        for piece in pieces[1:]:
            to_write = to_write.unionByName(piece, allowMissingColumns=True)

    # write-time schema enforcement, same contract as commit(): a merge
    # whose source flips an existing column's type fails BEFORE any data
    # lands, and source-only columns (additive evolution through the
    # unionByName(allowMissingColumns=True) above) are RECORDED in the
    # merge manifest — relying on the parent inheritance here would stamp
    # the pre-merge schema, letting a later append re-introduce the
    # evolved column at a different type past _check_append_schema
    evolved_schema = _check_append_schema(_df_schema(to_write), m.get("schema"))

    staged = _stage(path, version + 1, to_write, **_rewrite_cols(m, keys))

    if affected:
        # matched-rewrite accounting: target rows matched = rows the
        # affected files held (parquet footer metadata, no scan) minus the
        # survivors observed during the write
        n_matched_rows = _footer_rows(path, affected) - int(obs_surv.get["n"])
        n_updated = n_matched_rows if when_matched == "update" else 0
        n_deleted = n_matched_rows if when_matched == "delete" else 0
    n_inserted = (
        int(obs_ins.get["n"])
        if obs_ins is not None
        else (n_src if when_not_matched == "insert" and not affected else 0)
    )
    if n_matched_rows == 0 and n_inserted == 0:
        # nothing actually changed (e.g. insert-if-absent where every
        # source row already existed): publish nothing; the orphan txn
        # dir is unreferenced garbage that vacuum reaps
        shutil.rmtree(staged["dir"], ignore_errors=True)
        return no_op

    new_version = _publish_version(
        path,
        m,
        "merge",
        keep=carried,
        new=staged,
        extra={
            "schema": evolved_schema,
            "rows_updated": n_updated,
            "rows_deleted": n_deleted,
            "rows_inserted": n_inserted,
            **(meta or {}),
        },
    )
    return {
        "version": new_version,
        "files_rewritten": len(affected),
        "files_carried": len(carried),
        "rows_updated": n_updated,
        "rows_deleted": n_deleted,
        "rows_inserted": n_inserted,
    }


def delete_where(spark: SparkSession, path: str, where: dict) -> dict:
    """Row-level DELETE via copy-on-write, scoped by manifest stats: only
    files whose recorded [min, max] can CONTAIN matching rows are rewritten
    (the same pruning arithmetic as ``plan_files`` — on a range-clustered
    table a narrow delete rewrites a handful of files out of millions);
    every other file is carried into the new manifest untouched. Returns
    accounting ``{version, files_rewritten, files_carried, rows_deleted}``.

    ``where`` = {col: (lo, hi)} inclusive ranges ANDed together — a row is
    deleted when EVERY predicate column falls inside its range. Prior
    versions still read the pre-delete snapshot (copy-on-write never
    touches their files); vacuum reclaims the rewritten originals once
    retention passes.
    """
    version = latest_version(path)
    if version is None:
        raise FileNotFoundError(f"{path} has no committed versions")
    m = _read_manifest(path, version)
    affected, _ = plan_files(path, version, where)
    aff = set(affected)
    carried = [f for f in m["files"] if f not in aff]
    if not affected:
        return {
            "version": version,
            "files_rewritten": 0,
            "files_carried": len(carried),
            "rows_deleted": 0,
        }

    cond = None
    for col, (lo, hi) in where.items():
        c = F.col(col).between(lo, hi)
        cond = c if cond is None else (cond & c)
    # SQL DELETE semantics: a NULL predicate KEEPS the row (~NULL is NULL
    # and a bare where(~cond) would silently drop it — pre-evolution rows
    # read the evolved column as NULL, so this is the schema-evolution
    # data-loss case). Deleted-row accounting is footer arithmetic (rows
    # the affected files held, from parquet metadata — no scan) minus the
    # survivor count OBSERVED during the rewrite itself, so no separate
    # count job runs.
    matches = F.coalesce(cond, F.lit(False))
    obs_surv = Observation()
    survivors = _scan(spark, path, affected).where(~matches).observe(
        obs_surv, F.count(F.lit(1)).alias("n")
    )
    staged = _stage(path, version + 1, survivors, **_rewrite_cols(m))
    n_deleted = _footer_rows(path, affected) - int(obs_surv.get["n"])
    new_version = _publish_version(
        path, m, "delete", keep=carried, new=staged, extra={"rows_deleted": n_deleted}
    )
    return {
        "version": new_version,
        "files_rewritten": len(affected),
        "files_carried": len(carried),
        "rows_deleted": n_deleted,
    }


def changed_files(path: str, from_version: int, to_version: int | None = None) -> tuple[list[str], list[str]]:
    """(added, removed) data files between two manifests — pure driver-side
    set arithmetic over the KB-scale file lists; the planning half of
    :func:`table_changes`. A file present in both manifests is immutable
    and therefore IDENTICAL — it can contribute no change and is never
    listed (or scanned)."""
    if to_version is None:
        to_version = latest_version(path)
        if to_version is None:
            raise FileNotFoundError(f"{path} has no committed versions")
    f_from = set(_read_manifest(path, from_version)["files"])
    f_to = set(_read_manifest(path, to_version)["files"])
    return sorted(f_to - f_from), sorted(f_from - f_to)


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """NET row-level change feed between two versions: the table's rows at
    ``to_version`` minus those at ``from_version`` (``_change_type =
    'insert'``) and vice versa (``'delete'``); an update surfaces as a
    delete+insert pair. Incremental consumers (downstream rollups, index
    refresh, replication) read this instead of diffing or rescanning
    snapshots.

    Scale story: immutable data files mean only files ADDED or REMOVED
    between the manifests can contribute changes (``changed_files`` —
    driver-side set arithmetic), so the scan is proportional to the churn,
    not the table. Carried-over rows inside rewritten files (copy-on-write
    delete/merge rewrites whole files) are cancelled by the multiset
    difference (``exceptAll``) — its shuffle is over the changed files
    only. Multiset semantics make the feed exact even with fully duplicate
    rows. Net-diff means a row inserted after ``from_version`` and deleted
    before ``to_version`` never appears (this reads table STATES, not the
    operation log — pair it with :func:`history` when the op sequence
    matters).
    """
    added, removed = changed_files(path, from_version, to_version)
    all_changed = added + removed
    if not all_changed:
        base = read(spark, path, version=to_version)
        return base.withColumn("_change_type", F.lit("")).where(F.lit(False))
    # one merged-schema read defines the aligned column set for both sides
    # (schema evolution between the versions would otherwise break exceptAll)
    ref = _scan(spark, path, all_changed)

    def _aligned(files: list[str]) -> DataFrame:
        if not files:
            return spark.createDataFrame([], ref.schema)
        d = _scan(spark, path, files)
        have = set(d.columns)
        return d.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in ref.schema.fields
            ]
        )

    new_rows, old_rows = _aligned(added), _aligned(removed)
    # pure append / pure removal short-circuit: exceptAll against an empty
    # side is the identity (multiset minus nothing), so the common
    # append-only increment costs zero shuffles — just the changed-file scan
    if not removed:
        return new_rows.withColumn("_change_type", F.lit("insert"))
    if not added:
        return old_rows.withColumn("_change_type", F.lit("delete"))
    return (
        new_rows.exceptAll(old_rows)
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(
            old_rows.exceptAll(new_rows).withColumn("_change_type", F.lit("delete"))
        )
    )
