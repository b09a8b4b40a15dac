"""Incrementally-maintained inverted index over a versioned documents table.

The reference serves keyword search through ad-hoc Athena SQL — every query
re-scans the corpus (``sql/athena/04_analytical_queries.sql`` text filters).
At 100 TB the engine answer is a materialized POSTINGS TABLE — one row per
(token, document) with term frequency and document length — maintained
INCREMENTALLY from the documents table's change feed, never rebuilt:

- inserts tokenize only the NEW documents (one explode + aggregate over the
  churn, not the corpus);
- deletes are Lucene-style TOMBSTONES: the deleted doc_ids land as a tiny
  parquet side-file referenced by the manifest's ``tombstones`` list (a
  doc-grain delete cuts across every token-clustered posting file, so a
  physical rewrite would touch the whole index; the tombstone is O(churn)
  and queries anti-join it); :func:`compact_index` folds tombstones into a
  physical rewrite when they accumulate (an update surfaces in the feed as
  delete+insert and composes);
- corpus-level BM25 statistics (document count, total token count) are
  maintained as running integers in the refresh commit's manifest metadata —
  query-time stats cost ZERO scans;
- every refresh is ONE atomic manifest publication carrying the new posting
  files, the appended tombstone file, the updated running stats, and the
  cursor — a crashed refresh left nothing visible and replays exactly-once;
  later commits on the index (compaction, OPTIMIZE, rollback) carry the
  cursor and stats of the snapshot they publish, so the state is always
  the head manifest's.

The index table itself is committed clustered by token
(``repartitionByRange('tok')``) with per-file token range stats and blooms,
so a query for k terms prunes the postings scan to the files that can hold
those terms (``read(where={'tok': (t, t)})``) — manifest-level file skipping
standing in for the dedicated index formats (Lucene segment files) the
reference stack would bolt on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from aws_flight_data_pipeline_spark.functions.text import tokens, word_count
from aws_flight_data_pipeline_spark.sources.versioned import (
    _head_manifest,
    _publish_version,
    _rewrite_cols,
    _scan,
    _stage,
    commit,
    latest_version,
    plan_files,
    read,
    table_changes,
)

#: Files per refresh commit for the token-clustered postings write; small
#: because churn batches are small — the INITIAL build sizes by corpus.
_REFRESH_PARTITIONS = 2
_INITIAL_PARTITIONS = 4


def _postings(docs: DataFrame, gen: int, tokenizer=None) -> DataFrame:
    """(tok, doc_id, tf, dl, gen) rows for every document in ``docs`` — one
    explode + one aggregate; dl rides the grouping so no second pass.
    ``gen`` is the documents-table version these postings reflect: a
    tombstone written at cursor C masks only postings with ``gen <= C``,
    so an update (delete+insert of the same doc in one refresh) keeps its
    NEW postings visible — the Lucene per-segment-deletes idea carried as
    one integer column.

    ``tokenizer`` (Column -> array Column) defaults to word tokens; the
    decontamination tier passes a shingle tokenizer so the SAME index
    machinery (tombstones, O(churn) refresh, atomic manifests) serves
    set-similarity probes — dl stays the word count either way (a
    corpus-level stat; per-doc SET size is derivable from the postings
    themselves when the tokenizer emits distinct tokens)."""
    tok_fn = tokens if tokenizer is None else tokenizer
    return (
        docs.select(
            "doc_id",
            word_count(F.col("text")).alias("dl"),
            F.explode(tok_fn(F.col("text"))).alias("tok"),
        )
        .groupBy("tok", "doc_id", "dl")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .withColumn("gen", F.lit(int(gen)).cast("bigint"))
    )


def index_state(index_path: str) -> dict | None:
    """The index's refresh state, ``{cursor, n_docs, sum_dl}``, from the
    head manifest. None = never refreshed."""
    return _state_of(_head_manifest(index_path))


def _state_of(m: dict | None) -> dict | None:
    if m is None or m.get("source_version") is None:
        return None
    return {
        "cursor": int(m["source_version"]),
        "n_docs": int(m["index_n_docs"]),
        "sum_dl": int(m["index_sum_dl"]),
    }


def refresh_index(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    tokenizer=None,
    bloom_cols: tuple[str, ...] = ("tok",),
) -> dict:
    """Bring the postings table up to the documents table's head; returns
    ``{refreshed, from_version, to_version, postings_added, docs_removed}``.

    First call builds the full index (a pure recompute — always a safe
    fallback); subsequent calls consume ``table_changes`` so work is
    proportional to the churned files. Crash safety: the delete pass is
    an idempotent merge (replaying it matches nothing), and the cursor +
    running stats publish atomically with the insert commit, so a crash
    between the two replays the whole increment exactly once.

    ``bloom_cols`` controls the per-file bloom filters recorded with each
    commit (default: ``tok``, which the point-term file pruning in
    :func:`bm25_topk_from_index` probes). Pass ``()`` for an index whose
    readers scan all postings (the decontamination probe) — blooms over a
    shingle vocabulary are the expensive case to build and pure dead
    weight when nothing probes them; absent blooms only disable skips."""
    head = latest_version(docs_path)
    if head is None:
        raise FileNotFoundError(f"{docs_path} has no committed versions")
    state = index_state(index_path)

    if state is None:
        from pyspark.sql import Observation

        docs = read(spark, docs_path, version=head)
        # persist BEFORE the range partitioning: repartitionByRange's
        # sampling pass evaluates its child once and the write evaluates it
        # again — without the persist the full tokenize + aggregate would
        # run twice per build. The corpus stats (n_docs, sum_dl) ride the
        # SAME materialization as an Observation on the docs scan (observed
        # BEFORE the explode, so zero-token docs still count), so no second
        # full docs-table scan runs just for the two integers.
        obs = Observation()
        docs_obs = docs.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(word_count(F.col("text"))).alias("s"),
        )
        post = _postings(docs_obs, int(head), tokenizer).persist()
        try:
            post.count()  # fills the persist and fires the observation
            stats = obs.get
            commit(
                post.repartitionByRange(_INITIAL_PARTITIONS, "tok"),
                index_path,
                mode="overwrite" if latest_version(index_path) is not None else "append",
                stats_cols=("tok",),
                # default tok only: point-term reads probe tok blooms;
                # NOTHING probes a doc_id bloom on postings files (deletes
                # are tombstones, never doc_id point reads), and at corpus
                # scale a per-file bloom over distinct doc_ids is the
                # dominant manifest payload — pure dead weight (absent
                # bloom = conservative no-skip)
                bloom_cols=tuple(bloom_cols),
                meta={
                    "source_version": int(head),
                    "index_n_docs": int(stats["n"]),
                    "index_sum_dl": int(stats["s"] or 0),
                },
            )
        finally:
            post.unpersist()
        return {
            "refreshed": True,
            "from_version": None,
            "to_version": head,
            "postings_added": None,
            "docs_removed": 0,
        }

    cur = state["cursor"]
    if cur == head:
        return {
            "refreshed": False,
            "from_version": cur,
            "to_version": head,
            "postings_added": 0,
            "docs_removed": 0,
        }

    changes = table_changes(spark, docs_path, cur, head).persist()
    try:
        # churn-grain stats delta: deleted rows still carry their text
        agg = changes.agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("d_n"),
            F.sum(
                F.when(
                    F.col("_change_type") == "insert", word_count(F.col("text"))
                ).otherwise(-word_count(F.col("text")))
            ).alias("d_s"),
            F.count(F.when(F.col("_change_type") == "delete", 1)).alias("n_del"),
            F.count(F.when(F.col("_change_type") == "insert", 1)).alias("n_ins"),
        ).first()
        meta = {
            "source_version": int(head),
            "index_n_docs": state["n_docs"] + int(agg["d_n"] or 0),
            "index_sum_dl": state["sum_dl"] + int(agg["d_s"] or 0),
        }

        # stage postings and tombstones under one version as two FLAT txn
        # dirs (vacuum's sweep and referenced-set arithmetic work at
        # txn-dir grain with top-level parquet files), publish ONCE
        m = _head_manifest(index_path)
        new_v = m["version"] + 1

        post = None
        if int(agg["n_ins"] or 0) > 0:
            ins = changes.where(F.col("_change_type") == "insert")
            # hash-cluster the refresh batch by token instead of range-
            # clustering it: repartitionByRange pays a sampling pass that
            # re-evaluates the tokenize + aggregate subtree, and on a
            # 2-file churn batch per-file token RANGES prune almost
            # nothing anyway — point-term reads prune these files through
            # their per-file blooms, which hash clustering preserves
            # (every token's postings still land in exactly one file).
            # The INITIAL build keeps range clustering: corpus-scale file
            # count is where range locality earns its sampling pass.
            post = _stage(
                index_path,
                new_v,
                _postings(ins, int(head), tokenizer).repartition(
                    _REFRESH_PARTITIONS, "tok"
                ),
                stats_cols=("tok",),
                # see the initial build's bloom_cols note
                bloom_cols=tuple(bloom_cols),
                tag="post",
            )

        tomb_files: list[str] = list(m.get("tombstones", []))
        docs_removed = int(agg["n_del"] or 0)
        if docs_removed > 0:
            # doc-grain delete cuts across every token-clustered file: a
            # physical rewrite touches the whole index, the tombstone is
            # O(churn). Queries anti-join; compact_index folds physically.
            tomb = (
                changes.where(F.col("_change_type") == "delete")
                .select("doc_id")
                .distinct()
                .withColumn("gen", F.lit(int(cur)).cast("bigint"))
                .coalesce(1)
            )
            tomb_files += _stage(index_path, new_v, tomb, tag="tomb")["files"]

        _publish_version(
            index_path,
            m,
            "index-refresh",
            keep=m["files"],
            new=post,
            extra={"tombstones": tomb_files, **meta},
        )
        return {
            "refreshed": True,
            "from_version": cur,
            "to_version": head,
            "postings_added": 0 if post is None else len(post["files"]),
            "docs_removed": docs_removed,
        }
    finally:
        changes.unpersist()




def _mask_tombstones(
    spark: SparkSession, index_path: str, manifest: dict, post: DataFrame
) -> DataFrame:
    """Apply the manifest's tombstones: drop postings whose (doc_id, gen)
    is masked — a tombstone written at cursor C kills only postings with
    ``gen <= C``, so re-inserted documents keep their newer postings."""
    tomb_files = manifest.get("tombstones", [])
    if not tomb_files:
        return post
    tombs = (
        spark.read.parquet(*[os.path.join(index_path, f) for f in tomb_files])
        .groupBy("doc_id")
        .agg(F.max("gen").alias("_tomb_gen"))
    )
    return post.join(
        F.broadcast(tombs),
        on=[
            post["doc_id"] == tombs["doc_id"],
            post["gen"] <= tombs["_tomb_gen"],
        ],
        how="left_anti",
    )

def bm25_topk_from_index(
    spark: SparkSession,
    index_path: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """BM25 top-k answered FROM THE INDEX: corpus stats from the manifest
    stamp (zero scans), per-term postings from stats/bloom-pruned point
    reads, df from the (terms × 1)-scale aggregate — the documents table
    is never touched. Integer-micro-scaled scores with doc_id tiebreak,
    same contract as the scan-side ``text_bm25_topk``."""
    if not terms:
        raise ValueError("bm25_topk_from_index requires at least one term")
    m = _head_manifest(index_path)
    state = _state_of(m)
    if state is None:
        raise FileNotFoundError(f"{index_path} has never been refreshed")
    n_docs, avgdl = state["n_docs"], state["sum_dl"] / max(1, state["n_docs"])
    v = m["version"]
    # one scan over the UNION of each term's stats/bloom-pruned file set
    # with a single IN filter, instead of one read (scan node + per-file
    # listing + row filter) per term unioned together: the pruning is
    # identical (per-term point probes against the same manifest), each
    # posting row matches at most one term so the row set is exactly the
    # union's, and the plan carries ONE parquet scan however many terms
    # the query has (per-plan driver work grows with the plan's size).
    terms_sorted = sorted(set(terms))
    kept_union: list[str] = []
    seen: set[str] = set()
    for t in terms_sorted:
        kept, _ = plan_files(index_path, version=v, where={"tok": (t, t)})
        for f in kept:
            if f not in seen:
                seen.add(f)
                kept_union.append(f)
    if kept_union:
        post = _scan(spark, index_path, kept_union)
    else:
        # every file pruned for every term: empty frame over the schema
        post = read(spark, index_path, version=v).where(F.lit(False))
    post = post.where(F.col("tok").isin(*terms_sorted))
    post = _mask_tombstones(spark, index_path, m, post)
    df = post.groupBy("tok").agg(F.count("*").alias("df"))

    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    return (
        post.join(F.broadcast(df), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(contrib) * 1e6).cast("bigint").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(topk)
    )


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Fold accumulated tombstones into a physical rewrite: live postings
    (current files anti-join tombstoned doc_ids) are rewritten
    token-clustered with the stats and bloom columns the index records,
    the tombstone list resets to empty, and the cursor + running stats
    carry forward unchanged (compaction is a layout operation, not a
    refresh). Returns ``{compacted, files, tombstones_dropped}``."""
    m = _head_manifest(index_path)
    if m is None:
        raise FileNotFoundError(f"{index_path} has no committed versions")
    v = m["version"]
    tomb_files = m.get("tombstones", [])
    if not tomb_files:
        return {"compacted": False, "files": m["n_files"], "tombstones_dropped": 0}
    live = _mask_tombstones(spark, index_path, m, read(spark, index_path, version=v))
    staged = _stage(
        index_path,
        v + 1,
        live.repartitionByRange(_INITIAL_PARTITIONS, "tok"),
        **_rewrite_cols(m),
    )
    _publish_version(
        index_path, m, "index-compact", new=staged, extra={"tombstones": []}
    )
    return {
        "compacted": True,
        "files": len(staged["files"]),
        "tombstones_dropped": len(tomb_files),
    }
