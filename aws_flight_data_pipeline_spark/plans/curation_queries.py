"""Corpus-curation operators: the stages a training-data pipeline runs
between raw ingest and training-batch packing.

Deterministic split assignment, PII detection/redaction, eval-set
decontamination, per-domain token-budget sampling, and connected-components
dedup clustering (the transitive generalization of the keep-first rule in
``dedup_pipeline_end_to_end``). Reference analog: the transform/quality
stages (``data_transformer.py``) — generalized from flight records to
document corpora, which is the LLM-extension surface this engine treats as
first-class.

All are oracle-backed builders: the strict local parity harness verifies
them value-exactly against DuckDB at sf0.001+sf0.01 via ``BUILDER_SPECS``
without consuming one of the driver gate's 50 registered slots.

Cross-engine discipline (see SURVEY §9): every integer aggregate is CAST to
BIGINT in the oracle; thresholds compare integers (``4·overlap >= n`` rather
than a float ratio); the split/sample hash is the md5-prefix integer that
both engines parse identically (``conv(hex,16,10)`` == ``('0x'||hex)::BIGINT``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_flight_data_pipeline_spark.functions import tmproots
from aws_flight_data_pipeline_spark.functions.text import shingles, word_count
from aws_flight_data_pipeline_spark.operators.graph import (
    component_size_histogram,
    exact_labels_ctes,
    symmetrize,
)
from aws_flight_data_pipeline_spark.plans.registry import builder, query
from aws_flight_data_pipeline_spark.plans.text_queries import (
    _WORD_COUNT_SQL,
    SCORED_PAIRS_CTES,
    scored_pairs_table,
)
from aws_flight_data_pipeline_spark.sources.testdata import load_table
from aws_flight_data_pipeline_spark.functions.caching import tracked_cache


def _md5_bucket(col: Column, mod: int | None = None) -> Column:
    """First 8 hex digits of md5 as an int64 — the engine-portable
    deterministic hash (Spark ``conv`` == DuckDB ``('0x'||hex)::BIGINT``)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return h % mod if mod else h


def _md5_bucket_sql(expr: str, mod: int | None = None) -> str:
    h = f"CAST(('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
    return f"({h} % {mod})" if mod else h


@builder(
    "dataset_split_assign",
    tags=("curation", "split", "sampling"),
    doc="Deterministic train/validation/test split via content-independent "
    "md5 bucketing of doc_id (80/10/10), with stratified accounting per "
    "(lang, split): document counts and exact token totals. The hash-bucket "
    "split is the scale-correct design: assignment is a per-row expression "
    "(no shuffle, no global sort, no seed-dependent sampler), stable under "
    "corpus growth — a doc's split never changes when new data arrives, "
    "which is what keeps eval sets frozen across pipeline runs.",
    oracle=f"""
        WITH assigned AS (
            SELECT lang,
                   CASE WHEN {_md5_bucket_sql("doc_id", 100)} < 80 THEN 'train'
                        WHEN {_md5_bucket_sql("doc_id", 100)} < 90 THEN 'validation'
                        ELSE 'test' END AS split,
                   {_WORD_COUNT_SQL} AS toks
            FROM documents
        )
        SELECT lang, split,
               CAST(COUNT(*) AS BIGINT) AS doc_count,
               CAST(SUM(toks) AS BIGINT) AS token_total
        FROM assigned
        GROUP BY lang, split
        ORDER BY lang, split
    """,
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"), word_count(F.col("text")).alias("toks"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("toks").cast("bigint").alias("token_total"),
        )
        .orderBy("lang", "split")
    )


# Simple-by-design detector patterns: identical semantics under Java regex
# (Spark) and RE2 (DuckDB) — character classes, bounded repetition, no
# backrefs/lookaround.
_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\d{3}-\d{3}-\d{4}"
_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@builder(
    "text_pii_redaction",
    tags=("curation", "pii", "text"),
    doc="PII detection + redaction sweep: count and strip emails, phone "
    "numbers, and IPv4 addresses, with per-language accounting (docs "
    "touched, hits per class, exact characters removed). The synthetic "
    "corpus contains no PII, so the operator plants deterministic PII spans "
    "(derived from doc_id — identically on both engines) before scanning; "
    "detection therefore has known ground truth and redaction is verified "
    "by exact length arithmetic. Per-row regex work only — zero shuffle "
    "before the final rollup, the property that lets the sweep run over "
    "100 TB as one pass. Patterns are the RE2-safe subset so the same "
    "expressions run on any engine.",
    oracle=f"""
        WITH aug AS (
            SELECT lang,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                                || '.' || CAST(doc_id % 199 AS VARCHAR)
                           ELSE '' END AS t
            FROM documents
        ), scanned AS (
            SELECT lang, t,
                   len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_email,
                   len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phone,
                   len(regexp_extract_all(t, '{_IP_RE}')) AS n_ip,
                   regexp_replace(regexp_replace(regexp_replace(t,
                       '{_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_IP_RE}', '<IP>', 'g'),
                       '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
            FROM aug
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS docs_scanned,
               CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_with_pii,
               CAST(SUM(n_email) AS BIGINT) AS email_hits,
               CAST(SUM(n_phone) AS BIGINT) AS phone_hits,
               CAST(SUM(n_ip) AS BIGINT) AS ip_hits,
               CAST(SUM(LENGTH(t) - LENGTH(redacted)) AS BIGINT) AS chars_redacted
        FROM scanned
        GROUP BY lang
        ORDER BY lang
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" call 415-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 199).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    scanned = d.select(
        "lang",
        F.regexp_count(t, F.lit(_EMAIL_RE)).alias("n_email"),
        F.regexp_count(t, F.lit(_PHONE_RE)).alias("n_phone"),
        F.regexp_count(t, F.lit(_IP_RE)).alias("n_ip"),
        (F.length(t) - F.length(redacted)).alias("chars_removed"),
    )
    return (
        scanned.groupBy("lang")
        .agg(
            F.count("*").alias("docs_scanned"),
            F.sum(
                F.when(F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_with_pii"),
            F.sum("n_email").cast("bigint").alias("email_hits"),
            F.sum("n_phone").cast("bigint").alias("phone_hits"),
            F.sum("n_ip").cast("bigint").alias("ip_hits"),
            F.sum("chars_removed").cast("bigint").alias("chars_redacted"),
        )
        .orderBy("lang")
    )


@builder(
    "corpus_decontamination",
    tags=("curation", "contamination", "dedup"),
    doc="Eval-set decontamination: the held-out set (deterministic 1% — "
    "doc_id % 97 == 0, matching the frozen-split discipline of "
    "dataset_split_assign) contributes its distinct 3-token shingles; every "
    "training document is scored by how many of its shingles appear in that "
    "set, and flagged contaminated on an integer-exact 25% threshold "
    "(4·overlap >= n_shingles). Scale shape: the eval shingle set is tiny "
    "relative to the corpus, so the membership probe is a BROADCAST "
    "semi-join against linearly-exploded training shingles — no shuffle of "
    "the corpus, which is how n-gram decontamination stays one pass at "
    "100 TB. Emits per-source contamination accounting.",
    oracle="""
        WITH shing AS (
            SELECT doc_id, source,
                   list_distinct(list_transform(
                       range(1, GREATEST(len(string_split(text, ' ')) - 2, 1) + 1),
                       i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
                   )) AS shingles
            FROM documents
        ), toks AS (
            SELECT doc_id, source, UNNEST(shingles) AS tok FROM shing
        ), eval_toks AS (
            SELECT DISTINCT tok FROM toks WHERE doc_id % 97 = 0
        ), train AS (
            SELECT * FROM toks WHERE doc_id % 97 <> 0
        ), sizes AS (
            SELECT doc_id, source, COUNT(*) AS n_tok FROM train GROUP BY 1, 2
        ), overlap AS (
            SELECT t.doc_id, COUNT(*) AS n_overlap
            FROM train t JOIN eval_toks e ON e.tok = t.tok
            GROUP BY t.doc_id
        ), per_doc AS (
            SELECT s.doc_id, s.source, s.n_tok,
                   COALESCE(o.n_overlap, 0) AS n_overlap
            FROM sizes s LEFT JOIN overlap o ON o.doc_id = s.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS train_docs,
               CAST(SUM(CASE WHEN 4 * n_overlap >= n_tok THEN 1 ELSE 0 END)
                    AS BIGINT) AS contaminated_docs,
               CAST(SUM(n_overlap) AS BIGINT) AS overlap_shingles_total,
               CAST(SUM(n_tok) AS BIGINT) AS train_shingles_total
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """,
)
def corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the shingle explode over the full corpus dominates
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    # one explode feeds both the eval set and the training side
    toks = d.select("doc_id", "source", F.explode(shingles(F.col("text"), 3)).alias("tok")).transform(tracked_cache)
    eval_toks = toks.filter(F.col("doc_id") % 97 == 0).select("tok").distinct()
    train = toks.filter(F.col("doc_id") % 97 != 0)
    sizes = train.groupBy("doc_id", "source").agg(F.count("*").alias("n_tok"))
    overlap = (
        train.join(F.broadcast(eval_toks), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0))
    per_doc = sizes.join(overlap, "doc_id", "left").select(
        "source", "n_tok", n_overlap.alias("n_overlap")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("train_docs"),
            F.sum(F.when(4 * F.col("n_overlap") >= F.col("n_tok"), 1).otherwise(0))
            .cast("bigint")
            .alias("contaminated_docs"),
            F.sum("n_overlap").cast("bigint").alias("overlap_shingles_total"),
            F.sum("n_tok").cast("bigint").alias("train_shingles_total"),
        )
        .orderBy("source")
    )


_DOMAIN_BUDGET = 500  # tokens admitted per source


@builder(
    "domain_budget_sample",
    tags=("curation", "sampling", "window"),
    doc="Domain-mix sampling under a per-source token budget: within each "
    "source, documents are ordered by a deterministic content-independent "
    "hash (md5-prefix integer — a frozen uniform shuffle, not ingestion "
    "order) and admitted while the running token total stays within the "
    "budget. One window shuffle partitioned by source; the running sum is "
    "exact BIGINT. This is the mixture-weighting primitive: per-domain "
    "budgets ARE the sampling weights when a training mix over-represents "
    "some source. Emits admitted vs total docs/tokens per source.",
    oracle=f"""
        WITH wc AS (
            SELECT source, doc_id,
                   {_WORD_COUNT_SQL} AS toks,
                   {_md5_bucket_sql("doc_id")} AS h
            FROM documents
        ), cum AS (
            SELECT source, toks,
                   SUM(toks) OVER (
                       PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_toks
            FROM wc
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS total_docs,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN cum_toks <= {_DOMAIN_BUDGET} THEN 1 ELSE 0 END)
                    AS BIGINT) AS admitted_docs,
               CAST(SUM(CASE WHEN cum_toks <= {_DOMAIN_BUDGET} THEN toks ELSE 0 END)
                    AS BIGINT) AS admitted_tokens
        FROM cum
        GROUP BY source
        ORDER BY source
    """,
)
def domain_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wc = d.select(
        "source",
        "doc_id",
        word_count(F.col("text")).alias("toks"),
        _md5_bucket(F.col("doc_id")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = wc.withColumn("cum_toks", F.sum("toks").over(w))
    admitted = F.col("cum_toks") <= _DOMAIN_BUDGET
    return (
        cum.groupBy("source")
        .agg(
            F.count("*").alias("total_docs"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
            F.sum(F.when(admitted, 1).otherwise(0)).cast("bigint").alias("admitted_docs"),
            F.sum(F.when(admitted, F.col("toks")).otherwise(0))
            .cast("bigint")
            .alias("admitted_tokens"),
        )
        .orderBy("source")
    )


#: The document-node universe every curation CC oracle labels over.
_DOC_NODES_SQL = "SELECT doc_id AS node FROM documents"


@builder(
    "dedup_cluster_components",
    tags=("curation", "dedup", "graph", "components"),
    doc="Connected-components dedup clustering: verified near-dup pairs "
    "(the composed pipeline's LSH candidates with shingle-Jaccard >= 0.5) "
    "become an undirected graph, and distributed min-label propagation run "
    "to FIXPOINT (operators/graph.py — the Hash-Min formulation; each round "
    "is one equi-join + one hash aggregate + one changed-label count, and "
    "the loop stops when a round changes nothing) assigns every document "
    "its cluster. This generalizes the pipeline's keep-first rule to "
    "TRANSITIVE chains (A~B~C where A and C never share a band): one "
    "survivor per component, not per pair. Output is the cluster-size "
    "histogram (size 1 = unique docs). The oracle computes EXACT components "
    "via a recursive reachability closure, so parity holds at ANY component "
    "diameter — both engines are exact, no shared convergence assumption "
    "(r12 fix; the unrolled 3-round twin was blind to diameter > 3 chains).",
    oracle=f"""
        WITH RECURSIVE {SCORED_PAIRS_CTES}, dup_edges AS (
            SELECT doc_a AS u, doc_b AS v FROM scored WHERE j >= 0.5
            UNION ALL
            SELECT doc_b, doc_a FROM scored WHERE j >= 0.5
        ), {exact_labels_ctes(_DOC_NODES_SQL)},
        comp AS (
            SELECT label, COUNT(*) AS cluster_size
            FROM labels GROUP BY label
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS docs_in_bucket
        FROM comp
        GROUP BY cluster_size
        ORDER BY cluster_size
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Clustering is a SECONDARY consumer of the dedup state: it reads the
    # materialized scored-pair table for this corpus snapshot (built once,
    # shared with every other consumer — sources/snapshots.py) instead of
    # rebuilding signatures/candidates from the raw corpus. The oracle
    # recomputes the identical pairs from scratch, so parity also verifies
    # the materialization is faithful.
    scored = scored_pairs_table(spark, sf_dir)
    edges = symmetrize(
        scored.filter(F.col("j") >= 0.5).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
    ).transform(tracked_cache)
    # count-star on the plain scan (parquet metadata count — the fan_out
    # repartition would turn it into a shuffle for no reason)
    n_docs = load_table(spark, sf_dir, "documents").count()
    # histogram via the adaptive operator: small graphs solve + aggregate
    # where the union-find edge list already lives (driver arithmetic over
    # a few hundred pairs), large graphs take the distributed Hash-Min +
    # aggregate branch — see operators/graph.py.
    return component_size_histogram(
        edges, n_docs, members_col="docs_in_bucket"
    ).orderBy("cluster_size")


@builder(
    "token_frequency_vocab",
    tags=("curation", "vocab", "tokenizer"),
    doc="Corpus token-frequency vocabulary with Zipf coverage — the input a "
    "tokenizer-training run consumes: top-20 tokens by count (deterministic "
    "(count DESC, token) tiebreak), each with rank, exact occurrence count, "
    "running cumulative count, and integer-exact half/90% coverage flags "
    "(2*cum >= total, 10*cum >= 9*total). Scale shape: the explode is "
    "linear and the per-token count combines map-side; the ranking window "
    "then runs over the AGGREGATED vocab table — whose size is the "
    "vocabulary, not the corpus — so the single-partition window is over "
    "thousands of rows regardless of corpus bytes (cap with a frequency "
    "floor before the window if the vocab itself explodes, e.g. web-scale "
    "typo tails).",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ), counts AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS occurrences
            FROM tok GROUP BY tok
        ), ranked AS (
            SELECT tok, occurrences,
                   CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC, tok)
                        AS BIGINT) AS rank,
                   CAST(SUM(occurrences) OVER (
                        ORDER BY occurrences DESC, tok
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_occurrences,
                   CAST(SUM(occurrences) OVER () AS BIGINT) AS total_occurrences
            FROM counts
        )
        SELECT rank, tok, occurrences, cum_occurrences, total_occurrences,
               CAST(CASE WHEN 2 * cum_occurrences >= total_occurrences
                         THEN 1 ELSE 0 END AS BIGINT) AS covers_half,
               CAST(CASE WHEN 10 * cum_occurrences >= 9 * total_occurrences
                         THEN 1 ELSE 0 END AS BIGINT) AS covers_90
        FROM ranked
        ORDER BY rank
        LIMIT 20
    """,
)
def token_frequency_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("occurrences"))
    )
    w = Window.orderBy(F.col("occurrences").desc(), "tok")
    ranked = counts.select(
        "tok",
        "occurrences",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.sum("occurrences")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum_occurrences"),
        F.sum("occurrences")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("total_occurrences"),
    )
    return (
        ranked.select(
            "rank",
            "tok",
            "occurrences",
            "cum_occurrences",
            "total_occurrences",
            F.when(2 * F.col("cum_occurrences") >= F.col("total_occurrences"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("covers_half"),
            F.when(10 * F.col("cum_occurrences") >= 9 * F.col("total_occurrences"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("covers_90"),
        )
        .orderBy("rank")
        .limit(20)
    )


_BPE_ROUNDS = 3


def _wc_sql(col: str) -> str:
    return f"(LENGTH({col}) - LENGTH(REPLACE({col}, ' ', '')) + 1)"


def _bpe_pair_counts_sql(prev: str, this: str) -> str:
    return f"""{this} AS (
            SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(list_transform(
                    range(1, GREATEST(len(string_split(t, ' ')) - 1, 1) + 1),
                    i -> array_to_string((string_split(t, ' '))[i:i+1], ' ')
                )) AS gram
                FROM {prev}
            )
            WHERE contains(gram, ' ')
            GROUP BY gram
        )"""


def _bpe_merge_round_sql(prev: str, top: str, this: str) -> str:
    pat = f"(SELECT ' ' || replace(gram, ' ', '  ') || ' ' FROM {top})"
    rep = f"(SELECT ' ' || replace(gram, ' ', '_') || ' ' FROM {top})"
    return f"""{this} AS (
            SELECT doc_id,
                   trim(replace(replace(
                       ' ' || replace(t, ' ', '  ') || ' ', {pat}, {rep}),
                       '  ', ' ')) AS t
            FROM {prev}
        )"""


@builder(
    "bpe_merge_train",
    tags=("curation", "tokenizer", "bpe", "iterative"),
    doc="Iterative BPE-style merge training at the word level: each round "
    "counts adjacent token pairs over the CURRENT corpus, merges the most "
    "frequent pair ((count DESC, pair) deterministic argmax) everywhere it "
    "occurs, and re-counts — 3 unrolled rounds, emitting per round the "
    "chosen pair, its pre-merge count, and the exact corpus token total "
    "after the merge (measured, not derived: overlapping occurrences like "
    "'a a a' merge fewer times than the pair count). The rewrite is "
    "engine-portable string algebra: wrapping every token in private "
    "spaces (' '||replace(t,' ','  ')||' ') makes adjacent-pair patterns "
    "non-overlapping, so plain all-occurrence replace IS greedy "
    "left-to-right BPE merging on both engines. Scale shape per round: "
    "linear explode + map-side-combined count, a 1-row argmax broadcast "
    "back (crossJoin), and a per-row rewrite — the corpus is never "
    "shuffled; per-round frames are cached so the unrolled lineage is not "
    "re-evaluated (the graph-iteration discipline, operators/graph.py).",
    oracle=f"""
        WITH r0 AS (
            SELECT doc_id, text AS t FROM documents
        ), {_bpe_pair_counts_sql("r0", "p1")},
        t1 AS (SELECT gram, cnt FROM p1 ORDER BY cnt DESC, gram LIMIT 1),
        {_bpe_merge_round_sql("r0", "t1", "r1")},
        {_bpe_pair_counts_sql("r1", "p2")},
        t2 AS (SELECT gram, cnt FROM p2 ORDER BY cnt DESC, gram LIMIT 1),
        {_bpe_merge_round_sql("r1", "t2", "r2")},
        {_bpe_pair_counts_sql("r2", "p3")},
        t3 AS (SELECT gram, cnt FROM p3 ORDER BY cnt DESC, gram LIMIT 1),
        {_bpe_merge_round_sql("r2", "t3", "r3")}
        SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS round,
                   (SELECT gram FROM t1) AS merged_pair,
                   (SELECT cnt FROM t1) AS pair_count,
                   (SELECT CAST(SUM({_wc_sql("t")}) AS BIGINT) FROM r1)
                       AS corpus_tokens_after
            UNION ALL
            SELECT CAST(2 AS BIGINT), (SELECT gram FROM t2), (SELECT cnt FROM t2),
                   (SELECT CAST(SUM({_wc_sql("t")}) AS BIGINT) FROM r2)
            UNION ALL
            SELECT CAST(3 AS BIGINT), (SELECT gram FROM t3), (SELECT cnt FROM t3),
                   (SELECT CAST(SUM({_wc_sql("t")}) AS BIGINT) FROM r3)
        )
        ORDER BY round
    """,
)
def bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.functions.text import word_ngrams

    # fan_out: each round's bigram explode + per-row rewrite is compute-dense
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    cur = d.select("doc_id", F.col("text").alias("t"))
    rounds = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        cur = cur.transform(tracked_cache)
        # the 1-ROW argmax is cached: it feeds BOTH the rewrite and the
        # round's readout row, and the physical planner does not reuse the
        # two broadcast subtrees (r14 before-plan: 0 ReusedExchange), so
        # without the cache the full bigram explode + count ran TWICE per
        # round (guide §2.4 — remove shuffles outright)
        top1 = (
            cur.select(F.explode(word_ngrams(F.col("t"), 2)).alias("gram"))
            .filter(F.col("gram").contains(" "))
            .groupBy("gram")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "gram")
            .limit(1)
            .transform(tracked_cache)
        )
        pat = F.concat(F.lit(" "), F.replace(F.col("gram"), F.lit(" "), F.lit("  ")), F.lit(" "))
        rep = F.concat(F.lit(" "), F.replace(F.col("gram"), F.lit(" "), F.lit("_")), F.lit(" "))
        wrapped = F.concat(F.lit(" "), F.replace(F.col("t"), F.lit(" "), F.lit("  ")), F.lit(" "))
        cur = (
            cur.crossJoin(F.broadcast(top1))
            .select(
                "doc_id",
                F.trim(F.replace(F.replace(wrapped, pat, rep), F.lit("  "), F.lit(" "))).alias(
                    "t"
                ),
            )
            .transform(tracked_cache)
        )
        wc = F.length("t") - F.length(F.replace(F.col("t"), F.lit(" "), F.lit(""))) + 1
        rounds.append(
            cur.crossJoin(F.broadcast(top1)).agg(
                F.lit(rnd).cast("bigint").alias("round"),
                F.first("gram").alias("merged_pair"),
                F.first("cnt").alias("pair_count"),
                F.sum(wc).cast("bigint").alias("corpus_tokens_after"),
            )
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")


def train_bpe(
    spark: SparkSession,
    docs: DataFrame,
    max_rounds: int,
    min_pair_count: int = 2,
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Production-parameterized BPE merge training: up to ``max_rounds``
    merges with EARLY EXIT once the best remaining pair occurs fewer than
    ``min_pair_count`` times — a real vocabulary build runs to thousands
    of merges and must stop when the signal is gone, not at a fixed
    unroll. Returns ``(merges, encoded_corpus)`` where ``merges`` is
    ``[(round, pair, count), ...]`` in application order.

    Per round: one linear bigram count with a 1-ROW driver argmax (the
    bounded-driver-work exception, like the union-find edge cap — one row
    per round, never data), then a per-row literal rewrite (the argmax
    value lands in the plan as a literal, cheaper than the oracled
    builder's crossJoin-broadcast form which exists only so the whole
    episode stays collect-free for the SQL twin). ``docs`` needs columns
    ``(doc_id, text)``.
    """
    from aws_flight_data_pipeline_spark.functions.text import word_ngrams

    cur = docs.select("doc_id", F.col("text").alias("t"))
    merges: list[tuple[int, str, int]] = []
    for rnd in range(1, max_rounds + 1):
        cur = tracked_cache(cur)
        top = (
            cur.select(F.explode(word_ngrams(F.col("t"), 2)).alias("gram"))
            .filter(F.col("gram").contains(" "))
            .groupBy("gram")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "gram")
            .limit(1)
            .first()
        )
        if top is None or int(top["cnt"]) < min_pair_count:
            break
        gram = top["gram"]
        pat = F.lit(" " + gram.replace(" ", "  ") + " ")
        rep = F.lit(" " + gram.replace(" ", "_") + " ")
        wrapped = F.concat(
            F.lit(" "), F.replace(F.col("t"), F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        cur = cur.select(
            "doc_id",
            F.trim(
                F.replace(F.replace(wrapped, pat, rep), F.lit("  "), F.lit(" "))
            ).alias("t"),
        )
        merges.append((rnd, gram, int(top["cnt"])))
    return merges, cur


@builder(
    "text_normalization_sweep",
    tags=("curation", "normalize", "text"),
    doc="Canonicalization sweep — the normalization pass that runs before "
    "any fingerprint/dedup stage (lowercase, trim, whitespace collapse, "
    "strip terminal punctuation runs), with per-source accounting of docs "
    "changed and exact characters removed. The synthetic corpus is already "
    "canonical, so deterministic noise is planted first (doc_id-derived "
    "casing/padding/punctuation — identical on both engines), giving the "
    "sweep known ground truth: every planted doc must change, no clean doc "
    "may. Pure per-row string expressions: zero shuffle before the rollup.",
    oracle="""
        WITH noisy AS (
            SELECT source,
                   CASE WHEN doc_id % 4 = 0
                        THEN '  ' || upper(substring(text, 1, 5)) || substring(text, 6)
                             || ' !!! '
                        ELSE text END AS raw,
                   (doc_id % 4 = 0) AS planted
            FROM documents
        ), norm AS (
            SELECT source, planted, raw,
                   trim(regexp_replace(regexp_replace(lower(raw),
                        '[!?.]+( |$)', ' ', 'g'),
                        ' +', ' ', 'g')) AS clean
            FROM noisy
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT)
                   AS planted_docs,
               CAST(SUM(CASE WHEN clean <> raw THEN 1 ELSE 0 END) AS BIGINT)
                   AS changed_docs,
               CAST(SUM(LENGTH(raw) - LENGTH(clean)) AS BIGINT) AS chars_removed
        FROM norm
        GROUP BY source
        ORDER BY source
    """,
)
def text_normalization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    planted = F.col("doc_id") % 4 == 0
    raw = F.when(
        planted,
        F.concat(
            F.lit("  "),
            F.upper(F.substring(F.col("text"), 1, 5)),
            F.expr("substring(text, 6)"),
            F.lit(" !!! "),
        ),
    ).otherwise(F.col("text"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"[!?.]+( |$)", " "), " +", " "
        )
    )
    n = d.select(
        "source",
        planted.alias("planted"),
        raw.alias("raw"),
        clean.alias("clean"),
    )
    return (
        n.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("planted"), 1).otherwise(0)).cast("bigint").alias("planted_docs"),
            F.sum(F.when(F.col("clean") != F.col("raw"), 1).otherwise(0))
            .cast("bigint")
            .alias("changed_docs"),
            F.sum(F.length("raw") - F.length("clean")).cast("bigint").alias("chars_removed"),
        )
        .orderBy("source")
    )


@builder(
    "corpus_health_report",
    tags=("curation", "dashboard", "serving"),
    doc="One-row corpus health payload — the serving_snapshot_stats shape "
    "for the documents table: corpus size (docs / sources / langs / exact "
    "token total), exact-duplicate pressure (distinct content fingerprints "
    "vs docs), and per-row quality-rule pass count (funnel rules 1-4; the "
    "shuffle-needing repetition rule is reported by quality_filter_funnel). "
    "Two aggregates over one scan (plain + distinct-fingerprint), combined "
    "by a 1-row crossJoin — the dashboard query a curation operator polls, "
    "cheap enough to run per ingestion batch at any corpus size.",
    oracle=f"""
        WITH base AS (
            SELECT source, lang,
                   md5(lower(trim(text))) AS fp,
                   {_WORD_COUNT_SQL} AS wc,
                   LENGTH(text) - ({_WORD_COUNT_SQL} - 1) AS nchars,
                   len(list_distinct(string_split(text, ' '))) AS dt,
                   (contains(' ' || text || ' ', ' the ')
                    AND contains(' ' || text || ' ', ' a ')) AS has_stop
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs,
               CAST(SUM(wc) AS BIGINT) AS token_total,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_fingerprints,
               CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS exact_dup_docs,
               CAST(SUM(CASE WHEN wc BETWEEN 25 AND 90
                              AND 4 * wc <= nchars AND nchars <= 6 * wc
                              AND has_stop
                              AND 5 * dt >= 2 * wc
                             THEN 1 ELSE 0 END) AS BIGINT) AS quality_pass_docs
        FROM base
    """,
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.functions.text import (
        distinct_token_count,
        fingerprint,
        word_count,
    )

    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    wc = word_count(text)
    nchars = F.length(text) - (wc - 1)
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    base = d.select(
        "source",
        "lang",
        fingerprint(text).alias("fp"),
        wc.alias("wc"),
        nchars.alias("nchars"),
        distinct_token_count(text).alias("dt"),
        (padded.contains(" the ") & padded.contains(" a ")).alias("has_stop"),
    )
    rule_pass = (
        F.col("wc").between(25, 90)
        & (4 * F.col("wc") <= F.col("nchars"))
        & (F.col("nchars") <= 6 * F.col("wc"))
        & F.col("has_stop")
        & (5 * F.col("dt") >= 2 * F.col("wc"))
    )
    return base.agg(
        F.count("*").alias("docs"),
        F.countDistinct("source").cast("bigint").alias("sources"),
        F.countDistinct("lang").cast("bigint").alias("langs"),
        F.sum("wc").cast("bigint").alias("token_total"),
        F.countDistinct("fp").cast("bigint").alias("distinct_fingerprints"),
        (F.count("*") - F.countDistinct("fp")).cast("bigint").alias("exact_dup_docs"),
        F.sum(F.when(rule_pass, 1).otherwise(0)).cast("bigint").alias("quality_pass_docs"),
    )


#: Temperature-mix parameters: tau < 1 flattens the source distribution
#: (LLaMA/T5-style mixture reweighting); the token budget is sf-independent
#: so small sources saturate and large ones are subsampled at every scale.
_MIX_TAU = 0.7
_MIX_TOTAL_TOKENS = 5_000


@builder(
    "corpus_temperature_mix",
    tags=("curation", "sampling", "mixing", "window"),
    doc="Temperature-weighted source mixing (the data recipe primitive "
    "behind T5/LLaMA-style mixtures): per-source weights n_s^tau / sum "
    "n_t^tau flatten the natural source distribution (tau=0.7), each "
    "source gets floor(weight * total_budget) tokens, and documents are "
    "admitted per source in frozen md5-hash order while the running token "
    "total fits the budget. Weights are integer-micro-scaled before the "
    "budget multiply (the transcendental pow never touches a comparison "
    "raw), budgets are exact integers, the admission walk is exact BIGINT "
    "running sums — one KB-scale stats frame broadcast onto one "
    "window-per-source pass; the corpus is scanned once at any scale. "
    "Small sources gain share (weight_e6 > natural share), big sources "
    "are subsampled — the flattening is observable in the output.",
    oracle=f"""
        WITH wc AS (
            SELECT source, doc_id, {_WORD_COUNT_SQL} AS toks,
                   {_md5_bucket_sql("doc_id")} AS h
            FROM documents
        ),
        per_src AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS total_docs,
                   CAST(SUM(toks) AS BIGINT) AS n_s
            FROM wc GROUP BY source
        ),
        z AS (SELECT SUM(POWER(n_s, {_MIX_TAU})) AS z FROM per_src),
        budgets AS (
            SELECT source, total_docs, n_s,
                   CAST(ROUND(1e6 * POWER(n_s, {_MIX_TAU}) / z.z) AS BIGINT)
                       AS weight_e6,
                   CAST(FLOOR(CAST(ROUND(1e6 * POWER(n_s, {_MIX_TAU}) / z.z)
                                   AS BIGINT) * {_MIX_TOTAL_TOKENS} / 1e6)
                        AS BIGINT) AS budget_tokens
            FROM per_src CROSS JOIN z
        ),
        cum AS (
            SELECT source, toks,
                   SUM(toks) OVER (
                       PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_toks
            FROM wc
        )
        SELECT b.source, b.total_docs, b.n_s AS total_tokens, b.weight_e6,
               b.budget_tokens,
               CAST(SUM(CASE WHEN c.cum_toks <= b.budget_tokens THEN 1 ELSE 0 END)
                    AS BIGINT) AS admitted_docs,
               CAST(SUM(CASE WHEN c.cum_toks <= b.budget_tokens THEN c.toks ELSE 0 END)
                    AS BIGINT) AS admitted_tokens
        FROM cum c JOIN budgets b ON c.source = b.source
        GROUP BY b.source, b.total_docs, b.n_s, b.weight_e6, b.budget_tokens
        ORDER BY b.source
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wc = d.select(
        "source", "doc_id",
        word_count(F.col("text")).alias("toks"),
        _md5_bucket(F.col("doc_id")).alias("h"),
    )
    per_src = wc.groupBy("source").agg(
        F.count("*").alias("total_docs"), F.sum("toks").cast("bigint").alias("n_s")
    )
    z = per_src.agg(F.sum(F.pow("n_s", F.lit(_MIX_TAU))).alias("z"))
    w_e6 = F.round(1e6 * F.pow("n_s", F.lit(_MIX_TAU)) / F.col("z")).cast("bigint")
    budgets = per_src.crossJoin(F.broadcast(z)).select(
        "source", "total_docs", "n_s",
        w_e6.alias("weight_e6"),
        F.floor(w_e6 * _MIX_TOTAL_TOKENS / 1e6).cast("bigint").alias("budget_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = wc.withColumn("cum_toks", F.sum("toks").over(w))
    admitted = F.col("cum_toks") <= F.col("budget_tokens")
    return (
        cum.join(F.broadcast(budgets), "source")
        .groupBy("source", "total_docs", "n_s", "weight_e6", "budget_tokens")
        .agg(
            F.sum(F.when(admitted, 1).otherwise(0)).cast("bigint").alias("admitted_docs"),
            F.sum(F.when(admitted, F.col("toks")).otherwise(0))
            .cast("bigint")
            .alias("admitted_tokens"),
        )
        .withColumnRenamed("n_s", "total_tokens")
        .orderBy("source")
    )


_N_SHARDS = 8


@builder(
    "corpus_shard_assignment",
    tags=("curation", "sharding", "window"),
    doc="Deterministic training-shard assignment: documents are ordered by "
    "the frozen md5 hash (a reproducible global shuffle — training order "
    "must not correlate with crawl order) and cut into 8 equal-cardinality "
    "shards with NTILE. Per-shard doc/token counts plus an id checksum pin "
    "the exact membership cross-engine. The global sort is the verifiable "
    "small-scale form; at 100 TB the same cut is range boundaries on the "
    "uniform hash (approx quantiles of h), which shards without a total "
    "sort — same assignment up to boundary ties.",
    oracle=f"""
        WITH wc AS (
            SELECT doc_id, {_WORD_COUNT_SQL} AS toks,
                   {_md5_bucket_sql("doc_id")} AS h
            FROM documents
        ),
        sharded AS (
            SELECT doc_id, toks,
                   CAST(NTILE({_N_SHARDS}) OVER (ORDER BY h, doc_id) AS BIGINT)
                       AS shard
            FROM wc
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        FROM sharded
        GROUP BY shard
        ORDER BY shard
    """,
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wc = d.select(
        "doc_id",
        word_count(F.col("text")).alias("toks"),
        _md5_bucket(F.col("doc_id")).alias("h"),
    )
    sharded = wc.withColumn(
        "shard", F.ntile(_N_SHARDS).over(Window.orderBy("h", "doc_id")).cast("bigint")
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("shard")
    )


@builder(
    "dedup_cluster_representatives",
    tags=("curation", "dedup", "graph", "quality"),
    doc="Quality-aware cluster representative selection — the upgrade of "
    "keep-FIRST dedup to keep-BEST: near-dup components (same shared "
    "scored-pair snapshot + connected-components operator as "
    "dedup_cluster_components) are joined with the per-document composite "
    "quality score (the text_signal_suite formula, integer-micro-scaled), "
    "and each multi-doc cluster elects max_by(doc, quality) with a "
    "lowest-doc-id tiebreak folded into one BIGINT sort key. Output: one "
    "row per duplicate cluster with the kept doc, its quality, the "
    "intra-cluster quality spread, and the removal count. One extra "
    "broadcast-sized join over the clustering pipeline — the quality frame "
    "is per-doc signals, the election is a hash-agg. Components are exact "
    "on BOTH engines (fixpoint Hash-Min vs the oracle's recursive "
    "closure — same contract as dedup_cluster_components, r12).",
    oracle=f"""
        WITH RECURSIVE {SCORED_PAIRS_CTES}, dup_edges AS (
            SELECT doc_a AS u, doc_b AS v FROM scored WHERE j >= 0.5
            UNION ALL
            SELECT doc_b, doc_a FROM scored WHERE j >= 0.5
        ), {exact_labels_ctes(_DOC_NODES_SQL)},
        q AS (
            SELECT doc_id,
                   CAST(ROUND((
                       0.5 * LEAST(CAST({_WORD_COUNT_SQL} AS DOUBLE) / 50.0, 1.0)
                       + 0.5 * (CAST(len(list_distinct(string_split(text, ' ')))
                                     AS DOUBLE) / {_WORD_COUNT_SQL})
                   ) * 1e6) AS BIGINT) AS q_e6
            FROM documents
        ),
        memb AS (
            SELECT l.node AS doc_id, l.label, q.q_e6
            FROM labels l JOIN q ON q.doc_id = l.node
        )
        SELECT label AS cluster_label,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               max_by(doc_id, q_e6 * 10000000000 - doc_id) AS rep_doc,
               CAST(MAX(q_e6) AS BIGINT) AS rep_q_e6,
               CAST(MAX(q_e6) - MIN(q_e6) AS BIGINT) AS q_spread_e6,
               CAST(COUNT(*) - 1 AS BIGINT) AS docs_removed
        FROM memb
        GROUP BY label
        HAVING COUNT(*) >= 2
        ORDER BY cluster_label
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.functions.text import token_type_ratio
    from aws_flight_data_pipeline_spark.operators.graph import connected_components

    scored = scored_pairs_table(spark, sf_dir)
    edges = symmetrize(
        scored.filter(F.col("j") >= 0.5).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
    ).transform(tracked_cache)
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components(
        d.select(F.col("doc_id").alias("node")), edges
    )
    wc = word_count(F.col("text"))
    ls = F.least(wc.cast("double") / 50.0, F.lit(1.0))
    q = d.select(
        "doc_id",
        F.round((0.5 * ls + 0.5 * token_type_ratio(F.col("text"))) * 1e6)
        .cast("bigint")
        .alias("q_e6"),
    )
    memb = labels.join(q, labels["node"] == q["doc_id"]).select(
        "doc_id", "label", "q_e6"
    )
    # keep-best election: quality then lowest-doc-id, folded into one
    # BIGINT key (q_e6 <= 1e6, doc ids < 1e10 — exact by construction)
    key = F.col("q_e6") * F.lit(10_000_000_000) - F.col("doc_id")
    return (
        memb.groupBy(F.col("label").alias("cluster_label"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.max_by("doc_id", key).alias("rep_doc"),
            F.max("q_e6").alias("rep_q_e6"),
            (F.max("q_e6") - F.min("q_e6")).cast("bigint").alias("q_spread_e6"),
            (F.count("*") - 1).cast("bigint").alias("docs_removed"),
        )
        .where(F.col("cluster_size") >= 2)
        .orderBy("cluster_label")
    )


@builder(
    "corpus_weighted_sample",
    tags=("curation", "sampling", "weighted", "reservoir"),
    doc="Weighted reservoir sampling (Efraimidis-Spirakis A-ES, "
    "derandomized): each document draws u from the frozen md5-prefix "
    "uniform and competes with priority u^(1/w), w = n_chars — ranked as "
    "ln(u)/w, integer-micro-scaled per row BEFORE ranking (the "
    "established transcendental discipline), so longer documents win "
    "proportionally more often yet the draw replays bit-identically on "
    "any engine and any partitioning. Top-50 via TakeOrderedAndProject — "
    "at 100 TB this is the one-pass, no-state weighted sample: no "
    "sequential reservoir, no RNG coordination, rerunnable for audit.",
    oracle="""
        WITH u AS (
            SELECT doc_id, n_chars, source,
                   (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) + 0.5) / 4294967296.0 AS u
            FROM documents
            WHERE n_chars > 0
        )
        SELECT doc_id, n_chars, source,
               CAST(ROUND(1000000.0 * ln(u) / n_chars) AS BIGINT) AS score_micro
        FROM u
        ORDER BY score_micro DESC, doc_id
        LIMIT 50
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = _md5_bucket(F.col("doc_id"))
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    return (
        d.select(
            "doc_id",
            "n_chars",
            "source",
            F.round(F.lit(1_000_000.0) * F.log(u) / F.col("n_chars"))
            .cast("bigint")
            .alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(50)
    )


@query(
    "decontam_fuzzy_pairs",
    tags=("curation", "decontamination", "similarity-join", "prefix-filter", "scale"),
    doc="Pairwise fuzzy decontamination with ATTRIBUTION: where "
    "corpus_decontamination reports how much of a training doc's shingle "
    "mass appears anywhere in the pooled eval set, this finds WHICH eval "
    "document leaked — an exact prefix-filtered R-S set-similarity join "
    "(AllPairs across two corpora instead of a self-join) between the "
    "training split and the deterministic eval split (doc_id % 7 == 0) at "
    "3-gram-shingle Jaccard >= 0.7, then the best-matching eval doc per "
    "contaminated training doc (highest Jaccard, smallest eval id on "
    "ties). Both sides rank shingles in ONE global rare-first canonical "
    "order (document frequency over the union corpus) and index only "
    "their first |x| - ceil(0.7|x|) + 1 shingles — ceil in exact integer "
    "form ((7n+9) div 10; 0.7 is not a representable double) — so any "
    "pair at threshold provably shares a prefix shingle: zero missed "
    "pairs, unlike the MinHash tier. At 100 TB the eval side is the tiny "
    "relation: its prefix index broadcasts, and only training shingles "
    "matching an eval prefix shingle ever shuffle.",
    oracle="""
        WITH tok AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       UNNEST(list_distinct(list_transform(
                           range(1, GREATEST(len(string_split(text, ' ')) - 2, 1) + 1),
                           i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
                       ))) AS tok
                FROM documents
            ) WHERE tok <> ''
        ), sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM tok GROUP BY doc_id
        ), dfreq AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
            FROM tok GROUP BY tok
        ), ranked AS (
            SELECT t.doc_id, t.tok,
                   ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                      ORDER BY d.df, t.tok) AS rn,
                   s.sz
            FROM tok t JOIN dfreq d USING (tok) JOIN sizes s USING (doc_id)
        ), prefix AS (
            SELECT doc_id, tok, sz FROM ranked
            WHERE rn <= sz - ((7 * sz + 9) // 10) + 1
        ), cand AS (
            SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id,
                   a.sz AS sz_train, b.sz AS sz_eval
            FROM prefix a JOIN prefix b ON a.tok = b.tok
            WHERE a.doc_id % 7 != 0 AND b.doc_id % 7 = 0
              AND 10 * a.sz >= 7 * b.sz AND 10 * b.sz >= 7 * a.sz
        ), inter AS (
            SELECT c.train_id, c.eval_id, c.sz_train, c.sz_eval,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM cand c
            JOIN tok ta ON ta.doc_id = c.train_id
            JOIN tok tb ON tb.doc_id = c.eval_id AND tb.tok = ta.tok
            GROUP BY 1, 2, 3, 4
        ), hit AS (
            SELECT train_id, eval_id, n_common, sz_train, sz_eval,
                   CAST(ROUND(1000000.0 * n_common
                              / (sz_train + sz_eval - n_common)) AS BIGINT)
                       AS jac_ppm
            FROM inter
            WHERE 10 * n_common >= 7 * (sz_train + sz_eval - n_common)
        )
        SELECT train_id, eval_id, n_common, sz_train, sz_eval, jac_ppm
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id
                                         ORDER BY jac_ppm DESC, eval_id) AS rk
            FROM hit
        ) WHERE rk = 1
        ORDER BY train_id
    """,
)
def decontam_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    # r14 restructure (guide §2.3/§2.4), mirroring set_similarity_join: the
    # cached frame holds the DISTINCT shingle ARRAY per doc; sz is a per-row
    # size(toks) carried through the explode (the r13 sizes groupBy + join
    # are gone), and verification is per-pair array_intersect instead of the
    # exploded (tok, doc) equi-join + groupBy.
    docs_arr = d.select(
        "doc_id",
        F.filter(shingles(F.col("text"), 3), lambda x: x != F.lit("")).alias("toks"),
    ).transform(tracked_cache)
    # tok cached too — it feeds dfreq AND ranked, and re-running the explode
    # per consumer from the array cache measured as a net loss (first-cut
    # A/B: 2.97 -> 3.45 s with the explode recomputed twice)
    tok = docs_arr.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("sz"),
        F.explode("toks").alias("tok"),
    ).transform(tracked_cache)
    # canonical rare-first order from the UNION corpus: both splits must
    # rank by the SAME frequency or the prefix-overlap guarantee breaks.
    # EVERY frame below grows with the corpus (the eval split here is 1/7
    # of it, NOT a fixed benchmark set). Catalyst's post-aggregate size
    # estimates under-guess and auto-broadcast a multi-GB build side —
    # measured OOM at the scaled corpus in the scaling sweep — so past a
    # corpus-size bound every join carries an explicit shuffle hint. The
    # bound comes from the SCAN-side estimate (reliable, unlike the
    # post-aggregate ones); small corpora keep the fast auto-broadcast
    # plan. The bounded-broadcast design point lives in decontam_increment,
    # where the eval side is small by contract.
    from aws_flight_data_pipeline_spark.functions.bloom import _estimated_rows

    _corpus_small = _estimated_rows(d) <= 20_000

    def _h(df: DataFrame) -> DataFrame:
        return df if _corpus_small else df.hint("merge")

    dfreq = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = _h(tok).join(_h(dfreq), "tok").withColumn("rn", F.row_number().over(w))
    # ceil(0.7*sz) in exact integers: (7*sz + 9) div 10
    prefix = ranked.where(
        F.col("rn") <= F.col("sz") - F.expr("(7 * sz + 9) div 10") + 1
    ).select("doc_id", "tok", "sz")
    is_eval = F.col("doc_id") % 7 == 0
    a = prefix.where(~is_eval).select(
        F.col("doc_id").alias("train_id"), "tok", F.col("sz").alias("sz_train")
    )
    b = prefix.where(is_eval).select(
        F.col("doc_id").alias("eval_id"), "tok", F.col("sz").alias("sz_eval")
    )
    cand = (
        a.join(_h(b), "tok")
        # length filter, exact integer form of 0.7 <= sz ratio bound
        .where(
            (10 * F.col("sz_train") >= 7 * F.col("sz_eval"))
            & (10 * F.col("sz_eval") >= 7 * F.col("sz_train"))
        )
        .select("train_id", "eval_id", "sz_train", "sz_eval")
        .distinct()
    )
    ca = docs_arr.select(F.col("doc_id").alias("train_id"), F.col("toks").alias("toks_a"))
    cb = docs_arr.select(F.col("doc_id").alias("eval_id"), F.col("toks").alias("toks_b"))
    inter = (
        cand.join(_h(ca), "train_id")
        .join(_h(cb), "eval_id")
        .select(
            "train_id",
            "eval_id",
            "sz_train",
            "sz_eval",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("bigint")
            .alias("n_common"),
        )
        # candidates share a prefix shingle so n_common >= 1; the guard
        # mirrors the r13 inner-join grain exactly
        .where(F.col("n_common") >= 1)
    )
    union_sz = F.col("sz_train") + F.col("sz_eval") - F.col("n_common")
    hit = inter.where(10 * F.col("n_common") >= 7 * union_sz).withColumn(
        "jac_ppm",
        F.round(F.lit(1_000_000.0) * F.col("n_common") / union_sz).cast("bigint"),
    )
    best = Window.partitionBy("train_id").orderBy(
        F.col("jac_ppm").desc(), F.col("eval_id")
    )
    return (
        hit.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .select("train_id", "eval_id", "n_common", "sz_train", "sz_eval", "jac_ppm")
        .orderBy("train_id")
    )


def shingle_tokenizer(text: Column) -> Column:
    """Distinct non-empty 3-gram shingles — the tokenizer the eval-split
    decontamination index is maintained with (``invindex.refresh_index``'s
    pluggable tokenizer)."""
    return F.filter(shingles(text, 3), lambda x: x != "")


#: Broadcast bound for the pairs-derived build sides in
#: ``decontam_increment`` — shared by the measured (pair-count) gate and
#: the frozen path's eval-doc guard (ADVICE r13 #2: both broadcast frames
#: on the frozen path are bounded by the number of DISTINCT eval docs in
#: the postings snapshot, so that is the quantity the guard checks).
_PAIR_BROADCAST_MAX = 1_000_000


def decontam_increment(
    spark: SparkSession,
    eval_index_path: str,
    increment: DataFrame,
    postings: DataFrame | None = None,
    postings_eval_docs: int | None = None,
) -> DataFrame:
    """Decontaminate a NEW training increment against a FIXED eval split
    SERVED FROM the incrementally-maintained inverted index — O(increment
    + eval) per probe, independent of how large the accumulated training
    corpus has grown (``decontam_fuzzy_pairs`` re-derives both sides'
    shingle state from the whole corpus every run; this is its
    steady-state production twin, matching the ``corpus_merge_increment``
    contract).

    Exact and trivially lossless: the probe is ONE streamed pass of the
    postings against the increment's broadcast shingle vocabulary —
    both sides are distinct per (doc, tok), so the matched-pair row count
    IS the exact intersection size and the J >= 0.7 cut applies directly;
    there is no candidate stage and no separate verify. A second streamed
    pass (semi-joined by the pair set) fetches set sizes for only the
    eval docs that shared a shingle. The eval side is never shuffled,
    sorted, or hash-built per probe — the eval-growth cost the r10
    scaling sweep flagged. A classic PPJoin-style prefix filter earns its
    keep when BOTH sides are corpus-scale (``decontam_fuzzy_pairs``); an
    increment is batch-bounded by the ingestion contract, so its
    vocabulary broadcast stays KB–MB. Tombstoned eval docs (a retired
    benchmark) drop out via the index's own mask.

    ``increment`` needs columns ``(doc_id, text)``; output matches
    ``decontam_fuzzy_pairs``: best-matching eval doc per contaminated
    training doc with exact-ppm Jaccard.

    ``postings`` (optional): a pre-materialized ``(eval_id, tok)`` snapshot
    of the index's live postings. The default path reads the versioned
    index and masks tombstones per probe — the honest steady-state cost
    when the eval suite churns; a caller whose eval index is FROZEN for
    the session (the unified admission gate) passes the snapshot instead
    and skips the per-probe manifest read + mask + cache materialization.

    ``postings_eval_docs`` (optional, frozen path only): the number of
    distinct eval docs in ``postings``, when the caller already knows it
    (the admission gate counts once at snapshot-build time). Both
    broadcast build sides on the frozen path are bounded by this count;
    when it is within ``_PAIR_BROADCAST_MAX`` the path stays fully lazy
    (zero extra jobs). An unhinted caller pays ONE cheap bounded probe
    (distinct eval ids, short-circuited just past the bound) — this is a
    public API and a large caller-supplied snapshot must not become an
    unbounded broadcast build side (ADVICE r13 #2); over the bound the
    pair-derived joins fall back to sort-merge exactly like the measured
    path.
    """
    from pyspark.sql.window import Window

    from aws_flight_data_pipeline_spark.sources import invindex as ix
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    if postings is not None:
        # a snapshot that carries per-doc set sizes (sz_eval — stamped at
        # snapshot-build time by _ensure_eval_index since r15) lets the
        # whole probe run as ONE streamed pass: set sizes ride the pairs
        # aggregation instead of a second epost pass + re-attach join
        has_sz_eval = "sz_eval" in postings.columns
        epost = postings.select(
            "eval_id", "tok", *(["sz_eval"] if has_sz_eval else [])
        )
    else:
        has_sz_eval = False
        v = vt.latest_version(eval_index_path)
        if v is None:
            raise FileNotFoundError(f"{eval_index_path} has no committed versions")
        m = vt._read_manifest(eval_index_path, v)
        post = ix._mask_tombstones(
            spark, eval_index_path, m, vt.read(spark, eval_index_path, version=v)
        )
        epost = post.select(F.col("doc_id").alias("eval_id"), "tok").transform(
            tracked_cache
        )

    frozen = postings is not None
    # tokenize each increment doc ONCE: the shingle array materializes in
    # the child projection, its size (= the doc's distinct-shingle count,
    # the tokenizer emits distinct shingles) rides every exploded row, and
    # the pairs aggregation below carries it through as min(sz_train) —
    # the r14 shape tokenized the batch TWICE (once for the pairs
    # broadcast, once for a standalone per-doc count) and paid a separate
    # broadcast + join to re-attach the counts (guide §1.2, §2.4)
    ttok = increment.select(
        F.col("doc_id").alias("train_id"),
        shingle_tokenizer(F.col("text")).alias("_toks"),
    ).select(
        "train_id",
        F.size("_toks").cast("bigint").alias("sz_train"),
        F.explode("_toks").alias("tok"),
    )

    # ONE streamed pass of the postings against the increment's BROADCAST
    # vocabulary: since postings and increment shingles are both distinct
    # per (doc, tok), count(*) per matched pair IS the exact intersection
    # size — no candidate stage, no separate verify. The r10 shape (df-
    # ranked eval prefix + candidate join + postings-broadcast verify)
    # paid three eval-sized shuffles plus an eval-sized hash build per
    # probe; profiled at eval ×100 the prefix derivation alone (one
    # aggregation + an MB-scale broadcast) cost more than this whole
    # pass (verdict-r10 #3: probe ×100/×1 was 2.76). The classic prefix
    # filter earns its keep when BOTH sides are corpus-scale
    # (decontam_fuzzy_pairs); an increment is batch-bounded by the
    # ingestion contract, so its vocabulary broadcast is KB–MB.
    pairs = (
        epost.join(F.broadcast(ttok), "tok")
        .groupBy("train_id", "eval_id")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            # constant within the group (one sz per doc); min() = that value
            F.min("sz_train").alias("sz_train"),
            *([F.min("sz_eval").alias("sz_eval")] if has_sz_eval else []),
        )
    )
    if has_sz_eval:
        # sizes already ride the pairs rows: the probe is ONE streamed
        # pass, fully lazy — no pair-derived build side exists, so the
        # ADVICE-r13-#2 broadcast guard has nothing to bound here
        inter = pairs
    else:
        # set sizes only for the eval docs that share at least one shingle
        # — a second streamed pass, semi-joined by the (candidate-bounded)
        # pair set; only needed when the postings carry no per-doc sizes
        if frozen:
            # frozen-index path: LAZY when the caller vouches for the
            # snapshot's size — no cache barrier, no eager count, no
            # separate jobs. Both pair-derived build sides are bounded by
            # the distinct eval docs in the snapshot; the hinted count
            # (or, unhinted, one bounded distinct-limit probe) keeps the
            # forced broadcast safe for arbitrary public-API callers
            # (ADVICE r13 #2).
            n_bound = postings_eval_docs
            if n_bound is None:
                n_bound = (
                    epost.select("eval_id")
                    .distinct()
                    .limit(_PAIR_BROADCAST_MAX + 1)
                    .count()
                )
        else:
            # manifest path: the build side is measured, shuffle fallback
            pairs = pairs.transform(tracked_cache)
            n_bound = pairs.count()

        def _pair_side(df: DataFrame) -> DataFrame:
            return (
                F.broadcast(df) if n_bound <= _PAIR_BROADCAST_MAX else df.hint("merge")
            )

        sz_e = (
            epost.join(
                _pair_side(pairs.select("eval_id").distinct()),
                "eval_id",
                "left_semi",
            )
            .groupBy("eval_id")
            .agg(F.count("*").cast("bigint").alias("sz_eval"))
        )
        inter = pairs.join(_pair_side(sz_e), "eval_id")
    union_sz = F.col("sz_train") + F.col("sz_eval") - F.col("n_common")
    hit = inter.where(10 * F.col("n_common") >= 7 * union_sz).withColumn(
        "jac_ppm",
        F.round(F.lit(1_000_000.0) * F.col("n_common") / union_sz).cast("bigint"),
    )
    best = Window.partitionBy("train_id").orderBy(
        F.col("jac_ppm").desc(), F.col("eval_id")
    )
    return (
        hit.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .select("train_id", "eval_id", "n_common", "sz_train", "sz_eval", "jac_ppm")
    )


def _decontam_eval_index(spark: SparkSession, sf_dir: str) -> str:
    """Commit the eval split (doc_id % 7 == 0) as a versioned table and
    build/refresh its shingle-tokenized inverted index; returns the index
    path. Per-invocation fresh state (the full episode is the honest cost
    of a first build; steady-state refreshes are the flat-cost path the
    scaling experiment measures)."""
    from aws_flight_data_pipeline_spark.sources import invindex as ix
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    root = tmproots.fresh("decontam", sf_dir)
    ev = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .select("doc_id", "text")
    )
    dpath, ipath = f"{root}/eval_docs", f"{root}/eval_index"
    vt.commit(ev.repartition(2), dpath, stats_cols=("doc_id",))
    # bloom_cols=(): the probe reads ALL postings of the frozen eval index
    # (no point-term file pruning ever runs against it), so per-file blooms
    # over the shingle vocabulary — the expensive-to-build case — were pure
    # dead weight inside this query's timed fresh-build grain (r15)
    ix.refresh_index(
        spark, dpath, ipath, tokenizer=shingle_tokenizer, bloom_cols=()
    )
    return ipath


_SHINGLE_SQL = """list_filter(list_distinct(list_transform(
        range(1, GREATEST(len(string_split(text, ' ')) - 2, 1) + 1),
        i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
    )), x -> x <> '')"""


def _ensure_admission_index(spark: SparkSession, sf_dir: str):
    """The base corpus's (doc_id % 7 == 1) admission index — exact-dedup
    fingerprints + banded MinHash buckets — a standing root
    (:func:`tmproots.standing`) read back as parquet. The inverted index
    is "the cost a 100 TB lake pays once, refreshed by the batch merge
    job, not per micro-batch" (``streams.corpus_admission_index``), so the
    admission gate probes it instead of re-shingling the base corpus on
    every decision batch. Returns ``(fp_index, band_buckets)``."""
    from aws_flight_data_pipeline_spark.streaming.streams import (
        corpus_admission_index,
    )

    def build(root: str) -> None:
        base = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 7 == 1)
            .select("doc_id", "text", "source")
        )
        fp_index, band_buckets = corpus_admission_index(base)
        fp_index.write.mode("overwrite").parquet(f"{root}/fp_index")
        band_buckets.write.mode("overwrite").parquet(f"{root}/band_buckets")

    root = tmproots.standing("admidx", sf_dir, build)
    return (
        spark.read.parquet(f"{root}/fp_index"),
        spark.read.parquet(f"{root}/band_buckets"),
    )


def _ensure_eval_index(spark: SparkSession, sf_dir: str) -> str:
    """The standing root (:func:`tmproots.standing`) holding the eval
    split's (doc_id % 7 == 0) shingle inverted index (``eval_index``), its
    live-postings snapshot and the snapshot's doc count. A frozen
    benchmark index is durable lake state a user pays for when the eval
    suite lands; ``decontam_incremental_probe`` keeps the fresh-build
    episode (the honest first-build cost), and consumers of the steady
    state (the unified admission twin) reuse this one."""
    from aws_flight_data_pipeline_spark.sources import invindex as ix
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    def build(root: str) -> None:
        ev = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 7 == 0)
            .select("doc_id", "text")
        )
        vt.commit(ev.repartition(2), f"{root}/eval_docs", stats_cols=("doc_id",))
        # bloom_cols=(): consumers read the index's live postings wholesale
        # (the snapshot below, or the mask path) — nothing point-probes it
        ix.refresh_index(
            spark, f"{root}/eval_docs", f"{root}/eval_index",
            tokenizer=shingle_tokenizer, bloom_cols=(),
        )
        # live-postings snapshot: the frozen index's tombstone-masked
        # (eval_id, tok) rows as plain parquet, so session consumers of the
        # FROZEN index (the unified admission gate) probe without paying
        # the per-probe manifest read + mask (see decontam_increment's
        # ``postings`` parameter). sz_eval — the doc's distinct-shingle
        # count — is stamped per row at build time, so the probe's
        # Jaccard denominators ride the single pairs aggregation instead
        # of a second snapshot pass + re-attach join per probe.
        from pyspark.sql.window import Window as _W

        v = vt.latest_version(f"{root}/eval_index")
        m = vt._read_manifest(f"{root}/eval_index", v)
        ix._mask_tombstones(
            spark, f"{root}/eval_index", m,
            vt.read(spark, f"{root}/eval_index", version=v),
        ).select(F.col("doc_id").alias("eval_id"), "tok").withColumn(
            "sz_eval",
            F.count("*").over(_W.partitionBy("eval_id")).cast("bigint"),
        ).write.mode(
            "overwrite"
        ).parquet(f"{root}/postings_snapshot")
        # count the snapshot's distinct eval docs ONCE at build time, so
        # frozen-path consumers can vouch for the broadcast bound without
        # any per-probe job (decontam_increment's postings_eval_docs hint)
        n_eval = (
            spark.read.parquet(f"{root}/postings_snapshot")
            .select("eval_id")
            .distinct()
            .count()
        )
        with open(f"{root}/n_eval_docs", "w") as fh:
            fh.write(str(n_eval))

    return tmproots.standing("evalidx", sf_dir, build)


def _ensure_eval_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen eval index's live-postings snapshot (``eval_id, tok``) —
    built alongside :func:`_ensure_eval_index`, read back as plain parquet."""
    return spark.read.parquet(f"{_ensure_eval_index(spark, sf_dir)}/postings_snapshot")


def _eval_postings_doc_count(spark: SparkSession, sf_dir: str) -> int:
    """The snapshot's distinct eval-doc count, stamped at build time —
    the ``postings_eval_docs`` hint that keeps the frozen probe path
    job-free."""
    with open(f"{_ensure_eval_index(spark, sf_dir)}/n_eval_docs") as fh:
        return int(fh.read().strip())


@query(
    "decontam_incremental_probe",
    tags=("curation", "decontamination", "incremental", "index", "scale"),
    doc="Steady-state decontamination: a NEW training increment (the "
    "natural doc_id % 7 == 3 batch plus PLANTED leaks — every third eval "
    "doc re-entering under a shifted id, guaranteeing exact-duplicate "
    "hits) probed against the eval split's shingle-tokenized inverted "
    "index (invindex with a pluggable tokenizer; tombstones, O(churn) "
    "refresh and atomic manifests all inherited). One-sided eval-prefix "
    "candidates + broadcast verify make the probe O(increment + eval), "
    "flat in accumulated-corpus size — decontam_fuzzy_pairs re-derives "
    "the full union-corpus state per run. The oracle is the EXACT "
    "unfiltered R-S join between the same increment and eval split, so "
    "parity proves the prefix filter drops nothing.",
    oracle=f"""
        WITH ev AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        ), inc AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3
            UNION ALL
            SELECT doc_id + 10000000, text FROM ev WHERE doc_id % 3 = 0
        ), etok AS (
            SELECT doc_id AS eval_id, UNNEST({_SHINGLE_SQL}) AS tok FROM ev
        ), ttok AS (
            SELECT doc_id AS train_id, UNNEST({_SHINGLE_SQL}) AS tok FROM inc
        ), se AS (
            SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS sz_eval
            FROM etok GROUP BY eval_id
        ), st AS (
            SELECT train_id, CAST(COUNT(*) AS BIGINT) AS sz_train
            FROM ttok GROUP BY train_id
        ), inter AS (
            SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM ttok JOIN etok USING (tok)
            GROUP BY 1, 2
        ), hit AS (
            SELECT train_id, eval_id, n_common, sz_train, sz_eval,
                   CAST(ROUND(1000000.0 * n_common
                              / (sz_train + sz_eval - n_common)) AS BIGINT)
                       AS jac_ppm
            FROM inter JOIN st USING (train_id) JOIN se USING (eval_id)
            WHERE 10 * n_common >= 7 * (sz_train + sz_eval - n_common)
        )
        SELECT train_id, eval_id, n_common, sz_train, sz_eval, jac_ppm
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id
                                         ORDER BY jac_ppm DESC, eval_id) AS rk
            FROM hit
        ) WHERE rk = 1
        ORDER BY train_id
    """,
)
def decontam_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ipath = _decontam_eval_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    planted = (
        d.where((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 3 == 0))
        .select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    )
    increment = d.where(F.col("doc_id") % 7 == 3).unionByName(planted)
    return decontam_increment(spark, ipath, increment).orderBy("train_id")


_BPE_APPLY_MERGES = 6


def _bpe_round_sql(r: int) -> str:
    """One sequential merge round of the BPE-apply oracle. For non-self
    pairs (w1 <> w2, enforced at derivation) matches can never overlap,
    so per-round simultaneous window logic equals the greedy fold."""
    prev = "toks0" if r == 1 else f"round{r - 1}"
    return f"""round{r} AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
                   CASE WHEN COALESCE(m, FALSE)
                        THEN tok || ' ' || nxt ELSE tok END AS tok
            FROM (
                SELECT doc_id, source, pos, tok,
                       LEAD(tok) OVER win AS nxt,
                       tok = (SELECT w1 FROM merges WHERE r = {r})
                         AND LEAD(tok) OVER win
                             = (SELECT w2 FROM merges WHERE r = {r}) AS m,
                       LAG(tok) OVER win = (SELECT w1 FROM merges WHERE r = {r})
                         AND tok = (SELECT w2 FROM merges WHERE r = {r}) AS prevm
                FROM {prev}
                WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            )
            WHERE NOT COALESCE(prevm, FALSE)
        )"""


@query(
    "bpe_apply_encode",
    tags=("curation", "tokenizer", "bpe", "higher-order"),
    doc="BPE ENCODE — the apply side of the tokenizer loop whose train "
    "side is bpe_merge_train: a 6-entry merge table is derived from the "
    "corpus bigram counts (count desc, pair asc; self-pairs excluded so "
    "greedy matches can never overlap within a round) and applied to "
    "every document IN RANK ORDER, each round a zero-shuffle left fold "
    "over the token array (merge fires when the accumulator's last token "
    "is w1 and the incoming token is w2 — classic greedy encoding; a "
    "pair consumed by an earlier-ranked merge is gone for later ones). "
    "The merge table rides a 1-row broadcast; the only shuffles are the "
    "bigram count and the final per-source rollup. The oracle replays "
    "the same rounds with window logic (simultaneous = greedy for "
    "non-self pairs). Emits per-source compression: tokens before/after, "
    "exact-ppm savings.",
    oracle=f"""
        WITH base AS (
            -- empties filtered BEFORE adjacency, matching the Spark side:
            -- a double space must not hide the bigram it interrupts
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM documents
        ), toks0 AS (
            SELECT doc_id, source, i AS pos, w[i] AS tok
            FROM base, UNNEST(range(1, len(w) + 1)) AS t(i)
        ), pairs AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT w[i] AS w1, w[i + 1] AS w2
                FROM base, UNNEST(range(1, len(w))) AS t(i)
            ) WHERE w1 <> w2
            GROUP BY 1, 2
        ), merges AS (
            SELECT * FROM (
                SELECT ROW_NUMBER() OVER (ORDER BY c DESC, w1, w2) AS r, w1, w2
                FROM pairs
            ) WHERE r <= {_BPE_APPLY_MERGES}
        ), {", ".join(_bpe_round_sql(r) for r in range(1, _BPE_APPLY_MERGES + 1))},
        before AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS tokens_before
            FROM toks0 GROUP BY source
        ), after AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS tokens_after
            FROM round{_BPE_APPLY_MERGES} GROUP BY source
        ), d AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS docs
            FROM base GROUP BY source
        )
        SELECT d.source, d.docs, b.tokens_before, a.tokens_after,
               CAST(ROUND(1000000.0 * (b.tokens_before - a.tokens_after)
                          / b.tokens_before) AS BIGINT) AS saved_ppm
        FROM d JOIN before b USING (source) JOIN after a USING (source)
        ORDER BY d.source
    """,
)
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_apply(spark, sf_dir, _BPE_APPLY_MERGES)


def _bpe_apply(
    spark: SparkSession, sf_dir: str, n_merges: int, hashed: bool = False
) -> DataFrame:
    """BPE encode with a corpus-derived ``n_merges``-entry merge table —
    shared by the 6-merge oracled query and the 64-merge depth builder.

    r14 encode-phase rewrite (guide §1.2 "per-task work"): each merge
    round is ONE literal ``replace`` over a space-doubled corpus string —
    the wrap trick ``bpe_merge_train``'s oracled rounds already prove out
    (doubling every inter-token gap makes adjacent-pair patterns
    non-overlapping, so all-occurrence left-to-right replace IS greedy
    BPE merging). The r13 form was a per-round ``aggregate()`` fold whose
    ``concat(acc, array(x))`` rebuilt the accumulator per element — O(L²)
    array copies per doc-round — and, being a lambda higher-order
    function, ran interpreted (zero WholeStageCodegen spans in the plan):
    ~17M interpreted lambda invocations at tokenizer depth on sf0.1,
    measured 13.5 s cold / 3.6 s warm as the hottest exec in the suite.
    ``replace`` is a plain codegen expression — one UTF8String scan per
    round, no lambda machinery, no per-element branches.

    Invariant that makes rounds chainable with a single scan each: the
    pattern ``" A  B "`` consumes one space of each doubled gap and the
    replacement ``" A<US>B "`` restores it, so the corpus stays in
    doubled-gap form across all rounds — the doubling is paid once, the
    undo never (token counts read off the space count: 2·n spaces for n
    tokens). Merged tokens are joined with the unit separator ``\\x1f``
    (absent from the corpus; the oracle's fold uses its own embedded-space
    joiner — only per-source totals are compared), so they can never match
    a later round's single-token pattern, exactly like the fold's
    embedded-space joiner kept merged tokens inert. A NULL merge row
    (fewer qualifying bigrams than rounds) becomes a never-matching
    pattern via coalesce — the identity round, same as the fold's NULL
    comparisons. ``hashed`` is retained for API compatibility but both
    tiers now run the same string algebra (the hashed fold's long-compare
    rationale died with the fold)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", "source", "text"
    )
    from aws_flight_data_pipeline_spark.functions.text import tokens

    tk_raw = tokens(F.col("text"))
    tk = F.filter(tk_raw, lambda x: x != "")
    base = d.select("doc_id", "source", tk.alias("tk")).transform(tracked_cache)

    pairs = (
        base.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("tk"), 1, F.size("tk") - 1),
                    F.slice(F.col("tk"), 2, F.size("tk") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .where(F.col("w1") != F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # rank merges (count desc, pair asc) WITHOUT collecting: sort_array on
    # struct(-c, w1, w2) canonicalizes collect_list's arbitrary order
    merges = pairs.agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct((-F.col("c")).alias("nc"), "w1", "w2"))
            ),
            1,
            n_merges,
        ).alias("m")
    ).select(
        F.transform("m", lambda s: s["w1"]).alias("ma"),
        F.transform("m", lambda s: s["w2"]).alias("mb"),
    )

    enc = base.crossJoin(F.broadcast(merges))

    def _merge_round_sql(prev: str, r: int) -> str:
        # one literal-replace scan per round over the doubled-gap corpus
        # string; NULL merge rows coalesce to a never-matching NUL pattern
        # (identity round). Single reference to `prev` per round, so the
        # 64-round chain collapses into one projection.
        a, b = f"try_element_at(ma, {r})", f"try_element_at(mb, {r})"
        pat = f"coalesce(concat(' ', {a}, '  ', {b}, ' '), '\\u0000')"
        rep = f"coalesce(concat(' ', {a}, '\\u001f', {b}, ' '), '')"
        return f"replace({prev}, {pat}, {rep})"

    # corpus string in doubled-gap wrapped form: " t1  t2  ...  tn "
    cur = "concat(' ', replace(concat_ws(' ', tk), ' ', '  '), ' ')"
    for r in range(1, n_merges + 1):
        cur = _merge_round_sql(cur, r)
    # n tokens <=> exactly 2n spaces in doubled-gap wrapped form (each
    # merge removes one gap = 2 spaces); empty docs special-case to 0.
    # The encoded string lands as its own column first so the two space
    # counters below consume an attribute, not two copies of the chain.
    step = enc.select("source", F.size("tk").alias("nb"), F.expr(cur).alias("s"))
    na = F.when(F.col("nb") == 0, F.lit(0)).otherwise(
        (F.length("s") - F.length(F.replace(F.col("s"), F.lit(" "), F.lit("")))) / 2
    )
    return (
        step.select("source", "nb", na.cast("bigint").alias("na"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("nb").cast("bigint").alias("tokens_before"),
            F.sum("na").cast("bigint").alias("tokens_after"),
        )
        .select(
            "source",
            "docs",
            "tokens_before",
            "tokens_after",
            F.round(
                F.lit(1_000_000.0)
                * (F.col("tokens_before") - F.col("tokens_after"))
                / F.col("tokens_before")
            )
            .cast("bigint")
            .alias("saved_ppm"),
        )
        .orderBy("source")
    )


@builder(
    "bpe_apply_encode_deep64",
    tags=("curation", "tokenizer", "bpe", "higher-order", "scale"),
    doc="The 6-merge oracled bpe_apply_encode at REALISTIC tokenizer depth: "
    "a 64-entry merge table applied in rank order, one zero-shuffle greedy "
    "left fold per round over the token arrays. Exists to prove (in the "
    "committed bench) that the per-round fold holds at depth — the 64-deep "
    "nested-lambda expression tree is where whole-stage codegen would "
    "degrade if the shape were wrong. Semantics are pinned against the "
    "6-merge oracle (a prefix of the same rank order); no 64-round SQL "
    "twin — the oracle grain stays at 6.",
)
def bpe_apply_encode_deep64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_apply(spark, sf_dir, 64, hashed=True)


#: Unfiltered distinct 3-shingles — the near-dup election's token sets
#: (functions.text.shingles(text, 3) verbatim; the decontamination side
#: filters '' via _SHINGLE_SQL, the admission index does not).
_USH_SQL = """list_distinct(list_transform(
        range(1, GREATEST(len(string_split(text, ' ')) - 2, 1) + 1),
        i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))"""

#: word 2-grams WITH multiplicity (functions.text.word_ngrams(text, 2)) —
#: the streaming quality gate's repetition rule counts duplicate
#: OCCURRENCES, not duplicate characters.
_G2_SQL = """list_transform(
        range(1, GREATEST(len(string_split(text, ' ')) - 1, 1) + 1),
        i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))"""


#: The per-increment admission batch: ONE natural micro-batch (doc_id % 7
#: == 2) plus planted re-entries that guarantee every decision outcome
#: fires regardless of corpus content (the decontam_incremental_probe
#: planted-leak precedent): every third eval doc re-enters under +10M
#: (guaranteed J=1 contamination hits), every fifth base-corpus doc under
#: +20M (guaranteed exact-duplicate hits vs the admission index), and
#: every ninth batch doc under +30M (guaranteed intra-batch keep-first
#: elections). Offsets are disjoint and far above any testdata doc_id.
_ADMISSION_INCREMENT_SQL = """
            SELECT doc_id, source, text FROM documents WHERE doc_id % 7 = 2
            UNION ALL
            SELECT doc_id + 10000000, source, text FROM documents
            WHERE doc_id % 7 = 0 AND doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + 20000000, source, text FROM documents
            WHERE doc_id % 7 = 1 AND doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 30000000, source, text FROM documents
            WHERE doc_id % 7 = 2 AND doc_id % 9 = 0
"""


def _unified_admission_oracle(batch_sql: str) -> str:
    from aws_flight_data_pipeline_spark.functions.text import minhash_fast_sql

    sig = minhash_fast_sql("sh", 8)
    jac_ppm = (
        "CAST(ROUND(1000000.0 * n_common / (sz_t + sz_e - n_common)) AS BIGINT)"
    )
    return f"""
        WITH batch AS (
            {batch_sql}
        ), qf AS (
            SELECT doc_id, source,
                   (wc BETWEEN 25 AND 90)
                   AND (4 * wc <= nchars AND nchars <= 6 * wc)
                   AND has_stop
                   AND (5 * dt >= 2 * wc)
                   AND (10 * (len(g2) - len(list_distinct(g2))) < len(g2))
                       AS passed_quality
            FROM (
                SELECT doc_id, source,
                       {_WORD_COUNT_SQL} AS wc,
                       LENGTH(text) - ({_WORD_COUNT_SQL} - 1) AS nchars,
                       len(list_distinct(string_split(text, ' '))) AS dt,
                       (contains(' ' || text || ' ', ' the ')
                        AND contains(' ' || text || ' ', ' a ')) AS has_stop,
                       {_G2_SQL} AS g2
                FROM batch
            )
        ), eval_sh AS (
            SELECT doc_id AS eval_id, {_SHINGLE_SQL} AS esh
            FROM documents WHERE doc_id % 7 = 0
        ), qp AS (
            SELECT b.doc_id, {_SHINGLE_SQL} AS tsh
            FROM batch b JOIN qf ON qf.doc_id = b.doc_id AND qf.passed_quality
        ), hits AS (
            SELECT doc_id, eval_id, n_common, sz_t, sz_e
            FROM (
                SELECT t.doc_id, e.eval_id,
                       len(list_intersect(t.tsh, e.esh)) AS n_common,
                       len(t.tsh) AS sz_t, len(e.esh) AS sz_e
                FROM qp t, eval_sh e
            ) WHERE 10 * n_common >= 7 * (sz_t + sz_e - n_common)
        ), best AS (
            SELECT doc_id, eval_id AS contaminating_eval_id, jac_ppm
            FROM (
                SELECT doc_id, eval_id, {jac_ppm} AS jac_ppm,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id
                           ORDER BY {jac_ppm} DESC, eval_id
                       ) AS rk
                FROM hits
            ) WHERE rk = 1
        ), cen AS (
            SELECT doc_id, fp, sh, {sig} AS sig
            FROM (
                SELECT b.doc_id, md5(lower(trim(b.text))) AS fp, {_USH_SQL} AS sh
                FROM batch b
                JOIN qf ON qf.doc_id = b.doc_id AND qf.passed_quality
                LEFT JOIN best ON best.doc_id = b.doc_id
                WHERE best.doc_id IS NULL
            )
        ), cbands AS (
            SELECT doc_id, fp, sh, 0 AS band_id,
                   md5(array_to_string(sig[1:4], '|')) AS band_key FROM cen
            UNION ALL
            SELECT doc_id, fp, sh, 1, md5(array_to_string(sig[5:8], '|')) FROM cen
        ), base AS (
            SELECT doc_id, fp, sh, {sig} AS sig
            FROM (
                SELECT doc_id, md5(lower(trim(text))) AS fp, {_USH_SQL} AS sh
                FROM documents WHERE doc_id % 7 = 1
            )
        ), bbands AS (
            SELECT sh, 0 AS band_id,
                   md5(array_to_string(sig[1:4], '|')) AS band_key FROM base
            UNION ALL
            SELECT sh, 1, md5(array_to_string(sig[5:8], '|')) FROM base
        ), vs_base AS (
            SELECT c.doc_id,
                   c.fp IN (SELECT fp FROM base) AS is_exact,
                   EXISTS (
                       SELECT 1 FROM cbands cb
                       JOIN bbands bb ON bb.band_id = cb.band_id
                                     AND bb.band_key = cb.band_key
                       WHERE cb.doc_id = c.doc_id
                         AND 2 * len(list_intersect(cb.sh, bb.sh))
                             >= len(cb.sh) + len(bb.sh)
                                - len(list_intersect(cb.sh, bb.sh))
                   ) AS is_near
            FROM cen c
        ), surv AS (
            SELECT c.doc_id, c.fp, c.sh FROM cen c
            JOIN vs_base v ON v.doc_id = c.doc_id
            WHERE NOT v.is_exact AND NOT v.is_near
        ), sbands AS (
            SELECT s.doc_id, s.sh, cb.band_id, cb.band_key
            FROM surv s JOIN cbands cb ON cb.doc_id = s.doc_id
        ), intra AS (
            SELECT b.doc_id FROM surv a
            JOIN surv b ON a.fp = b.fp AND a.doc_id < b.doc_id
            UNION
            SELECT b.doc_id FROM sbands a
            JOIN sbands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                         AND a.doc_id < b.doc_id
            WHERE 2 * len(list_intersect(a.sh, b.sh))
                  >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
        ), nd AS (
            SELECT v.doc_id, v.is_exact, v.is_near,
                   (i.doc_id IS NOT NULL) AS intra_batch_dup,
                   (NOT v.is_exact AND NOT v.is_near AND i.doc_id IS NULL)
                       AS dedup_ok
            FROM vs_base v LEFT JOIN (SELECT DISTINCT doc_id FROM intra) i
                ON i.doc_id = v.doc_id
        )
        SELECT b.doc_id, b.source,
               qf.passed_quality,
               best.contaminating_eval_id,
               best.jac_ppm,
               CAST(nd.is_exact AS INTEGER) AS is_exact,
               CAST(nd.is_near AS INTEGER) AS is_near,
               CAST(nd.intra_batch_dup AS INTEGER) AS intra_batch_dup,
               COALESCE(nd.dedup_ok, FALSE) AS admitted,
               CASE WHEN NOT qf.passed_quality THEN 'quality'
                    WHEN best.contaminating_eval_id IS NOT NULL THEN 'contaminated'
                    WHEN NOT nd.dedup_ok THEN 'duplicate'
                    ELSE NULL END AS reject_stage
        FROM batch b
        JOIN qf ON qf.doc_id = b.doc_id
        LEFT JOIN best ON best.doc_id = b.doc_id
        LEFT JOIN nd ON nd.doc_id = b.doc_id
        ORDER BY b.doc_id
    """


def _admission_decision_table(
    spark: SparkSession, sf_dir: str, batch: DataFrame
) -> DataFrame:
    """Shared body of the two admission-decision grains: run ``batch``
    through the composed gate against the session-prepared static sides
    (frozen eval index + base-corpus admission index — verdict r12 #1: a
    production gate probes standing indexes the lake maintains on its own
    cadence; re-deriving them inside every decision batch was cost, not
    semantics) and shape the per-document decision table."""
    from aws_flight_data_pipeline_spark.streaming.streams import (
        unified_admission_batch,
    )

    eval_index_path = f"{_ensure_eval_index(spark, sf_dir)}/eval_index"
    fp_index, band_buckets = _ensure_admission_index(spark, sf_dir)
    out = unified_admission_batch(
        spark, batch, eval_index_path, fp_index, band_buckets,
        eval_postings=_ensure_eval_postings(spark, sf_dir),
        eval_postings_docs=_eval_postings_doc_count(spark, sf_dir),
    )
    return out.select(
        "doc_id",
        "source",
        "passed_quality",
        "contaminating_eval_id",
        "jac_ppm",
        F.col("is_exact").cast("int").alias("is_exact"),
        F.col("is_near").cast("int").alias("is_near"),
        F.col("intra_batch_dup").cast("int").alias("intra_batch_dup"),
        "admitted",
        "reject_stage",
    ).orderBy("doc_id")


@query(
    "unified_admission_decision_table",
    oracle=_unified_admission_oracle(_ADMISSION_INCREMENT_SQL),
    tags=("curation", "admission", "quality", "decontamination", "dedup"),
    doc="The unified streaming admission gate at its PER-INCREMENT grain "
    "(verdict r12 #1, the ivm_single_increment precedent — and the "
    "reference's own semantics: main_validator.py:84-219 gates per batch, "
    "never re-deciding the accumulated corpus): ONE micro-batch's "
    "per-document decision table — quality funnel -> frozen-eval "
    "decontamination probe -> near-dup election vs the base-corpus "
    "admission index + intra-batch keep-first — composed in ONE DataFrame "
    "plan (streams.unified_admission_decisions, the SAME code path the "
    "streaming gate runs per micro-batch, so driver-verified semantics "
    "here ARE the gate's semantics). Deterministic splits of the "
    "documents table: eval = doc_id %% 7 == 0 (indexed via the versioned "
    "inverted index, exactly like decontam_incremental_probe), base "
    "corpus = doc_id %% 7 == 1 (fingerprint + 2x4-band MinHash admission "
    "index) — BOTH session-prepared standing state outside the timed "
    "grain; batch = the doc_id %% 7 == 2 micro-batch plus planted "
    "re-entries (see _ADMISSION_INCREMENT_SQL) guaranteeing every "
    "outcome class fires: eval leaks (contaminated), base-corpus copies "
    "(exact duplicates), intra-batch twins (keep-first elections). The "
    "full-corpus episode lives on as the oracled builder "
    "unified_admission_full_corpus. The oracle recomputes every stage "
    "value-exactly: md5 fingerprints, md5-family fast-MinHash bands, "
    "integer-exact Jaccard thresholds (2|I| >= |A|+|B|-|I| for J>=0.5; "
    "10|I| >= 7|U| for J>=0.7), ppm attribution with the rounded "
    "tie-break, short-circuit NULLs for stages a document never reached "
    "(the three mechanism flags travel as INTEGER 1/0/NULL — nullable "
    "booleans round-trip asymmetrically through pandas, nullable ints "
    "don't).",
)
def unified_admission_decision_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    did = F.col("doc_id")
    # ONE documents scan: each doc contributes its natural-batch row and/or
    # its planted re-entries via an exploded offset array (a 4-way union of
    # filtered scans would re-read and re-fan-out the table per branch —
    # 3 extra exchanges of pure plan overhead at this batch size)
    offsets = F.array_compact(
        F.array(
            F.when(did % 7 == 2, F.lit(0)),
            F.when((did % 7 == 0) & (did % 3 == 0), F.lit(10_000_000)),
            F.when((did % 7 == 1) & (did % 5 == 0), F.lit(20_000_000)),
            F.when((did % 7 == 2) & (did % 9 == 0), F.lit(30_000_000)),
        )
    )
    batch = (
        docs.select("*", F.explode(offsets).alias("_plant_off"))
        .withColumn("doc_id", did + F.col("_plant_off"))
        .drop("_plant_off")
    )
    return _admission_decision_table(spark, sf_dir, batch)


@builder(
    "unified_admission_full_corpus",
    oracle=_unified_admission_oracle(
        "SELECT doc_id, source, text FROM documents WHERE doc_id % 7 <> 1"
    ),
    tags=("curation", "admission", "quality", "decontamination", "dedup"),
    doc="The admission gate's FULL-CORPUS episode — the registered grain "
    "until r13 (rotated out when it breached the per-query latency bar in "
    "two independent windows; the per-increment grain above is what a "
    "production gate actually runs): every non-base document decided in "
    "one batch, eval docs riding along as planted contamination (J = 1 "
    "self-matches). Oracle retained in full, so the episode stays under "
    "the strict DuckDB parity harness.",
)
def unified_admission_full_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return _admission_decision_table(
        spark, sf_dir, docs.where(F.col("doc_id") % 7 != 1)
    )


def _split_of(bucket: Column) -> Column:
    """md5-bucket (mod 100) → 80/10/10 train/validation/test."""
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
    )


def leakage_split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document leakage-safe split assignment — the production API the
    registered ``leakage_safe_split`` aggregates over: ``(doc_id, label,
    toks, naive_split, split)`` where ``label`` is the document's EXACT
    near-dup component (fixpoint CC over the shared scored-pair snapshot,
    J >= 0.5) and ``split`` hashes that label, so a whole component lands
    in one split by construction. ``naive_split`` (per-doc hashing) is kept
    for the straddle audit. Exposed separately so consumers — and the
    independence test (tests/test_leakage_split.py) — can check the
    per-document contract, not just the aggregate."""
    from aws_flight_data_pipeline_spark.operators.graph import connected_components

    scored = scored_pairs_table(spark, sf_dir)
    edges = symmetrize(
        scored.filter(F.col("j") >= 0.5).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
    ).transform(tracked_cache)
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components(d.select(F.col("doc_id").alias("node")), edges)
    return (
        labels.join(d, labels["node"] == d["doc_id"])
        .select(
            F.col("node").alias("doc_id"),
            "label",
            word_count(F.col("text")).alias("toks"),
            _split_of(_md5_bucket(F.col("node"), 100)).alias("naive_split"),
            _split_of(_md5_bucket(F.col("label"), 100)).alias("split"),
        )
        .transform(tracked_cache)
    )


@query(
    "leakage_safe_split",
    tags=("curation", "split", "dedup", "graph", "leakage"),
    doc="Cluster-aware train/validation/test split — the leakage-safe "
    "upgrade of dataset_split_assign: hashing each document independently "
    "lets two near-duplicates straddle the train/test boundary (the classic "
    "eval-contamination path dedup alone does not close, because split "
    "assignment usually runs BEFORE the near-dup pruning decision is "
    "final). Here every document is assigned the split of its near-dup "
    "CLUSTER: verified pairs (the shared scored-pair snapshot, J >= 0.5) "
    "become EXACT components via the same connected-components operator as "
    "dedup_cluster_components, and the md5 bucket is taken over the CLUSTER "
    "label (80/10/10), so a whole component lands in exactly one split by "
    "construction. Output: per-split doc/token/cluster accounting plus the "
    "audit the operator exists for — straddled_clusters under naive per-doc "
    "hashing vs under cluster hashing (the latter computed, not assumed, "
    "and equal to 0) and the number of documents the cluster rule "
    "reassigned. Scale shape: CC is the existing distributed operator "
    "(one equi-join + one map-side-combinable min + one changed-label "
    "count per round, iterated to FIXPOINT — r12 fix: a truncated round "
    "count silently broke the zero-straddle guarantee on components of "
    "diameter > k, and the audit column could not see it); everything "
    "after it is two hashes and three hash aggregates over (doc, label) — "
    "no new shuffle class at 100 TB, and the audit aggregates are "
    "map-side combinable. The oracle's recursive closure is exact too, so "
    "parity carries no convergence assumption at any diameter.",
    oracle=f"""
        WITH RECURSIVE {SCORED_PAIRS_CTES}, dup_edges AS (
            SELECT doc_a AS u, doc_b AS v FROM scored WHERE j >= 0.5
            UNION ALL
            SELECT doc_b, doc_a FROM scored WHERE j >= 0.5
        ), {exact_labels_ctes(_DOC_NODES_SQL)},
        assigned AS (
            SELECT l.node AS doc_id, l.label,
                   {_WORD_COUNT_SQL} AS toks,
                   CASE WHEN {_md5_bucket_sql("l.node", 100)} < 80 THEN 'train'
                        WHEN {_md5_bucket_sql("l.node", 100)} < 90 THEN 'validation'
                        ELSE 'test' END AS naive_split,
                   CASE WHEN {_md5_bucket_sql("l.label", 100)} < 80 THEN 'train'
                        WHEN {_md5_bucket_sql("l.label", 100)} < 90 THEN 'validation'
                        ELSE 'test' END AS split
            FROM labels l JOIN documents d ON d.doc_id = l.node
        ),
        per_split AS (
            SELECT split,
                   CAST(COUNT(*) AS BIGINT) AS doc_count,
                   CAST(SUM(toks) AS BIGINT) AS token_total,
                   CAST(COUNT(DISTINCT label) AS BIGINT) AS cluster_count
            FROM assigned GROUP BY split
        ),
        cl AS (
            SELECT label, COUNT(*) AS n,
                   COUNT(DISTINCT naive_split) AS ns,
                   COUNT(DISTINCT split) AS ss
            FROM assigned GROUP BY label
        ),
        straddle AS (
            SELECT CAST(SUM(CASE WHEN n >= 2 AND ns > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS naive_straddled_clusters,
                   CAST(SUM(CASE WHEN n >= 2 AND ss > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS safe_straddled_clusters
            FROM cl
        ),
        mv AS (
            SELECT CAST(SUM(CASE WHEN naive_split <> split THEN 1 ELSE 0 END)
                        AS BIGINT) AS docs_reassigned
            FROM assigned
        )
        SELECT p.split, p.doc_count, p.token_total, p.cluster_count,
               g.naive_straddled_clusters, g.safe_straddled_clusters,
               m.docs_reassigned
        FROM per_split p, straddle g, mv m
        ORDER BY p.split
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = leakage_split_assignments(spark, sf_dir)
    per_split = assigned.groupBy("split").agg(
        F.count("*").alias("doc_count"),
        F.sum("toks").cast("bigint").alias("token_total"),
        F.countDistinct("label").alias("cluster_count"),
    )
    cl = assigned.groupBy("label").agg(
        F.count("*").alias("n"),
        F.countDistinct("naive_split").alias("ns"),
        F.countDistinct("split").alias("ss"),
    )
    glob = cl.agg(
        F.sum(F.when((F.col("n") >= 2) & (F.col("ns") > 1), 1).otherwise(0))
        .cast("bigint")
        .alias("naive_straddled_clusters"),
        F.sum(F.when((F.col("n") >= 2) & (F.col("ss") > 1), 1).otherwise(0))
        .cast("bigint")
        .alias("safe_straddled_clusters"),
    )
    moved = assigned.agg(
        F.sum(F.when(F.col("naive_split") != F.col("split"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_reassigned")
    )
    return (
        per_split.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(moved))
        .select(
            "split",
            "doc_count",
            "token_total",
            "cluster_count",
            "naive_straddled_clusters",
            "safe_straddled_clusters",
            "docs_reassigned",
        )
        .orderBy("split")
    )
