"""Corpus retrieval + statistical quality scoring over the documents table.

Two LLM-training-data operators that sit between the heuristic text signals
(``text_signal_suite``) and the embedding path (``plans/vector_queries.py``):

- **BM25 keyword retrieval** (``text_bm25_topk``): the lexical top-k search a
  corpus user runs to inspect/label slices of a 100 TB crawl. Everything is
  two hash-aggregates and two broadcast joins — the per-term document
  frequencies and the corpus length statistics are KB-scale frames, so the
  only large-data pass is one explode→filter over the documents scan.
- **Unigram-LM cross-entropy scoring** (``text_lm_quality_score``): the
  CCNet-style statistical quality filter — train a smoothed unigram language
  model on the corpus itself, score every document by average negative
  log-likelihood, and bucket the outliers (high cross-entropy ≈ gibberish /
  vocabulary-atypical text; the trainable upgrade of the fixed-heuristic
  quality score in ``operators/quality.py``). The LM is one hash-aggregate
  over the exploded token stream; scoring is one shuffle join of token
  instances against the (vocabulary-sized) model table.

Reference analog: the quality-scoring tier of the validator
(``src/lambda/quality_validator/quality_validator.py:196-282``) — heuristic
there, statistical here; the retrieval surface has no reference analog (Athena
ad-hoc SQL serves that role) and follows Robertson/Sparck-Jones BM25.

Cross-engine float discipline (see ``plans/registry.py``): transcendental
per-row values (ln) are integer-micro-scaled per document — ``ROUND(x * 1e6)``
— before any ranking or re-aggregation, so summation-order noise between
Spark and DuckDB cannot flip a value hash; corpus-level ratios are quotients
of exact BIGINT sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_flight_data_pipeline_spark.functions import tmproots
from aws_flight_data_pipeline_spark.functions.caching import tracked_cache
from aws_flight_data_pipeline_spark.functions.text import tokens, word_count
from aws_flight_data_pipeline_spark.plans.registry import builder, query
from aws_flight_data_pipeline_spark.plans.text_queries import _WORD_COUNT_SQL
from aws_flight_data_pipeline_spark.sources.testdata import load_table

#: BM25 query terms (present in the synthetic corpus vocabulary) and the
#: standard Robertson parameters.
BM25_TERMS: tuple[str, ...] = ("spark", "join", "stream", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

#: Unigram-LM smoothing (add-alpha) and the high-cross-entropy fence in
#: integer micro-nats. 3.42 sits above the corpus median (~3.40) and below
#: the max (~3.72), so both branches of the filter are exercised.
LM_ALPHA = 0.5
LM_FENCE_E6 = 3_420_000

_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@builder(
    "text_bm25_topk",
    tags=("text", "retrieval", "bm25", "topk"),
    doc="BM25 top-k keyword retrieval over the corpus: tf from one "
    "explode→filter pass (only query-term instances survive the filter, so "
    "the shuffled stream is O(matching tokens), not O(corpus tokens)), df "
    "and corpus length stats as KB-scale aggregate frames broadcast back, "
    "score = Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), ranked as "
    "per-doc integer micro-units with doc_id tiebreak → "
    "TakeOrderedAndProject. At 100 TB the plan is one documents pass plus "
    "two broadcast joins — no all-corpus shuffle ever carries text.",
    oracle=f"""
        WITH stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM({_WORD_COUNT_SQL}) AS BIGINT) / (1.0 * COUNT(*)) AS avgdl
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            WHERE tok IN ({_TERMS_SQL})
            GROUP BY doc_id, tok
        ),
        df AS (
            SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        ),
        dl AS (
            SELECT doc_id, {_WORD_COUNT_SQL} AS dl FROM documents
        ),
        scored AS (
            SELECT t.doc_id,
                   COUNT(*) AS n_terms,
                   CAST(ROUND(SUM(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (t.tf * ({BM25_K1} + 1.0))
                       / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))
                   ) * 1e6) AS BIGINT) AS score_e6
            FROM tf t
            JOIN df f ON t.tok = f.tok
            JOIN dl d ON t.doc_id = d.doc_id
            CROSS JOIN stats s
            GROUP BY t.doc_id
        )
        SELECT doc_id, n_terms, score_e6
        FROM scored
        ORDER BY score_e6 DESC, doc_id
        LIMIT {BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    wc = word_count(F.col("text"))

    # corpus stats: one 1-row aggregate, broadcast via crossJoin
    stats = d.agg(
        F.count("*").alias("n_docs"),
        (F.sum(wc) / (1.0 * F.count("*"))).alias("avgdl"),
    )

    # tf: explode, keep only query-term instances — the shuffled stream is
    # O(matching token instances); dl rides along so no second corpus pass
    term_lit = F.array(*[F.lit(t) for t in BM25_TERMS])
    tf = (
        d.select("doc_id", wc.alias("dl"), F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.array_contains(term_lit, F.col("tok")))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count("*").alias("tf"))
    )

    # df: |terms|-row frame — broadcast both small sides explicitly
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))

    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    contrib = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom

    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(contrib) * 1e6).cast("bigint").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


@builder(
    "text_lm_quality_score",
    tags=("text", "quality", "language-model", "perplexity"),
    doc="CCNet-style unigram-LM quality scoring: train add-alpha-smoothed "
    "token probabilities on the corpus (one hash-agg; the model is "
    "vocabulary-sized), score each document by mean negative log-likelihood "
    "(a broadcast join of token instances against the model — a web-scale "
    "open vocabulary would drop the hint and take the plain hash join, same "
    "plan minus the hint), "
    "micro-scale per doc, then roll up per language with a high-cross-"
    "entropy outlier fence. Integer-exact from the per-doc rounding onward.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, {_WORD_COUNT_SQL} AS wc,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        counts AS (
            SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
        ),
        tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS v FROM counts
        ),
        scored AS (
            SELECT t.doc_id, t.lang,
                   CAST(ROUND(SUM(
                       -ln((c.cnt + {LM_ALPHA}) / (tot.total + {LM_ALPHA} * tot.v))
                   ) / t.wc * 1e6) AS BIGINT) AS xent_e6
            FROM tok t
            JOIN counts c ON t.tok = c.tok
            CROSS JOIN tot
            GROUP BY t.doc_id, t.lang, t.wc
        )
        SELECT lang,
               COUNT(*) AS doc_count,
               CAST(SUM(xent_e6) AS BIGINT) / (1e6 * COUNT(*)) AS avg_xent,
               MIN(xent_e6) AS min_xent_e6,
               MAX(xent_e6) AS max_xent_e6,
               CAST(SUM(CASE WHEN xent_e6 > {LM_FENCE_E6} THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_xent_docs
        FROM scored
        GROUP BY lang
        ORDER BY lang
    """,
)
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    tok = d.select(
        "doc_id", "lang", word_count(F.col("text")).alias("wc"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    # cache the trained model: without it the vocab hash-agg subtree is
    # REBUILT for each of its two consumers (the broadcast model and the
    # total/V row) — a second full pass over the corpus token stream at
    # scale. Cached state is O(vocabulary), released by the registry's
    # self-cleaning wrapper (functions/caching.py).
    counts = tracked_cache(tok.groupBy("tok").agg(F.count("*").alias("cnt")))
    tot = counts.agg(F.sum("cnt").alias("total"), F.count("*").alias("v"))

    nll = -F.log((F.col("cnt") + LM_ALPHA) / (F.col("total") + LM_ALPHA * F.col("v")))
    scored = (
        tok.join(F.broadcast(counts), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang", "wc")
        .agg(F.round(F.sum(nll) / F.col("wc") * 1e6).cast("bigint").alias("xent_e6"))
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            (F.sum("xent_e6") / (1e6 * F.count("*"))).alias("avg_xent"),
            F.min("xent_e6").alias("min_xent_e6"),
            F.max("xent_e6").alias("max_xent_e6"),
            F.sum(F.when(F.col("xent_e6") > LM_FENCE_E6, 1).otherwise(0))
            .cast("bigint")
            .alias("high_xent_docs"),
        )
        .orderBy("lang")
    )


#: Wall-clock per lifecycle step of the LAST ``inverted_index_maintenance``
#: run — exported into the bench sidecar (step_breakdowns).
LAST_INDEX_STEP_SECONDS: dict[str, float] = {}


@builder(
    "inverted_index_maintenance",
    tags=("retrieval", "index", "ivm", "versioned", "scale"),
    doc="Incrementally-maintained inverted index (sources/invindex.py): the "
    "documents table lives as a versioned table through a load, an append, "
    "and a range DELETE; after every commit the postings table refreshes "
    "from the CHANGE FEED (tokenize only churned docs; deletes land as "
    "O(churn) doc-grain tombstones the queries anti-join; corpus stats "
    "ride the manifest "
    "as running integers), then BM25 top-k is answered FROM THE INDEX — "
    "stats from the manifest stamp, per-term postings via token-range + "
    "bloom file pruning; the documents table is never rescanned at query "
    "time. The oracle recomputes BM25 over the final document set "
    "wholesale, so parity proves maintained-index == full-rescan under "
    "inserts AND deletes.",
    oracle=f"""
        WITH final_docs AS (
            SELECT doc_id, text,
                   (SELECT MAX(doc_id) FROM documents
                    WHERE doc_id % 3 <> 0) // 4 AS cut
            FROM documents
        ), docs AS (
            SELECT doc_id, text FROM final_docs
            WHERE (doc_id % 3 <> 0 OR doc_id % 6 = 3) AND doc_id > cut
        ), stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM({{WC}}) AS BIGINT) / (1.0 * COUNT(*)) AS avgdl
            FROM docs
        ), tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM docs)
            WHERE tok IN ({_TERMS_SQL})
            GROUP BY doc_id, tok
        ), df AS (
            SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        ), dl AS (
            SELECT doc_id, {{WC}} AS dl FROM docs
        ), scored AS (
            SELECT t.doc_id,
                   COUNT(*) AS n_terms,
                   CAST(ROUND(SUM(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (t.tf * ({BM25_K1} + 1.0))
                       / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))
                   ) * 1e6) AS BIGINT) AS score_e6
            FROM tf t
            JOIN df f ON t.tok = f.tok
            JOIN dl d ON t.doc_id = d.doc_id
            CROSS JOIN stats s
            GROUP BY t.doc_id
        )
        SELECT doc_id, n_terms, score_e6
        FROM scored
        ORDER BY score_e6 DESC, doc_id
        LIMIT {BM25_TOPK}
    """.replace("{WC}", _WORD_COUNT_SQL),
)
def inverted_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    from aws_flight_data_pipeline_spark.sources import invindex
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    root = tmproots.fresh("invidx", sf_dir)
    dpath, ipath = f"{root}/docs", f"{root}/index"

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    import time as _time

    steps = LAST_INDEX_STEP_SECONDS
    steps.clear()
    _t0 = _time.perf_counter()

    def mark(step: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        steps[step] = round(now - _t0, 3)
        _t0 = now

    # 1. initial load (doc_id-clustered so the later DELETE prunes files);
    #    the delete cutoff rides the commit as an observed metric
    obs = Observation()
    vt.commit(
        docs.where(F.col("doc_id") % 3 != 0)
        .observe(obs, F.max("doc_id").alias("mx"))
        .repartitionByRange(4, "doc_id"),
        dpath,
        stats_cols=("doc_id",),
    )
    cut = int(obs.get["mx"]) // 4
    mark("load_docs")
    invindex.refresh_index(spark, dpath, ipath)  # full build
    mark("index_full_build")

    # 2. append increment -> index tokenizes only the new docs
    vt.commit(
        docs.where(F.col("doc_id") % 6 == 3).repartitionByRange(2, "doc_id"),
        dpath,
        mode="append",
        stats_cols=("doc_id",),
    )
    mark("append_docs")
    invindex.refresh_index(spark, dpath, ipath)
    mark("index_insert_refresh")

    # 3. range delete -> those docs' postings masked via an O(churn) tombstone
    vt.delete_where(spark, dpath, {"doc_id": (0, cut)})
    mark("delete_docs")
    invindex.refresh_index(spark, dpath, ipath)
    mark("index_delete_refresh")

    # 4. answer from the index alone
    return invindex.bm25_topk_from_index(
        spark, ipath, BM25_TERMS, k1=BM25_K1, b=BM25_B, topk=BM25_TOPK
    ).select("doc_id", F.col("n_terms").cast("bigint").alias("n_terms"), "score_e6")


@query(
    "index_single_refresh",
    tags=("retrieval", "index", "ivm", "versioned", "scale"),
    doc="The steady-state inverted-index operation at its own grain (the "
    "6-step lifecycle episode above stays the demo): ONE append against a "
    "pre-built index, ONE change-feed refresh (tokenizes only the "
    "appended docs), then BM25 top-k answered from the index. Final "
    "state is the full documents table, so the oracle is the wholesale "
    "BM25 recompute over all documents — parity proves the single "
    "increment converges to the rescan.",
    oracle=f"""
        WITH stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM({_WORD_COUNT_SQL}) AS BIGINT) / (1.0 * COUNT(*)) AS avgdl
            FROM documents
        ), tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok IN ({_TERMS_SQL})
            GROUP BY doc_id, tok
        ), df AS (
            SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        ), dl AS (
            SELECT doc_id, {_WORD_COUNT_SQL} AS dl FROM documents
        ), scored AS (
            SELECT t.doc_id,
                   COUNT(*) AS n_terms,
                   CAST(ROUND(SUM(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (t.tf * ({BM25_K1} + 1.0))
                       / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))
                   ) * 1e6) AS BIGINT) AS score_e6
            FROM tf t
            JOIN df f ON t.tok = f.tok
            JOIN dl d ON t.doc_id = d.doc_id
            CROSS JOIN stats s
            GROUP BY t.doc_id
        )
        SELECT doc_id, n_terms, score_e6
        FROM scored
        ORDER BY score_e6 DESC, doc_id
        LIMIT {BM25_TOPK}
    """,
)
def index_single_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_flight_data_pipeline_spark.sources import invindex
    from aws_flight_data_pipeline_spark.sources import versioned as vt

    def build_base(base: str) -> None:
        # the documents table and its refreshed index WITHOUT the increment
        docs0 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        vt.commit(
            docs0.where(F.col("doc_id") % 6 != 3).repartitionByRange(4, "doc_id"),
            f"{base}/docs",
            stats_cols=("doc_id",),
        )
        invindex.refresh_index(spark, f"{base}/docs", f"{base}/index")

    pristine = tmproots.standing("invidx-pristine", sf_dir, build_base)
    root = tmproots.fresh("invidx-single", sf_dir, like=pristine)
    dpath, ipath = f"{root}/docs", f"{root}/index"

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # THE measured operation: one append + one O(churn) refresh. The
    # increment is hash-clustered, not range-clustered: repartitionByRange
    # pays a sampling job that re-evaluates the filtered docs scan, and
    # nothing downstream of this grain prunes the DOCS table by doc_id
    # range (the refresh consumes the change feed at file grain; BM25
    # reads the index). Initial builds keep range clustering, where
    # corpus-scale locality earns the sampling pass.
    vt.commit(
        docs.where(F.col("doc_id") % 6 == 3).repartition(2, "doc_id"),
        dpath,
        mode="append",
        stats_cols=("doc_id",),
    )
    invindex.refresh_index(spark, dpath, ipath)

    return invindex.bm25_topk_from_index(
        spark, ipath, BM25_TERMS, k1=BM25_K1, b=BM25_B, topk=BM25_TOPK
    ).select("doc_id", F.col("n_terms").cast("bigint").alias("n_terms"), "score_e6")
