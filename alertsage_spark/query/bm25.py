"""Exact BM25 top-k retrieval as a declarative DataFrame plan.

Replaces the reference's dense cosine top-k retrieval loop
(/root/reference/src/triage/embeddings.py:118-145 argsort;
/root/reference/src/triage/cli.py:1239-1259 sparse transform + argmax +
sort/truncate) with Okapi BM25 (k1=1.2, b=0.75) over the inverted index.

Query plan (batch of queries in one job):
    queries(query_id, query_text)
      -> qterms(query_id, term)        distinct terms per query   [tiny]
      -> BROADCAST qterms  ⋈  postings ON term                    [hash join,
         postings stay partitioned; no shuffle of the big side]
      -> ⋈ termstats ON term (broadcast after filter to qterms)
      -> ⋈ doclen ON doc_id  (the one shuffle; at scale doclen is
         bucketed by doc_id alongside postings so this co-locates)
      -> per-(query,doc,term) partial score  ->  groupBy(query,doc) sum
      -> window rank (round(score,6) desc, doc_id asc)  <= k

Determinism / rank-identity: ties and float-noise are collapsed by
ordering on round(score, 6) with doc_id ascending as the final
tie-break — the Python oracle (oracle.py) and the DuckDB SQL oracle use
the identical rule, making top-k doc lists rank-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from alertsage_spark.index.build import B, K1, InvertedIndex, idf_col
from alertsage_spark.tokenizer import tokenize_col


def query_terms(
    queries: DataFrame,
    id_col: str = "query_id",
    text_col: str = "query_text",
    mode: str = "text",
) -> DataFrame:
    """Distinct (query_id, term) pairs using THE SAME tokenizer (and the
    same tokenizer MODE) as the index build (train/infer parity — the
    reference's one invariant, /root/reference/src/triage/preprocess.py
    applied at both notebooks/02 cell 3 and cli.py:1236). A code-mode
    index queried with text-mode terms would silently miss trigrams, so
    bm25_topk threads ``index.mode`` through here."""
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array_distinct(tokenize_col(F.col(text_col), mode=mode))
        ).alias("term"),
    )


def term_score_rows(index: InvertedIndex, qterms: DataFrame) -> DataFrame:
    """Per-(query_id, term, doc_id) BM25 term scores, pre-aggregation.

    ``qterms`` needs (query_id, term); any EXTRA columns (e.g. the
    boolean engine's clause ``role``) ride along untouched. This is the
    ONE definition of the scoring join shape — broadcast query terms
    into the postings scan, broadcast the filtered termstats — shared by
    bm25_scores and boolean_qualified so the two paths cannot drift
    apart.

    r6 shape: postings carry ``dl`` on the row, so the doclen join (a
    full extra corpus pass on a fresh index) disappears;
    ``index.corpus_stats`` (a 1-row aggregation branch that reuses the
    postings Exchange) supplies avgdl in-plan, so scoring a fresh index
    is ONE tokenize pass in ONE job. Indexes without it (segment
    relview) use the avgdl scalar — same arithmetic, same inputs."""
    matched = F.broadcast(qterms).join(index.postings, "term")
    qstats = qterms.select("term").distinct().join(index.termstats, "term")
    stats = getattr(index, "corpus_stats", None)
    if stats is not None:
        # ride avgdl along in the SAME tiny broadcast as df: equi-join
        # on a constant key keeps the plan free of nested-loop joins
        qstats = (
            qstats.withColumn("_one", F.lit(1))
            .join(stats.withColumn("_one", F.lit(1)), "_one")
            .drop("_one")
        )
        avgdl_e = F.col("_avgdl")
    else:
        avgdl_e = F.lit(index.avgdl)
    with_stats = matched.join(F.broadcast(qstats), "term")  # dl rides on the posting
    norm = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / avgdl_e)
    )
    return with_stats.withColumn(
        "term_score", idf_col(F.col("df"), index.n_docs) * norm
    )


def bm25_scores(index: InvertedIndex, qterms: DataFrame) -> DataFrame:
    """Full (query_id, doc_id, score) table — no k cutoff."""
    return (
        term_score_rows(index, qterms)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_score").alias("score"))
    )


def bm25_topk(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "query_id",
    text_col: str = "query_text",
    min_score: float | None = None,
) -> DataFrame:
    """Top-k per query: (query_id, doc_id, score double, rank int).

    ``min_score`` is the engine analog of the reference's uncertainty
    threshold gate (/root/reference/src/triage/cli.py:1254): hits below
    the cutoff are dropped before ranking.
    """
    scores = bm25_scores(index, query_terms(queries, id_col, text_col, mode=index.mode))
    if min_score is not None:
        scores = scores.filter(F.col("score") >= float(min_score))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.round("score", 6).alias("score"), "rank")
    )
