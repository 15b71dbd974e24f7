"""Inverted-index construction as declarative DataFrame plans.

Replaces the reference's sklearn ``TfidfVectorizer.fit/transform`` forward
index (/root/reference/src/triage/model.py:31-44, config
notebooks/02_prepare_text_and_features.ipynb cell 9) with a term->postings
inverted index:

    docs(doc_id, content)
      -> tokens     (doc_id, toks array<string>)          [pure SQL expr]
      -> doclen     (doc_id, dl)                          [no shuffle]
      -> postings   (term, doc_id, tf, dl)                [1 shuffle: groupBy]
      -> termstats  (term, df, cf)                        [partial agg free]
      -> corpus     N (row count), avgdl                  [N = docs.count();
                                                           avgdl = a 1-row
                                                           agg branch over
                                                           postings]

Scale notes (100 TB / 10^12 docs):
  * the explode+groupBy(term, doc_id) is the only wide shuffle in the
    build; Catalyst's partial aggregation combines map-side so the shuffle
    carries (term, doc_id, dl, partial_tf), not raw token occurrences.
  * doc length rides ON the posting row (+8 B through the one shuffle,
    grouped by (term, doc_id, dl) — dl is functionally dependent on
    doc_id so the groups are identical): the scorer then needs NO doclen
    join, which on an un-cached index was a second full tokenize pass of
    the corpus (r6 optimization, guide §2.3 "shuffle keys and metadata
    instead of payloads" / §2.4 "remove shuffles outright").
  * termstats AND the avgdl scalar are aggregation branches over the
    same postings subtree, so within one query execution they reuse the
    postings Exchange (ReusedExchange) instead of re-tokenizing: a full
    BM25 batch over a fresh corpus is ONE tokenize pass end to end.
  * n_docs comes from docs.count() — parquet row-count metadata (or a
    cached count), never a tokenize. avgdl == sum(tf)/n_docs exactly:
    sum of postings tf IS the total token count == sum of doc lengths,
    and both engines divide the same exact integers (docs with zero
    tokens contribute 0 to either formulation and are counted in n by
    both).
  * hot-term skew is defused downstream at segment build via salting
    (see segments.py); AQE skew-join is the runtime fallback.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alertsage_spark.index.compress import B, K1  # noqa: F401 (re-exported)
from alertsage_spark.session import persist_bounded
from alertsage_spark.tokenizer import tokenize_col

# bounded registries for the per-build postings materializations (see
# persist_bounded: repeated builds in one process release old storage)
_POSTINGS_PERSISTS: deque = deque()
_FIELDED_PERSISTS: deque = deque()


def idf_col(df_col, n_docs: int):
    """Lucene-style BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5)).

    Always positive; identical formula in the Python oracle
    (query/oracle.py) and the DuckDB SQL oracle (__spark_entry__).
    """
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


class InvertedIndex:
    """Handles to the logical index tables (lazily evaluated DataFrames).

    ``cache()`` pins them for multi-query sessions; ``save()/load``
    round-trips through parquet (the segment/manifest format with varbyte
    compression lives in segments.py — this class is the uncompressed
    relational view used by the exact join+agg scorer).

    Fields:
      doclen     (doc_id long, dl long)
      postings   (term string, doc_id long, tf long, dl long) — dl
                 rides on the posting row so scoring skips the doclen
                 join.
      termstats  (term string, df long, cf long)
      n_docs     int — eager, cheap (row count only).
      avgdl      float — LAZY when constructed with avgdl=None: first
                 access runs the doclen aggregation. The scorer never
                 touches it when ``corpus_stats`` is set (the in-plan
                 1-row branch replaces the scalar, letting a fresh-index
                 query run as one job with zero extra corpus passes).
      corpus_stats  1-row DataFrame (_avgdl double) or None.
    """

    def __init__(
        self,
        doclen: DataFrame,
        postings: DataFrame,
        termstats: DataFrame,
        n_docs: int,
        avgdl: float | None,
        mode: str = "text",
        corpus_stats: DataFrame | None = None,
    ):
        self.doclen = doclen
        self.postings = postings
        self.termstats = termstats
        self.n_docs = int(n_docs)
        self._avgdl = avgdl
        self.mode = mode
        self.corpus_stats = corpus_stats

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            row = self.doclen.agg(F.avg("dl").alias("avgdl")).collect()[0]
            self._avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 0.0
        return self._avgdl

    @avgdl.setter
    def avgdl(self, v: float) -> None:
        self._avgdl = v

    def cache(self) -> "InvertedIndex":
        """Pin the index for a long life: its owner unpersists it, so
        the bounded per-build registries must never evict its postings."""
        for reg in (_POSTINGS_PERSISTS, _FIELDED_PERSISTS):
            if self.postings in reg:  # DataFrame equality is identity
                reg.remove(self.postings)
        self.doclen.cache()
        self.postings.cache()
        self.termstats.cache()
        return self

    def unpersist(self) -> None:
        for d in (self.doclen, self.postings, self.termstats):
            d.unpersist()


def tokens_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", mode: str = "text"
) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), tokenize_col(F.col(text_col), mode=mode).alias("toks")
    )


def _corpus_stats_df(postings: DataFrame, n_docs: int) -> DataFrame | None:
    """1-row (_avgdl) aggregation branch over postings. Within a query
    it shares the postings Exchange (ReusedExchange) — no extra pass.
    sum(tf) == sum of doc lengths exactly (every token occurrence is
    counted once in exactly one posting's tf)."""
    if n_docs <= 0:
        return None
    return postings.agg(
        (F.sum("tf").cast("double") / F.lit(float(n_docs))).alias("_avgdl")
    )


# adaptive_partitions sizing: estimated postings rows per document and
# rows per partition of a long-lived cached index
_ROWS_PER_DOC = 100.0
_TARGET_ROWS = 2_000_000


def adaptive_partitions(n_docs: int) -> int:
    """Size-derived partition count for a long-lived cached relation:
    ceil(estimated rows / target). NOT a local-mode constant — a 5k-doc
    fixture coalesces to 1 partition (a per-query stage over it is one
    task instead of shuffle-partition-count near-empty tasks), a 10^9-doc
    corpus gets ~50k partitions."""
    import math

    return max(1, math.ceil(n_docs * _ROWS_PER_DOC / _TARGET_ROWS))


def build_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "text",
) -> InvertedIndex:
    """Build the logical inverted index from a documents DataFrame."""
    toks = tokens_df(docs, id_col, text_col, mode)
    doclen = toks.select("doc_id", F.size("toks").alias("dl"))
    postings = (
        toks.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )
    # Materialize the postings relation: building the index IS this op's
    # semantics, and the first query's scoring/termstats/avgdl branches
    # each prune different columns, so Catalyst CANNOT reuse one
    # Exchange across them (measured: 3 full tokenize+shuffle passes per
    # fresh-index query batch, zero ReusedExchange). The persist makes
    # the tokenize+explode+shuffle run ONCE (block-level locking dedups
    # concurrent branch materialization); callers that are done with the
    # index call unpersist(), and the bounded registry releases older
    # builds' storage in long sessions (cache() takes a long-lived
    # index out of it). Lazy as before — nothing runs until the first
    # action.
    postings = persist_bounded(postings, _POSTINGS_PERSISTS)
    termstats = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    n_docs = docs.count()  # row-count only: parquet metadata / cached count
    return InvertedIndex(
        doclen=doclen,
        postings=postings,
        termstats=termstats,
        n_docs=n_docs,
        avgdl=None,  # lazy scalar; scorers use corpus_stats in-plan
        mode=mode,
        corpus_stats=_corpus_stats_df(postings, n_docs),
    )


def build_fielded_index(
    docs: DataFrame,
    fields: list[tuple[str, float]],
    id_col: str = "doc_id",
    mode: str = "text",
    tokenized: bool = False,
    coalesce_to: int | None = None,
) -> InvertedIndex:
    """BM25F-style fielded index: several text columns, each with a
    weight (e.g. [("title", 2.0), ("body", 1.0)]).

    Uses the simplified BM25F of Robertson/Zaragoza (weighted term
    frequencies into the standard saturation): per (term, doc)
    tf = sum_f w_f * tf_f, per doc dl = sum_f w_f * len_f, df counts a
    doc once however many fields hold the term. The result plugs into
    the SAME scorers as build_index — postings.tf and doclen.dl are
    doubles here, which bm25_scores consumes unchanged.

    ``tokenized=True``: the field columns are ALREADY token arrays
    (array<string>) — callers that derive fields by slicing one token
    array (ft_bm25f_topk) pass the slices directly instead of
    array_join-ing to strings and re-tokenizing.

    Scale shape (r6): every field is tokenized ONCE in a single
    projection, the per-field (term, weight) structs are concatenated
    and exploded in ONE Generate (no per-field union re-running the
    tokenizer per branch), dl = sum_f w_f*len_f is computed in the same
    projection and rides on the exploded rows through the single
    groupBy(term, doc_id, dl) shuffle — the whole build is one pass,
    one shuffle, regardless of field count.
    """
    tok_exprs = [
        (F.col(c) if tokenized else tokenize_col(F.col(c), mode=mode)).alias(
            f"_t{i}"
        )
        for i, (c, _w) in enumerate(fields)
    ]
    base = docs.select(F.col(id_col).alias("doc_id"), *tok_exprs)
    def _tw(weight: float):
        # single-arg lambda: PySpark passes (element, index) to 2-arg
        # lambdas, so the weight must bind via closure, not a default
        return lambda t: F.struct(t.alias("term"), F.lit(weight).alias("w"))

    dl_expr = None
    tw_parts = []
    for i, (_c, w) in enumerate(fields):
        part = F.size(f"_t{i}").cast("double") * F.lit(float(w))
        dl_expr = part if dl_expr is None else dl_expr + part
        tw_parts.append(F.transform(F.col(f"_t{i}"), _tw(float(w))))
    withdl = base.select(
        "doc_id", F.concat(*tw_parts).alias("_tw"), dl_expr.alias("dl")
    )
    exploded = withdl.select(
        "doc_id", "dl", F.explode("_tw").alias("_x")
    ).select("doc_id", "dl", F.col("_x.term").alias("term"), F.col("_x.w").alias("w"))
    postings = (
        exploded.groupBy("term", "doc_id", "dl")
        .agg(F.sum("w").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )
    if coalesce_to is not None:
        postings = postings.coalesce(coalesce_to)
    # same rationale as build_index: one materialization serves the
    # scoring, termstats and avgdl branches of the first query
    postings = persist_bounded(postings, _FIELDED_PERSISTS)
    doclen = withdl.select("doc_id", "dl")
    termstats = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    n_docs = docs.count()
    return InvertedIndex(
        doclen=doclen,
        postings=postings,
        termstats=termstats,
        n_docs=n_docs,
        avgdl=None,
        mode=mode,
        corpus_stats=_corpus_stats_df(postings, n_docs),
    )
