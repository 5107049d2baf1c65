"""Standing-index keyword retrieval: build term postings ONCE, serve
top-k conjunctive queries from the index with no corpus scan.

The registered ``text_keyword_search_topk`` query (plans/
queries_text.py) is the scan-shaped oracle twin: it re-tokenizes
candidate documents per query so DuckDB can hash-compare it. This
module is the shape a retrieval service actually deploys at 100 TB:

- ``build_term_postings`` — one corpus tokenize → a (term, doc_id,
  tf) postings table, written ONCE (parquet, partition-bucketed by
  term). Cost amortizes over every subsequent query.
- ``keyword_search_topk`` — serves a query purely from the postings:
  an ``isin`` filter on the term column (a plain column predicate →
  parquet PushedFilters / row-group skipping when the postings are
  persisted), one groupBy at doc grain over only the matching
  postings, and a TakeOrderedAndProject top-k. The corpus is never
  touched.

Semantics match the registered query exactly: whitespace tokens of
``lower(text)``, conjunctive AND over the query terms, ranked by
total term frequency with doc_id tie-break —
``test_retrieval.py`` pins index-vs-scan equality.

Round 8 extends the same pattern to BM25 ranking (VERDICT r7 #4):

- ``build_bm25_index`` — one corpus tokenize → a (term, doc_id, tf,
  dl) postings table with the document length DENORMALIZED onto every
  posting row (the classic "store the norm in the posting" layout —
  serving never joins back to a doc-length table), plus a 1-row
  corpus-stats table (n_docs, total_tokens). Built once, persisted.
- ``bm25_search_topk`` — serves a disjunctive BM25 top-k purely from
  the postings: term ``isin`` filter (pushed to the postings scan),
  per-term document frequency computed FROM the filtered postings
  (df(term) = number of postings rows for that term — exact, no
  corpus touch), broadcast df + stats, per-posting score, and a fixed
  left-fold summation over the query terms so float totals are
  bit-identical to the scan-shaped oracle twin
  (``text_bm25_linear_topk``). O(postings-of-terms) per query.

BM25 scoring matches ``plans/queries_text.py`` bit-for-bit: linear
idf surrogate (N-df+0.5)/(df+0.5) (ln() is not cross-engine
bit-stable; +,×,÷ are), k1=1.2, b=0.75, and a FIXED term summation
order — ``test_retrieval.py::test_bm25_index_equals_scan_query`` pins
index-vs-scan equality on collected rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_term_postings(documents: DataFrame) -> DataFrame:
    """(term, doc_id, tf): one row per distinct term per document.

    One explode + one (doc, term) shuffle — the same cost the scan
    path pays PER QUERY, paid once here. Persist with
    ``df.write.partitionBy(...)`` or sort/bucket by ``term`` so
    per-query term filters prune at the scan.
    """
    return (
        documents.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def keyword_search_topk(
    postings: DataFrame, terms: list[str], k: int = 10
) -> DataFrame:
    """(doc_id, total_tf, rank): top-k docs containing ALL ``terms``.

    Runs entirely on the postings table: the ``isin(terms)`` filter is
    a plain column predicate (pushed to the postings scan), the doc
    grain aggregate sees |terms| postings lists only, and the global
    top-k is TakeOrderedAndProject (per-partition heaps) with the
    rank stamped above the ``limit`` — never a full sort, never an
    unbounded global window.
    """
    qualified = (
        postings.filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.count_distinct("term").alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(terms))
    )
    top = (
        qualified.select("doc_id", F.col("total_tf").cast("long").alias("total_tf"))
        .orderBy(F.desc("total_tf"), F.asc("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("total_tf"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "total_tf", "rank")
        .orderBy("rank")
    )


def build_bm25_index(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) for standing BM25 serving.

    postings: (term, doc_id, tf, dl) — one row per distinct term per
    document, with the document token count denormalized on, so
    serving is a single postings scan with zero joins back to the
    corpus or a length table. One explode + one (doc, term) shuffle +
    one doc-grain join, paid ONCE at build time.

    stats: one row (n_docs, total_tokens) — n_docs counts ALL corpus
    documents (including empty ones, matching the oracle's
    ``count(*) FROM documents``); total_tokens sums dl as BIGINT.
    Both are DataFrames — nothing is collected here.

    Persist postings with ``partitionBy``/sort on ``term`` so the
    per-query ``isin`` filter prunes at the scan
    (``test_bm25_term_filter_pushed``).
    """
    toks = documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    postings = tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl")
    # coalesce: an EMPTY corpus must emit total_tokens=0, not NULL —
    # merge_bm25_stats is additive and NULL + x = NULL would poison
    # every future append onto an initially-empty index (ADVICE r8)
    stats = documents.select(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.select(
            F.coalesce(F.sum("dl"), F.lit(0).cast("long")).alias(
                "total_tokens"
            )
        )
    )
    return postings, stats


def merge_bm25_stats(stats_a: DataFrame, stats_b: DataFrame) -> DataFrame:
    """Merge two corpus-stats tables (n_docs, total_tokens) — both
    counters are additive, so incremental index maintenance is: append
    the new batch's postings rows (postings are (term, doc) grain —
    disjoint doc sets union cleanly, and dl is per-doc so it needs no
    rewrite) + merge stats. `test_retrieval.py` pins append ≡ full
    rebuild, serving results included."""
    a = stats_a.select(
        F.col("n_docs").alias("na"), F.col("total_tokens").alias("ta")
    )
    b = stats_b.select(
        F.col("n_docs").alias("nb"), F.col("total_tokens").alias("tb")
    )
    return a.crossJoin(b).select(
        (F.col("na") + F.col("nb")).alias("n_docs"),
        (F.col("ta") + F.col("tb")).alias("total_tokens"),
    )


def _bm25_posting_score():
    """Per-posting BM25 score expression over columns
    (tf, dl, df, n_docs, total_tokens) — operation-for-operation the
    expression in ``plans/queries_text.py`` (linear idf, k1=1.2,
    b=0.75) so doubles are bit-identical between the indexed path,
    the scan path, and the DuckDB oracle."""
    return (
        (
            ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        * (
            (F.col("tf").cast("double") * F.lit(2.2))
            / (
                F.col("tf").cast("double")
                + F.lit(1.2)
                * (
                    F.lit(0.25)
                    + F.lit(0.75)
                    * (
                        F.col("dl").cast("double")
                        / (
                            F.col("total_tokens").cast("double")
                            / F.col("n_docs").cast("double")
                        )
                    )
                )
            )
        )
    )


def bm25_search_topk(
    postings: DataFrame, stats: DataFrame, terms: list[str], k: int = 10
) -> DataFrame:
    """(doc_id, bm25): disjunctive BM25 top-k served from the standing
    index — the corpus is NEVER touched.

    - ``isin(terms)`` is a plain column predicate → parquet
      PushedFilters / row-group skipping on a persisted postings table;
    - df(term) falls out of the filtered postings (one row per
      (term, doc) with tf>0 by construction), so it is exact and costs
      |terms| tiny groups;
    - df + corpus stats are broadcast — the only shuffle is the
      doc-grain aggregate over the matched postings;
    - the per-doc total is a FIXED left-fold over ``terms`` (never a
      float groupBy-sum whose order the shuffle picks), so scores are
      bit-identical to the scan twin;
    - top-k is orderBy+limit → TakeOrderedAndProject, per-partition
      heaps, never a global sort.
    """
    if not terms:
        raise ValueError("bm25_search_topk needs at least one query term")
    matched = postings.filter(F.col("term").isin(list(terms)))
    dfreq = matched.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")  # one posting row per (term, doc)
    )
    scored = (
        matched.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", _bm25_posting_score().alias("s"))
    )

    def term_s(name: str):
        return F.coalesce(
            F.max(F.when(F.col("term") == name, F.col("s"))), F.lit(0.0)
        )

    total = term_s(terms[0])
    for name in terms[1:]:
        total = total + term_s(name)
    return (
        scored.groupBy("doc_id")
        .agg(total.alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
    )
