"""Text-analysis queries over the ``documents`` table (training-data
pipeline surface): language-ID, quality scoring, token counting and
fingerprinting as per-row native expressions; BM25 retrieval; and the
Kneser-Ney n-gram models with their incremental and streamed
maintenance (``kn_bigram_merge``, ``kn_trigram_merge``)."""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import reduce

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..functions.text import lang_id, lang_id_sql, tokens
from ..operators.ranking import with_global_rank
from ..operators.retrieval import bm25_search_topk, build_bm25_index
from .queries_dedup import _TOKS_SQL
from .registry import ORACLE, query


@query(
    "text_token_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           {X.n_tokens_sql()} AS n_tokens,
           {X.n_bpe_tokens_sql()} AS n_bpe_tokens,
           {X.punct_count_sql()} AS n_punct
    FROM documents
    """,
)
def _text_token_stats(spark, t):
    return t["documents"].select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        X.n_tokens().alias("n_tokens"),
        X.n_bpe_tokens().alias("n_bpe_tokens"),
        X.punct_count().alias("n_punct"),
    )


@query(
    "text_quality_score",
    f"""
    SELECT doc_id,
           n_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(stop_hits AS DOUBLE) / n_tokens END AS stopword_ratio,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(n_punct AS DOUBLE) / length(text) END AS punct_ratio,
           (n_tokens >= 10 AND stop_hits > 0) AS quality_ok
    FROM (
        SELECT doc_id, text,
               {X.n_tokens_sql()} AS n_tokens,
               {X.stop_hits_sql('en')} AS stop_hits,
               {X.punct_count_sql()} AS n_punct
        FROM documents
    )
    """,
)
def _text_quality_score(spark, t):
    # length/punct/stopword heuristics — the standard pre-training
    # quality gates, as one codegen'd projection
    d = t["documents"].select(
        "doc_id",
        "text",
        X.n_tokens().alias("n_tokens"),
        X.stop_hits("en").alias("stop_hits"),
        X.punct_count().alias("n_punct"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.col("stop_hits").cast("double") / F.col("n_tokens"))
        .alias("stopword_ratio"),
        F.when(F.length("text") == 0, F.lit(0.0))
        .otherwise(F.col("n_punct").cast("double") / F.length("text"))
        .alias("punct_ratio"),
        ((F.col("n_tokens") >= 10) & (F.col("stop_hits") > 0)).alias("quality_ok"),
    )


@query(
    "text_lang_id",
    f"""
    SELECT doc_id, lang AS lang_labeled, {X.lang_id_sql()} AS lang_predicted
    FROM documents
    """,
)
def _text_lang_id(spark, t):
    # n-gram/stopword language-ID heuristic (argmax of per-language
    # stopword hits, deterministic tie-break)
    return t["documents"].select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        X.lang_id().alias("lang_predicted"),
    )


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           {X.fingerprint_sql()} AS fingerprint,
           length({X.NORMALIZE_SQL.format(c='text')}) AS n_chars_normalized
    FROM documents
    """,
)
def _text_fingerprint(spark, t):
    # md5 document fingerprint over normalized text — the exact-dedup key
    return t["documents"].select(
        "doc_id",
        X.fingerprint().alias("fingerprint"),
        F.length(F.expr(X.NORMALIZE_EXPR.format(c="text"))).alias(
            "n_chars_normalized"
        ),
    )


def chunk_windows(df, stride: int = 150, width: int = 200, extra_cols=()):
    """Overlapping context-window chunking: ``width``-char windows at a
    ``stride``-char step. sequence+explode is narrow — each row expands
    locally, no shuffle, and output partitions scale with input splits.

    Empty documents are filtered out BEFORE the explode: for
    length(text)=0 the chunk count is 0 and Spark's ``sequence(1, 0)``
    yields a DESCENDING [1, 0] (two bogus chunk rows), while SQL
    engines' generate_series(1, 0) yields none — the guard pins the
    zero-chunks semantics on both."""
    n_chunks = (F.floor((F.length("text") - 1) / stride) + 1).cast("long")
    cols = [*extra_cols, "doc_id"]
    return (
        df.filter(F.length("text") > 0)
        .select(
            *cols,
            "text",
            F.explode(F.sequence(F.lit(1).cast("long"), n_chunks)).alias("i"),
        )
        .selectExpr(
            *cols,
            "i AS chunk_id",
            f"substr(text, CAST((i - 1) * {stride} + 1 AS INT), {width}) AS chunk",
        )
    )


@query(
    "docs_chunk_windows",
    """
    SELECT doc_id, i AS chunk_id,
           substr(text, (i - 1) * 150 + 1, 200) AS chunk
    FROM (SELECT doc_id, text,
                 unnest(generate_series(
                     1, CAST(floor((length(text) - 1) / 150) AS BIGINT) + 1
                 )) AS i
          FROM documents
          WHERE length(text) > 0)
    """,
)
def _docs_chunk_windows(spark, t):
    # context-window chunking — the shard step before tokenization in a
    # training pipeline (see chunk_windows for the empty-doc guard)
    return chunk_windows(t["documents"])


@query(
    "text_top_terms",
    r"""
    SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '\s+')) AS term
          FROM documents)
    WHERE term <> ''
    GROUP BY term
    ORDER BY tf DESC, term
    LIMIT 20
    """,
)
def _text_top_terms(spark, t):
    # corpus vocabulary head: term frequency + document frequency,
    # integer-exact, deterministic tie-break (tf desc, term asc) so the
    # top-20 boundary is stable. One shuffle on term; the final top-k
    # is TakeOrderedAndProject (per-partition heap, no global sort).
    toks = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(20)
    )


@query(
    "json_extract_props",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def _json_extract_props(spark, t):
    # semi-structured extraction: Spark get_json_object ↔ DuckDB json_extract
    return t["events"].select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


@query(
    "grouped_median_dev",
    """
    WITH ev AS (
        SELECT event_id, user_id, trunc(value * 100)::BIGINT AS value_cents
        FROM events
    )
    SELECT event_id, user_id, value_cents,
           median(value_cents) OVER (PARTITION BY user_id) AS median_val,
           value_cents - median(value_cents) OVER (PARTITION BY user_id)
               AS dev_val
    FROM ev
    """,
)
def _grouped_median_dev(spark, t):
    # applyInPandas grouped-map surface (operators/grouped.py) on a
    # MID-cardinality key — per-user median event value in exact minor
    # units. user count scales with the data, so group sizes stay
    # bounded at 100 TB (the low-cardinality form is
    # grouped_median_dev_native below). The oracle runs the same math
    # as a window median — proving the pandas path bit-matches SQL.
    from ..operators.grouped import median_dev_grouped

    ev = t["events"].select(
        "event_id",
        "user_id",
        (F.col("value") * 100).cast("long").alias("value_cents"),
    )
    return median_dev_grouped(ev, key="user_id", id_col="event_id",
                              val_col="value_cents")


@query(
    "grouped_median_dev_native",
    """
    SELECT doc_id, source, n_chars,
           median(n_chars) OVER (PARTITION BY source) AS median_val,
           n_chars - median(n_chars) OVER (PARTITION BY source) AS dev_val
    FROM documents
    """,
)
def _grouped_median_dev_native(spark, t):
    # the LOW-cardinality-safe twin: exact median via middle-rank
    # extraction (spill-backed window sort + broadcast join back) —
    # no unbounded pandas group materialization
    from ..operators.grouped import median_dev_native

    return median_dev_native(
        t["documents"], key="source", id_col="doc_id", val_col="n_chars"
    )


@query(
    "pii_redact_contacts",
    f"""
    WITH c AS (
        SELECT c_custkey,
               c_name || ' <' || lower(replace(c_name, '#', '.'))
               || '@example.com> tel 555-' || printf('%03d', c_custkey % 1000)
               || '-' || printf('%04d', c_custkey % 10000)
               || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
               || '.' || CAST(c_custkey % 250 AS VARCHAR) AS contact
        FROM customer
    )
    SELECT c_custkey, {X.redact_pii_sql('contact')} AS redacted
    FROM c
    """,
)
def _pii_redact_contacts(spark, t):
    # PII scrub — the pre-training redaction pass. The contact string
    # is CONSTRUCTED from customer rows (the synthetic corpus has no
    # PII), then redacted; running construction + redaction on both
    # engines makes the oracle a true Java-regex ↔ RE2 parity check
    # over thousands of distinct realistic values.
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com> tel 555-"),
        F.format_string("%03d", F.col("c_custkey") % 1000),
        F.lit("-"),
        F.format_string("%04d", F.col("c_custkey") % 10000),
        F.lit(" ip 10.0."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit("."),
        (F.col("c_custkey") % 250).cast("string"),
    )
    return (
        t["customer"]
        .select("c_custkey", contact.alias("contact"))
        .select("c_custkey", X.redact_pii("contact").alias("redacted"))
    )


@query(
    "text_tfidf_top_terms",
    r"""
    WITH toks AS (
        SELECT doc_id, term
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\s+')) AS term
              FROM documents)
        WHERE term <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
    SELECT doc_id, term, tf, df, term_rank FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, df.df ASC, tf.term)
                   AS term_rank
        FROM tf JOIN df ON tf.term = df.term)
    WHERE term_rank <= 3
    ORDER BY doc_id, term_rank
    """,
)
def _text_tfidf_top_terms(spark, t):
    # tf-idf characteristic terms per document — the feature-selection
    # step of corpus curation. The idf ORDERING is what matters, and
    # (tf DESC, df ASC, term) ranks exactly as tf·log(N/df) would
    # while staying in integers — no engine-libm log in the compared
    # output (ln(x) is not bit-identical across math libraries). Plan:
    # tf is one (doc,term) shuffle, df one term shuffle, the join
    # re-uses df's term partitioning, and the per-doc top-3 is a
    # running row_number — no global sort of the token stream.
    # persisted: tf and df branches both consume the token stream —
    # unpersisted, the scan+explode pipeline runs twice
    toks = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .persist()
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df, "term")
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "term", "tf", "df", "term_rank")
        .orderBy("doc_id", "term_rank")
    )


@query(
    "text_fuzzy_pairs_levenshtein",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
               AS edit_dist
    FROM documents a
    JOIN documents b
      ON substr(a.text, 1, 8) = substr(b.text, 1, 8)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 12
    ORDER BY id_a, id_b
    """,
)
def _text_fuzzy_pairs_levenshtein(spark, t):
    # edit-distance near-dup verify: exact Levenshtein on 40-char
    # prefixes, RESTRICTED to an 8-char-prefix equi-join bucket so the
    # pair space is bucket-local (the same blocking discipline as the
    # LSH pipelines — never all-pairs). Levenshtein is an exact integer
    # metric with one standard definition, so Spark and DuckDB agree
    # bit-for-bit. At scale the prefix bucket join is one hash shuffle;
    # O(40²) DP per candidate pair only.
    d = t["documents"].select("doc_id", F.substring("text", 1, 40).alias("p40"),
                              F.substring("text", 1, 8).alias("p8"))
    a = d.select(F.col("doc_id").alias("id_a"), F.col("p40").alias("pa"),
                 F.col("p8").alias("ba"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("p40").alias("pb"),
                 F.col("p8").alias("bb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("edit_dist", F.levenshtein("pa", "pb"))
        .filter(F.col("edit_dist") <= 12)
        .select("id_a", "id_b", "edit_dist")
        .orderBy("id_a", "id_b")
    )


@query(
    "text_pseudonymize_sha2",
    """
    SELECT sha256('pepper-2026|' || CAST(user_id AS VARCHAR)) AS uid_pseudo,
           count(*) AS n_events
    FROM events
    GROUP BY uid_pseudo
    ORDER BY uid_pseudo
    """,
)
def _text_pseudonymize_sha2(spark, t):
    # keyed pseudonymization — the reversible-only-with-the-pepper
    # counterpart to pii_redact_contacts: replace the identifier with
    # sha256(pepper || id) so per-user analytics still join/group while
    # raw ids never leave the cluster. Pure native hash, zero shuffle
    # beyond the count aggregate; both engines emit identical lowercase
    # hex.
    pseudo = F.sha2(
        F.concat(F.lit("pepper-2026|"), F.col("user_id").cast("string")), 256
    )
    return (
        t["events"]
        .groupBy(pseudo.alias("uid_pseudo"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("uid_pseudo")
    )


@query(
    "docs_novelty_hapax",
    r"""
    WITH dt AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           s -> s <> '') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1]))
                   AS bigram
        FROM dt
    ),
    freq AS (SELECT bigram, count(*) AS n FROM bg GROUP BY 1)
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           CAST(SUM(CASE WHEN freq.n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(SUM(CASE WHEN freq.n = 1 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS novelty_bp
    FROM bg JOIN freq ON bg.bigram = freq.bigram
    GROUP BY 1
    ORDER BY 1
    """,
)
def _docs_novelty_hapax(spark, t):
    # corpus-novelty quality signal: the fraction of a document's word
    # bigrams that are HAPAX in the corpus (occur exactly once
    # anywhere). High hapax share = unusual text (fresh content, or
    # garbage); low = boilerplate assembled from common phrasing. The
    # LM-free stand-in for a perplexity filter, and integer-exact end
    # to end (basis points via integer division) so it hash-matches
    # any engine — no libm in the compared output. Plan: narrow
    # explode to (doc, bigram) grain; ONE bigram-grain shuffle for the
    # corpus frequency; the join back reuses the bigram partitioning;
    # final per-doc agg is a doc-grain shuffle. Never doc×doc, no
    # skew: bigram keys are near-uniform.
    # bind the token array ONCE via the single-element-array lambda
    # (the SHINGLES_EXPR discipline — a bare subexpression would be
    # projection-collapsed into the per-bigram lambda); CASE guards
    # 0/1-token docs (Spark's sequence(0, -1) would count DOWN)
    bigrams = (
        "transform(array(filter(split(lower(text), '\\\\s+'), s -> s != '')),"
        " tok -> CASE WHEN size(tok) < 2 THEN array()"
        " ELSE transform(sequence(0, size(tok) - 2),"
        "                i -> concat(tok[i], ' ', tok[i + 1])) END)[0]"
    )
    # persisted: bg feeds both the corpus frequency AND the join-back
    # side — unpersisted, the scan+explode pipeline runs twice
    bg = t["documents"].select(
        "doc_id", F.explode(F.expr(bigrams)).alias("bigram")
    ).persist()
    freq = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return (
        bg.join(freq, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum((F.col("n") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_hapax",
            F.expr("n_hapax * 10000 DIV n_bigrams").alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_keyword_search_topk",
    r"""
    WITH toks AS (
        SELECT doc_id, term
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\s+')) AS term
              FROM documents)
        WHERE term IN ('scan', 'join', 'hash')
    ),
    hits AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    )
    SELECT doc_id, total_tf, rank FROM (
        SELECT doc_id, total_tf,
               row_number() OVER (ORDER BY total_tf DESC, doc_id) AS rank
        FROM (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
              FROM hits GROUP BY doc_id
              HAVING count(DISTINCT term) = 3)
    )
    WHERE rank <= 10
    ORDER BY rank
    """,
)
def _text_keyword_search_topk(spark, t):
    # conjunctive (AND) keyword retrieval with tf ranking — the
    # boolean-retrieval primitive over the same token stream as the
    # inverted index. Ranking stays in integers (total term frequency,
    # doc_id tie-break) per the no-libm discipline; BM25's idf/log
    # factor is deliberately out of the compared output. Plan: a
    # conjunctive substring pre-filter (a strict SUPERSET of the
    # token-equality match, so results are unchanged) runs in the
    # scan stage so the explode fans out over candidate docs only —
    # at 100 TB the corpus-wide tokenize is the cost, not the
    # aggregate; then the IN-list filter drops non-query tokens, one
    # (doc,term) shuffle, the AND check is count-distinct==|terms|
    # per doc, and the global top-10 is TakeOrderedAndProject
    # (per-partition heaps), never a full sort. Standing-index
    # retrieval (no corpus scan at all) is operators/retrieval.py;
    # this registered twin stays scan-shaped so DuckDB can oracle it.
    terms = ["scan", "join", "hash"]
    lt = F.lower(F.col("text"))
    candidates = t["documents"].filter(
        reduce(lambda a, b: a & b, [lt.contains(term) for term in terms])
    )
    toks = candidates.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
    ).filter(F.col("term").isin(terms))
    hits = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    qualified = (
        hits.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.count_distinct("term").alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(terms))
    )
    top = (
        qualified.select("doc_id", "total_tf")
        .orderBy(F.desc("total_tf"), F.asc("doc_id"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("total_tf"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "total_tf", "rank")
        .orderBy("rank")
    )


@query(
    "docs_length_percentiles_by_source",
    r"""
    WITH n AS (
        SELECT source,
               len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                               s -> s <> '')) AS n_tokens
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           quantile_cont(n_tokens, 0.5) AS p50_tokens,
           quantile_cont(n_tokens, 0.9) AS p90_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM n
    GROUP BY 1
    ORDER BY 1
    """,
)
def _docs_length_percentiles_by_source(spark, t):
    # per-source document-length distribution — the corpus-governance
    # view behind mixture weighting and length-filter threshold
    # choices (token BUDGET by source comes from total_tokens).
    # Integer token counts; medians/p90 interpolate identically
    # (quantile_cont ≡ percentile precedent). One aggregate at source
    # grain, no joins, no explode — size() on the split array never
    # materializes per-token rows.
    n_tokens = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda s: s != "")
    )
    return (
        t["documents"]
        .select("source", n_tokens.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
            F.expr("percentile(n_tokens, 0.9)").alias("p90_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("source")
    )


@query(
    "docs_quality_gate_funnel",
    r"""
    WITH d AS (
        SELECT n_chars,
               len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                               s -> s <> '')) AS n_toks,
               length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct
        FROM documents
    )
    SELECT count(*) AS n_total,
           CAST(sum((n_chars >= 200)::INT) AS BIGINT) AS n_len_ok,
           CAST(sum((n_chars >= 200 AND n_toks >= 30)::INT) AS BIGINT)
               AS n_tok_ok,
           CAST(sum((n_chars >= 200 AND n_toks >= 30
                     AND n_punct * 100 <= n_chars * 20)::INT) AS BIGINT)
               AS n_punct_ok
    FROM d
    """,
)
def _docs_quality_gate_funnel(spark, t):
    # quality-gate FUNNEL: cumulative survivor counts through the
    # length → token-count → punctuation gates, one corpus pass, no
    # shuffle beyond the final 1-row aggregate. The ratio gate is the
    # integer cross-multiply (n_punct*100 <= n_chars*20), never a
    # float division. This is the governance twin of
    # text_quality_score: the same gates, reported as pipeline yield
    # instead of per-doc flags.
    d = t["documents"].select(
        "n_chars",
        F.size(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda s: s != "")
        ).alias("n_toks"),
        F.length(
            F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")
        ).alias("n_punct"),
    )
    len_ok = F.col("n_chars") >= 200
    tok_ok = len_ok & (F.col("n_toks") >= 30)
    punct_ok = tok_ok & (F.col("n_punct") * 100 <= F.col("n_chars") * 20)
    return d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(len_ok.cast("int")).alias("n_len_ok"),
        F.sum(tok_ok.cast("int")).alias("n_tok_ok"),
        F.sum(punct_ok.cast("int")).alias("n_punct_ok"),
    )


# whitespace tokenizer twin of queries_dedup._TOKS_SQL
_TOKS_SPARK = "filter(split(lower(trim(text)), '\\\\s+'), s -> s != '')"


@query(
    "docs_token_rarity",
    r"""
    WITH dt AS (
        SELECT DISTINCT doc_id, tok
        FROM documents,
             unnest(list_filter(
                 string_split_regex(lower(trim(text)), '\s+'),
                 s -> s <> '')) AS u(tok)
    ),
    df AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1)
    SELECT doc_id,
           count(*) AS n_terms,
           CAST(sum(df) AS BIGINT) AS sum_df,
           CAST(sum(df) * 10000 // count(*) AS BIGINT) AS mean_df_e4
    FROM dt JOIN df USING (tok)
    GROUP BY 1
    ORDER BY 1
    """,
)
def _docs_token_rarity(spark, t):
    # unigram-rarity scoring: a document's mean corpus document-
    # frequency over its DISTINCT terms — the LM-free cousin of
    # docs_novelty_hapax at unigram grain (low mean-df = rare
    # vocabulary; high = stock phrasing). Integer-exact end to end:
    # sum-of-df and term counts are BIGINTs, the mean crosses as a
    # ×10⁴ rational. Plan: narrow explode to distinct (doc, term);
    # ONE term-grain shuffle for df; the join back reuses the term
    # partitioning; final doc-grain agg. Never doc×doc. The (doc,
    # term) set feeds both sides, so it is persisted once.
    dt = (
        t["documents"]
        .select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("tok"))
        .distinct()
        .persist()
    )
    df = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        dt.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("sum_df"),
        )
        .select(
            "doc_id",
            "n_terms",
            "sum_df",
            F.expr("sum_df * 10000 DIV n_terms").alias("mean_df_e4"),
        )
        .orderBy("doc_id")
    )


_VOCAB_SIZES = [100, 1000, 10000]


@query(
    "text_vocab_coverage",
    rf"""
    WITH toks AS (
        SELECT tok
        FROM documents,
             unnest(list_filter({_TOKS_SQL}, s -> s <> '')) AS u(tok)
    ),
    tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
    ranked AS (
        SELECT tok, tf, row_number() OVER (ORDER BY tf DESC, tok) AS rnk
        FROM tf
    ),
    total AS (
        SELECT CAST(sum(tf) AS BIGINT) AS total_tokens,
               count(*) AS n_terms_total
        FROM tf
    ),
    sizes AS (SELECT unnest([{", ".join(map(str, _VOCAB_SIZES))}])
              AS vocab_size)
    SELECT vocab_size, n_terms_total, total_tokens, covered_tokens,
           CAST(((total_tokens - covered_tokens) * 10000)
                // total_tokens AS BIGINT) AS oov_bp
    FROM (
        SELECT s.vocab_size, t.n_terms_total, t.total_tokens,
               CAST(sum(CASE WHEN r.rnk <= s.vocab_size
                             THEN r.tf ELSE 0 END) AS BIGINT)
                   AS covered_tokens
        FROM ranked r CROSS JOIN sizes s CROSS JOIN total t
        GROUP BY 1, 2, 3
    )
    ORDER BY vocab_size
    """,
)
def _text_vocab_coverage(spark, t):
    # tokenizer-vocabulary planning: what OOV rate does a top-V
    # frequency vocabulary buy? — the sweep you run before fixing a
    # BPE/vocab budget. The term table (already aggregated, orders of
    # magnitude below token grain) is ranked with the DISTRIBUTED
    # exact ranking (range partition + per-partition row_number +
    # broadcast offsets, operators/ranking.py) — never a global-order
    # window over terms, whose cardinality at 100 TB is itself
    # hundreds of millions. The 3-row size dimension and the 1-row
    # total broadcast onto the ranked terms; OOV crosses as basis
    # points.
    toks = t["documents"].select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda s: s != "",
            )
        ).alias("tok")
    )
    # the term table feeds the ranking (twice — ranked rows + offsets)
    # AND the total; unpersisted, the corpus tokenize+explode runs
    # three times. Terms are the right grain to cache: orders of
    # magnitude below token grain.
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf")).persist()
    ranked = with_global_rank(
        tf.withColumn("neg_tf", -F.col("tf")), ["neg_tf", "tok"], "rnk"
    )
    total = tf.agg(
        F.sum("tf").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_terms_total"),
    )
    sizes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v) for v in _VOCAB_SIZES])
        ).alias("vocab_size")
    )
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(total))
        .groupBy("vocab_size", "n_terms_total", "total_tokens")
        .agg(
            F.sum(
                F.when(F.col("rnk") <= F.col("vocab_size"), F.col("tf"))
                .otherwise(0)
            ).alias("covered_tokens")
        )
        .select(
            "vocab_size",
            "n_terms_total",
            "total_tokens",
            "covered_tokens",
            F.expr(
                "((total_tokens - covered_tokens) * 10000)"
                " DIV total_tokens"
            ).alias("oov_bp"),
        )
        .orderBy("vocab_size")
    )


@query(
    "docs_langid_agreement",
    f"""
    WITH pred AS (
        SELECT lang AS declared, {lang_id_sql("text")} AS predicted
        FROM documents
    )
    SELECT declared, predicted,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN declared = predicted
                         THEN count(*) ELSE 0 END)
                    OVER (PARTITION BY declared) * 10000
                // sum(count(*)) OVER (PARTITION BY declared)
                AS BIGINT) AS declared_agreement_bp
    FROM pred
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def _docs_langid_agreement(spark, t):
    # metadata-vs-model confusion table: declared `lang` column versus
    # the engine's n-gram lang_id prediction — the audit you run
    # before trusting EITHER signal to filter a 100-TB corpus. Output
    # at (declared, predicted) grain with each declared language's
    # agreement rate in basis points. One fact pass (lang_id is a
    # per-row native expression, zero shuffle) into a cell-grain
    # aggregate; the agreement window runs over the ≤|langs|² cell
    # table. The window's SUM over grouped counts mirrors the oracle
    # exactly (sum of CASE over the declared partition).
    pred = t["documents"].select(
        F.col("lang").alias("declared"), lang_id("text").alias("predicted")
    )
    cells = pred.groupBy("declared", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return cells.select(
        "declared",
        "predicted",
        "n_docs",
        F.expr(
            "CAST(sum(CASE WHEN declared = predicted THEN n_docs ELSE 0 END)"
            " OVER (PARTITION BY declared) * 10000 AS BIGINT)"
            " DIV sum(n_docs) OVER (PARTITION BY declared)"
        ).alias("declared_agreement_bp"),
    ).orderBy("declared", "predicted")


@query(
    "docs_char_class_profile",
    r"""
    WITH d AS (
        SELECT source, n_chars,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   AS n_alpha,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
               length(regexp_replace(text, '[^ \t\n]', '', 'g'))
                   AS n_space
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST((sum(n_alpha) * 10000) // sum(n_chars) AS BIGINT)
               AS alpha_bp,
           CAST((sum(n_digit) * 10000) // sum(n_chars) AS BIGINT)
               AS digit_bp,
           CAST((sum(n_space) * 10000) // sum(n_chars) AS BIGINT)
               AS space_bp
    FROM d
    GROUP BY 1
    ORDER BY 1
    """,
)
def _docs_char_class_profile(spark, t):
    # per-source character-class fingerprint: alphabetic / digit /
    # whitespace shares — the cheap content-type signal that separates
    # prose from tables, logs, and code before any model runs. Counts
    # via regexp_replace-and-measure (a character class with IDENTICAL
    # semantics in Java regex and RE2), per-row native exprs, one
    # source-grain aggregate; shares as basis points over exact sums.
    d = t["documents"].select(
        "source",
        "n_chars",
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digit"),
        F.length(F.regexp_replace("text", "[^ \t\n]", "")).alias("n_space"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.expr(
                "(sum(n_alpha) * 10000) DIV sum(n_chars)"
            ).alias("alpha_bp"),
            F.expr(
                "(sum(n_digit) * 10000) DIV sum(n_chars)"
            ).alias("digit_bp"),
            F.expr(
                "(sum(n_space) * 10000) DIV sum(n_chars)"
            ).alias("space_bp"),
        )
        .orderBy("source")
    )


@query(
    "docs_source_lang_mix",
    """
    WITH cells AS (
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_total
        FROM documents GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, chars_total,
           CAST((n_docs * 10000)
                // sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
               AS source_share_bp
    FROM cells
    ORDER BY 1, 2
    """,
)
def _docs_source_lang_mix(spark, t):
    # corpus composition grid: documents and bytes per source×language
    # with each language's share of its source — the mixture report
    # that feeds sampling weights (corpus_mixture_sample). One
    # cell-grain aggregate; the share window runs over the ≤|sources|
    # ×|langs| cell table, never the fact.
    cells = (
        t["documents"]
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
    )
    return cells.select(
        "source",
        "lang",
        "n_docs",
        "chars_total",
        F.expr(
            "(n_docs * 10000) DIV (sum(n_docs) OVER (PARTITION BY source))"
        ).alias("source_share_bp"),
    ).orderBy("source", "lang")


@query(
    "text_bigram_pmi",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           s -> s <> '') AS tk
        FROM documents
    ),
    big AS (
        SELECT tk[u.i] AS t1, tk[u.i + 1] AS t2
        FROM toks, unnest(range(1, len(tk))) AS u(i)
    ),
    p AS (SELECT t1, t2, count(*) AS n_xy FROM big GROUP BY 1, 2),
    s AS (SELECT t1, CAST(sum(n_xy) AS BIGINT) AS n_x FROM p GROUP BY 1),
    e AS (SELECT t2, CAST(sum(n_xy) AS BIGINT) AS n_y FROM p GROUP BY 1),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_total FROM p)
    SELECT p.t1, p.t2, p.n_xy, s.n_x, e.n_y, tot.n_total,
           (CAST(p.n_xy AS DOUBLE) * CAST(tot.n_total AS DOUBLE))
           / (CAST(s.n_x AS DOUBLE) * CAST(e.n_y AS DOUBLE)) AS lift
    FROM p JOIN s USING (t1) JOIN e USING (t2) CROSS JOIN tot
    WHERE p.n_xy >= 5
    ORDER BY t1, t2
    """,
)
def _text_bigram_pmi(spark, t):
    # collocation mining: corpus bigram counts with marginals and the
    # PMI-monotone lift n₍xy₎·N / (n₍x·₎·n₍·y₎) — the screen for
    # multi-word expressions ("new york") before tokenizer training.
    # Lift rather than log-PMI keeps the compared double ONE shared
    # IEEE expression (ranking is identical; consumers can log it).
    # Plan: narrow per-doc bigram explode, ONE bigram-grain shuffle to
    # pair counts (persisted — three consumers), marginals and the
    # total derived from the pair table (never re-tokenizing), min-
    # count 5 keeps output at the collocation grain. Marginal tables
    # are vocabulary-sized: they join back via bigram-side shuffles at
    # scale (AQE broadcasts them when small).
    big = (
        t["documents"]
        .select(F.expr(_TOKS_SPARK).alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> struct(element_at(tk, i) AS t1, "
                    "element_at(tk, i + 1) AS t2))"
                )
            ).alias("b")
        )
        .select("b.t1", "b.t2")
    )
    p = big.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("n_xy")).persist()
    s = p.groupBy("t1").agg(F.sum("n_xy").alias("n_x"))
    e = p.groupBy("t2").agg(F.sum("n_xy").alias("n_y"))
    tot = p.agg(F.sum("n_xy").alias("n_total"))
    lift = (
        F.col("n_xy").cast("double") * F.col("n_total").cast("double")
    ) / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    return (
        p.filter(F.col("n_xy") >= 5)
        .join(s, "t1")
        .join(e, "t2")
        .crossJoin(F.broadcast(tot))
        .select("t1", "t2", "n_xy", "n_x", "n_y", "n_total",
                lift.alias("lift"))
        .orderBy("t1", "t2")
    )


@query(
    "text_bpe_pair_stats",
    r"""
    WITH words AS (
        SELECT tok AS w, count(*) AS f
        FROM documents,
             unnest(list_filter(
                 string_split_regex(lower(trim(text)), '\s+'),
                 s -> s <> '')) AS u(tok)
        GROUP BY 1
    ),
    p1 AS (
        SELECT w[u.i] AS a, w[u.i + 1] AS b, CAST(sum(f) AS BIGINT) AS n
        FROM (SELECT string_split_regex(w, '') AS w, f
              FROM words WHERE length(w) >= 2) t,
             unnest(range(1, len(w))) AS u(i)
        GROUP BY 1, 2
    ),
    top1 AS (SELECT a, b FROM p1 ORDER BY n DESC, a, b LIMIT 1),
    merged AS (
        SELECT replace(words.w, top1.a || top1.b, chr(164)) AS w, f
        FROM words CROSS JOIN top1
    ),
    p2 AS (
        SELECT w[u.i] AS a, w[u.i + 1] AS b, CAST(sum(f) AS BIGINT) AS n
        FROM (SELECT string_split_regex(w, '') AS w, f
              FROM merged WHERE length(w) >= 2) t,
             unnest(range(1, len(w))) AS u(i)
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT 1 AS iteration, a, b, n FROM p1
        ORDER BY n DESC, a, b LIMIT 5
    )
    UNION ALL
    SELECT * FROM (
        SELECT 2 AS iteration, a, b, n FROM p2
        ORDER BY n DESC, a, b LIMIT 5
    )
    ORDER BY iteration, n DESC, a, b
    """,
)
def _text_bpe_pair_stats(spark, t):
    # tokenizer-training prep: the pair statistics behind BPE. Word
    # frequencies once (classic BPE trains on the word-frequency
    # table, not the raw stream), adjacent char-pair counts weighted
    # by word frequency (every adjacent position counts, the
    # get_stats convention), the argmax pair under a TOTAL order
    # (count desc, then pair — deterministic at ties), the merge
    # applied corpus-wide as a left-to-right string replace (exactly
    # BPE's non-overlapping merge for single-char symbols; '¤' is the
    # merged-symbol marker, absent from the ascii corpus), and the
    # next iteration's top pairs. Output: top-5 pairs of iterations 1
    # and 2. Plan: the fact collapses to the word-frequency table
    # immediately (vocabulary-sized); everything after runs at word
    # or pair grain. The driver-looped full BPE training would repeat
    # the merge step against this same table.
    words = (
        t["documents"]
        .select(F.explode(F.expr(_TOKS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .persist()
    )

    def pair_counts(wdf):
        return (
            wdf.filter(F.length("w") >= 2)
            .select(
                "f",
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(w) - 1), "
                        "i -> struct(substr(w, i, 1) AS a, "
                        "substr(w, i + 1, 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("f").alias("n"))
        )

    c1 = pair_counts(words).persist()
    top1 = c1.orderBy(F.desc("n"), "a", "b").limit(1).select("a", "b")
    merged = words.crossJoin(F.broadcast(top1)).select(
        F.expr("replace(w, a || b, chr(164))").alias("w"), "f"
    )
    c2 = pair_counts(merged)
    out1 = (
        c1.orderBy(F.desc("n"), "a", "b")
        .limit(5)
        .select(F.lit(1).alias("iteration"), "a", "b", "n")
    )
    out2 = (
        c2.orderBy(F.desc("n"), "a", "b")
        .limit(5)
        .select(F.lit(2).alias("iteration"), "a", "b", "n")
    )
    return out1.unionByName(out2).orderBy(
        "iteration", F.desc("n"), "a", "b"
    )


@query(
    "docs_crosslingual_template_leakage",
    r"""
    WITH f AS (
        SELECT doc_id, lang,
               md5(substr(regexp_replace(lower(trim(text)),
                                         '\s+', ' ', 'g'), 1, 60)) AS fp
        FROM documents
    ),
    leaked AS (
        SELECT fp, count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs,
               CAST(min(doc_id) AS BIGINT) AS example_doc_id
        FROM f GROUP BY fp
        HAVING count(DISTINCT lang) > 1
    )
    SELECT fp, n_docs, n_langs, example_doc_id
    FROM leaked
    ORDER BY n_docs DESC, fp
    """,
)
def _docs_crosslingual_template_leakage(spark, t):
    # cross-lingual template leakage: normalized 60-char PREFIX
    # fingerprints shared across multiple declared languages — the
    # boilerplate/header-template signal per-language exact dedup
    # misses entirely (a shared English banner pasted atop every
    # translation dedups within each language and survives across
    # them). Prefix grain rather than whole-doc because translations
    # share templates, not bodies. One fingerprint-grain shuffle with
    # map-side combine; distinct-lang counting rides the same
    # partitioning. Exact md5 fingerprints — hash-identical across
    # engines (the functions/text.py normalize convention, truncated
    # before hashing).
    fp = F.md5(
        F.expr(
            r"substr(regexp_replace(lower(trim(text)), '\\s+', ' '), 1, 60)"
        )
    )
    return (
        t["documents"]
        .select("doc_id", "lang", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .filter(F.col("n_langs") > 1)
        .orderBy(F.desc("n_docs"), "fp")
    )


@query(
    "docs_ngram_repetition",
    f"""
    WITH dt AS (
        SELECT source, {_TOKS_SQL} AS toks FROM documents
    ), grams AS (
        SELECT source,
               len(toks) - 4 AS n_grams,
               len(list_distinct(list_transform(
                   generate_series(1, len(toks) - 4),
                   i -> array_to_string(toks[i:i+4], ' ')))) AS n_distinct
        FROM dt WHERE len(toks) >= 5
    )
    SELECT source,
           COUNT(*) AS n_docs_scored,
           CAST(SUM(n_grams) AS BIGINT) AS grams_total,
           CAST(SUM(n_distinct) AS BIGINT) AS grams_distinct,
           CAST(SUM(n_grams - n_distinct) AS BIGINT) AS grams_repeated
    FROM grams GROUP BY source ORDER BY source
    """,
)
def _docs_ngram_repetition(spark, t):
    # within-doc repeated 5-gram mass by source — the C4/Gopher-style
    # "degenerate text" screen. Per-row native exprs only (transform/
    # slice/array_distinct stay in codegen); one source-grain shuffle.
    # Integer sums cross the oracle; no float division to drift.
    toks = tokens("text")
    grams = F.expr(
        "transform(sequence(1, size(toks) - 4), "
        "i -> array_join(slice(toks, i, 5), ' '))"
    )
    per_doc = (
        t["documents"]
        .select("source", toks.alias("toks"))
        .filter(F.size("toks") >= 5)
        .select(
            "source",
            (F.size("toks") - 4).cast("long").alias("n_grams"),
            F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_scored"),
            F.sum("n_grams").alias("grams_total"),
            F.sum("n_distinct").alias("grams_distinct"),
            F.sum(F.col("n_grams") - F.col("n_distinct")).alias(
                "grams_repeated"
            ),
        )
        .orderBy("source")
    )


@query(
    "text_bm25_linear_topk",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents
    ), toks_ne AS (SELECT * FROM toks WHERE term != ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY 1),
    stats AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS total_tokens
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks_ne
        WHERE term IN ('join', 'vector', 'stream') GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
    ),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ((CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5)
                / (CAST(dfreq.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                        / (CAST(s.total_tokens AS DOUBLE)
                           / CAST(s.n_docs AS DOUBLE))))))
                   AS s
        FROM tf JOIN dfreq ON tf.term = dfreq.term
                JOIN dl ON tf.doc_id = dl.doc_id
                CROSS JOIN stats s
    )
    SELECT doc_id, bm25 FROM (
        SELECT doc_id,
               (COALESCE(MAX(CASE WHEN term = 'join' THEN s END), 0.0)
                + COALESCE(MAX(CASE WHEN term = 'vector' THEN s END), 0.0))
                + COALESCE(MAX(CASE WHEN term = 'stream' THEN s END), 0.0)
                   AS bm25
        FROM scored GROUP BY doc_id
    )
    ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
)
def _text_bm25_linear_topk(spark, t):
    # BM25 retrieval top-k for the fixed query {join, vector, stream}
    # — the lexical-ranking half of a retrieval stack (tf-idf top
    # terms being the feature half). idf is the LINEAR surrogate
    # (N-df+0.5)/(df+0.5) rather than its log: ln() is not
    # bit-identical across math libraries (the repo rule from
    # text_tfidf_top_terms), while +,×,÷ on doubles are correctly
    # rounded everywhere — so with a FIXED summation order (explicit
    # three-term pivot, never a nondeterministic float groupBy-sum)
    # the scores hash-match DuckDB bit-for-bit. Plan: token explode
    # persisted once for the dl and tf branches; df and the scalar
    # (N, avgdl) stats are collapsed broadcasts; top-k is a global
    # TakeOrdered with doc_id tie-break.
    toks = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .persist()
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = t["documents"].select(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = dl.select(F.sum("dl").alias("total_tokens"))
    stats = n_docs.crossJoin(total)
    tf = (
        toks.filter(F.col("term").isin("join", "vector", "stream"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    s = (
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
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", s.alias("s"))
    )

    def term_s(name: str):
        return F.coalesce(
            F.max(F.when(F.col("term") == name, F.col("s"))), F.lit(0.0)
        )

    return (
        scored.groupBy("doc_id")
        .agg(
            (
                (term_s("join") + term_s("vector")) + term_s("stream")
            ).alias("bm25")
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(15)
    )


@query("text_bm25_indexed_topk", ORACLE["text_bm25_linear_topk"])
def _text_bm25_indexed_topk(spark, t):
    # The standing-index BM25 serving path under the SAME oracle as
    # the scan twin: build_bm25_index pays the one corpus tokenize,
    # bm25_search_topk then touches only postings (term isin filter →
    # pushed predicate, broadcast df/stats, fixed-fold term sum) —
    # O(postings-of-terms) per query at 100 TB, not O(corpus).
    postings, stats = build_bm25_index(t["documents"])
    return bm25_search_topk(
        postings, stats, ["join", "vector", "stream"], k=15
    )


def _doc_bigrams(docs):
    """(doc_id, w1, w2): adjacent lowercased whitespace-token pairs —
    shared by the KN-continuation and OOV-rate queries. 1-based
    element_at ≡ DuckDB list indexing."""
    return (
        docs.select(
            "doc_id",
            F.expr(r"split(lower(trim(text)), '\\s+')").alias("toks"),
        )
        .filter(F.expr("size(toks) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2))"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


@query(
    "docs_oov_bigram_rate",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != ''
    ),
    cnt AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
    per_doc AS (
        SELECT bg.doc_id,
               count(*) AS n_bigrams,
               CAST(SUM(CASE WHEN cnt.n <= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rare
        FROM bg JOIN cnt USING (w1, w2)
        GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, n_rare,
           CAST(n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rare_rate
    FROM per_doc
    ORDER BY rare_rate DESC, doc_id
    LIMIT 25
    """,
)
def _docs_oov_bigram_rate(spark, t):
    # Rare-bigram (OOV-ish) rate per document — the cheap corpus-
    # statistics proxy for LM-surprisal quality filters: documents
    # whose adjacent-word pairs are mostly corpus-rare are boilerplate,
    # mangled text, or junk. All counting is exact integers (order-
    # free under any shuffle); the single terminal division is one
    # double op per row, so the output hash-matches. Two shuffles:
    # bigram-grain count, then doc-grain aggregate over the joined
    # counts (the same join-back shape as tf-idf).
    bg = _doc_bigrams(t["documents"])
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    per_doc = (
        bg.join(cnt, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("n") <= 2, 1).otherwise(0)
            ).cast("long").alias("n_rare"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_bigrams",
            "n_rare",
            (
                F.col("n_rare").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("rare_rate"),
        )
        .orderBy(F.desc("rare_rate"), "doc_id")
        .limit(25)
    )


@query(
    "text_kn_continuation_counts",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != ''
    )
    SELECT w2 AS word,
           COUNT(DISTINCT w1) AS continuation_count,
           COUNT(*) AS n_occurrences
    FROM bg GROUP BY w2
    ORDER BY continuation_count DESC, n_occurrences DESC, word
    LIMIT 20
    """,
)
def _text_kn_continuation_counts(spark, t):
    # Kneser-Ney continuation counts — the statistic KN smoothing
    # replaces raw unigram counts with: how many DISTINCT left
    # contexts a word follows (|{w1 : c(w1,w) > 0}|). The canonical
    # n-gram-LM training input over a corpus; one bigram explode, one
    # word-grain aggregate (count_distinct + count in the same job),
    # TakeOrdered top-20 with a full deterministic tie-break.
    bigrams = _doc_bigrams(t["documents"])  # doc_id pruned by Catalyst
    return (
        bigrams.groupBy(F.col("w2").alias("word"))
        .agg(
            F.count_distinct("w1").alias("continuation_count"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(
            F.desc("continuation_count"), F.desc("n_occurrences"), "word"
        )
        .limit(20)
    )


@query(
    "text_kn_bigram_prob",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != ''
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                  count(*) AS n1p FROM c12 GROUP BY w1),
    cont AS (SELECT w2, count(*) AS cont FROM c12 GROUP BY w2),
    ty AS (SELECT count(*) AS n_types FROM c12)
    SELECT w1, w2, c12.c12 AS c_bigram, c1.c1 AS c_left,
           ((CAST(c12.c12 AS DOUBLE) - 0.75) / CAST(c1.c1 AS DOUBLE))
           + (((0.75 * CAST(c1.n1p AS DOUBLE)) / CAST(c1.c1 AS DOUBLE))
              * (CAST(cont.cont AS DOUBLE) / CAST(ty.n_types AS DOUBLE)))
               AS kn_prob
    FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN ty
    ORDER BY kn_prob DESC, w1, w2
    LIMIT 30
    """,
)
def _text_kn_bigram_prob(spark, t):
    # Interpolated Kneser-Ney bigram probability (Kneser & Ney 1995;
    # Chen & Goodman 1998), standard D = 0.75:
    #   P(w2|w1) = (c(w1,w2) − D)/c(w1)
    #            + (D·N1+(w1,·)/c(w1)) · (N1+(·,w2)/N1+(··))
    # Every count is an exact integer aggregate (order-free under any
    # shuffle); the smoothing is ONE shared float expression evaluated
    # in the same op order on both engines, so doubles are
    # bit-identical (the linear-idf discipline). Observed bigrams only
    # (c12 ≥ 1 > D), so no max(·,0) branch is needed. Three shuffles:
    # bigram-grain count, then two tiny joins back (w1-grain, w2-grain)
    # + a broadcast 1-row type count — the tf-idf join-back shape.
    bg = _doc_bigrams(t["documents"])
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("cont"))
    types = c12.select(F.count(F.lit(1)).alias("n_types"))
    kn = (
        (F.col("c12").cast("double") - F.lit(0.75))
        / F.col("c1").cast("double")
    ) + (
        (
            (F.lit(0.75) * F.col("n1p").cast("double"))
            / F.col("c1").cast("double")
        )
        * (F.col("cont").cast("double") / F.col("n_types").cast("double"))
    )
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.col("c12").alias("c_bigram"),
            F.col("c1").alias("c_left"),
            kn.alias("kn_prob"),
        )
        .orderBy(F.desc("kn_prob"), "w1", "w2")
        .limit(30)
    )


@query(
    "text_kn_trigram_prob",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    tg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != '' AND toks[i + 2] != ''
    ),
    c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12,
                   count(*) AS n3p FROM c123 GROUP BY 1, 2),
    nc23 AS (SELECT w2, w3, count(*) AS nc23 FROM c123 GROUP BY 1, 2),
    nc2 AS (SELECT w2, CAST(SUM(nc23) AS BIGINT) AS nc2,
                   count(*) AS n2p FROM nc23 GROUP BY 1),
    cont3 AS (SELECT w3, count(*) AS cont3 FROM nc23 GROUP BY 1),
    ty AS (SELECT count(*) AS n_types FROM nc23)
    SELECT w1, w2, w3, c123.c123 AS c_trigram, c12.c12 AS c_context,
           ((CAST(c123.c123 AS DOUBLE) - 0.75) / CAST(c12.c12 AS DOUBLE))
           + (((0.75 * CAST(c12.n3p AS DOUBLE)) / CAST(c12.c12 AS DOUBLE))
              * (((CAST(nc23.nc23 AS DOUBLE) - 0.75)
                  / CAST(nc2.nc2 AS DOUBLE))
                 + (((0.75 * CAST(nc2.n2p AS DOUBLE))
                     / CAST(nc2.nc2 AS DOUBLE))
                    * (CAST(cont3.cont3 AS DOUBLE)
                       / CAST(ty.n_types AS DOUBLE)))))
               AS kn_prob
    FROM c123 JOIN c12 USING (w1, w2) JOIN nc23 USING (w2, w3)
         JOIN nc2 USING (w2) JOIN cont3 USING (w3) CROSS JOIN ty
    ORDER BY kn_prob DESC, w1, w2, w3
    LIMIT 30
    """,
)
def _text_kn_trigram_prob(spark, t):
    # Interpolated Kneser-Ney trigram probability (Chen & Goodman
    # 1998), standard D = 0.75, recursing through the continuation
    # distributions:
    #   P(w3|w1,w2) = (c(w1w2w3) − D)/c(w1w2)
    #               + (D·N1+(w1w2·)/c(w1w2)) · P_KN(w3|w2)
    #   P_KN(w3|w2) = (N1+(·w2w3) − D)/N1+(·w2·)
    #               + (D·N1+(w2·)/N1+(·w2·)) · N1+(·w3)/N1+(··)
    # Observed trigrams only, so both discounted counts are ≥ 1 > D
    # and no max(·,0) branch is needed; every count is an exact
    # integer aggregate and the whole smoothing is one shared float
    # expression in the same op order on both engines (the
    # text_kn_bigram_prob discipline, one level deeper). Shuffles:
    # trigram-grain count, then three tiny join-backs ((w1,w2) grain,
    # (w2,w3) grain via its own count, w2 and w3 grain) + a broadcast
    # 1-row type count — still the tf-idf join-back shape.
    docs = t["documents"]
    tg = (
        docs.select(
            F.expr(r"split(lower(trim(text)), '\\s+')").alias("toks")
        )
        .filter(F.expr("size(toks) >= 3"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2, "
                    "element_at(toks, i + 2) AS w3))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2", "g.w3")
        .filter(
            (F.col("w1") != "") & (F.col("w2") != "") & (F.col("w3") != "")
        )
    )
    c123 = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c123"))
    c12 = c123.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n3p")
    )
    nc23 = c123.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nc23"))
    nc2 = nc23.groupBy("w2").agg(
        F.sum("nc23").alias("nc2"), F.count(F.lit(1)).alias("n2p")
    )
    cont3 = nc23.groupBy("w3").agg(F.count(F.lit(1)).alias("cont3"))
    types = nc23.select(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(0.75)
    p_bi = (
        (F.col("nc23").cast("double") - d) / F.col("nc2").cast("double")
    ) + (
        ((d * F.col("n2p").cast("double")) / F.col("nc2").cast("double"))
        * (F.col("cont3").cast("double") / F.col("n_types").cast("double"))
    )
    p_tri = (
        (F.col("c123").cast("double") - d) / F.col("c12").cast("double")
    ) + (
        ((d * F.col("n3p").cast("double")) / F.col("c12").cast("double"))
        * p_bi
    )
    return (
        c123.join(c12, ["w1", "w2"])
        .join(nc23, ["w2", "w3"])
        .join(nc2, "w2")
        .join(cont3, "w3")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c123").alias("c_trigram"),
            F.col("c12").alias("c_context"),
            p_tri.alias("kn_prob"),
        )
        .orderBy(F.desc("kn_prob"), "w1", "w2", "w3")
        .limit(30)
    )


# the standing/batch split at document grain — bigrams never cross
# documents, so corpus + batch bigram multisets partition the full
# corpus's exactly
_KN_BATCH_WHERE = "doc_id % 10 = 7"


def kn_bigram_merge(s12, b12):
    """Merge a batch's bigram counts onto the standing KN tables and
    return (m12, c1m, contm, typesm) — the post-merge statistics,
    exactly equal to a full rebuild's (pinned by the driver hash and
    ``test_kn_bigram_merge_equals_rebuild``).

    ``s12`` (w1, w2, c_s) is the standing bigram-count table; ``b12``
    (w1, w2, c_b) the batch's. Occurrence counts merge additively;
    the TYPE-grain statistics (n1p = N1+(w1·), cont = N1+(·w2),
    n_types = N1+(··)) are counts of DISTINCT bigram types, so a
    batch pair already present in the standing table must not bump
    them — each merges as standing + per-group count of the batch
    pairs ABSENT from standing (one bigram-grain left_anti join).
    Cost is O(|batch types|) given the standing table: the 100 TB
    corpus contributes only its persisted count tables, never a
    rescan."""
    m12 = (
        s12.join(b12, ["w1", "w2"], "full_outer")
        .select(
            "w1",
            "w2",
            (
                F.coalesce("c_s", F.lit(0)) + F.coalesce("c_b", F.lit(0))
            ).alias("c12"),
        )
    )
    # batch types absent from standing — the only rows that move the
    # type-grain statistics
    newp = b12.join(s12, ["w1", "w2"], "left_anti")
    s1 = s12.groupBy("w1").agg(
        F.sum("c_s").alias("c1_s"), F.count(F.lit(1)).alias("n1p_s")
    )
    b1 = b12.groupBy("w1").agg(F.sum("c_b").alias("c1_b"))
    n1 = newp.groupBy("w1").agg(F.count(F.lit(1)).alias("n1p_new"))
    c1m = (
        s1.join(b1, "w1", "full_outer")
        .join(n1, "w1", "full_outer")
        .select(
            "w1",
            (
                F.coalesce("c1_s", F.lit(0)) + F.coalesce("c1_b", F.lit(0))
            ).alias("c1"),
            (
                F.coalesce("n1p_s", F.lit(0))
                + F.coalesce("n1p_new", F.lit(0))
            ).alias("n1p"),
        )
    )
    scont = s12.groupBy("w2").agg(F.count(F.lit(1)).alias("cont_s"))
    ncont = newp.groupBy("w2").agg(F.count(F.lit(1)).alias("cont_new"))
    contm = (
        scont.join(ncont, "w2", "full_outer")
        .select(
            "w2",
            (
                F.coalesce("cont_s", F.lit(0))
                + F.coalesce("cont_new", F.lit(0))
            ).alias("cont"),
        )
    )
    typesm = (
        s12.select(F.count(F.lit(1)).alias("types_s"))
        .crossJoin(newp.select(F.count(F.lit(1)).alias("types_new")))
        .select((F.col("types_s") + F.col("types_new")).alias("n_types"))
    )
    return m12, c1m, contm, typesm


@query(
    "text_kn_bigram_incremental",
    # the UNCHANGED full-corpus text_kn_bigram_prob oracle: the Spark
    # side computes the statistics via the standing-table merge, so
    # hash equality against a single-pass rebuild IS the
    # append-equals-rebuild proof
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != ''
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                  count(*) AS n1p FROM c12 GROUP BY w1),
    cont AS (SELECT w2, count(*) AS cont FROM c12 GROUP BY w2),
    ty AS (SELECT count(*) AS n_types FROM c12)
    SELECT w1, w2, c12.c12 AS c_bigram, c1.c1 AS c_left,
           ((CAST(c12.c12 AS DOUBLE) - 0.75) / CAST(c1.c1 AS DOUBLE))
           + (((0.75 * CAST(c1.n1p AS DOUBLE)) / CAST(c1.c1 AS DOUBLE))
              * (CAST(cont.cont AS DOUBLE) / CAST(ty.n_types AS DOUBLE)))
               AS kn_prob
    FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN ty
    ORDER BY kn_prob DESC, w1, w2
    LIMIT 30
    """,
)
def _text_kn_bigram_incremental(spark, t):
    # Incremental KN maintenance: the standing corpus
    # contributes only its persisted bigram-count table; a new batch
    # merges its counts on (kn_bigram_merge) and every derived
    # statistic — c1, and the type-grain n1p/cont/n_types that need
    # the distinct-left-context anti-join — comes out exactly equal to
    # a full rebuild's, proven by hashing against the full-corpus
    # oracle. The final smoothing is the UNCHANGED text_kn_bigram_prob
    # shared float expression over the merged exact-integer counts.
    # Shuffles: two bigram-grain counts (corpus once in production,
    # batch per ingest), the anti-join + merge at bigram grain, then
    # the usual tiny w1/w2-grain join-backs — per-ingest cost is
    # O(batch grams + batch types), never a corpus rescan.
    docs = t["documents"]
    corpus = docs.filter(~F.expr(_KN_BATCH_WHERE))
    batch = docs.filter(F.expr(_KN_BATCH_WHERE))
    # persisted: in production s12 IS a standing parquet table and b12
    # a materialized batch aggregate; here each feeds 3-4 downstream
    # branches (merge, anti-join, per-w1/w2 aggregates) that would
    # otherwise replay the explode+count per consumer (the recompute-
    # amplification class PERF_NOTES documents)
    s12 = (
        _doc_bigrams(corpus)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .persist()
    )
    b12 = (
        _doc_bigrams(batch)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_b"))
        .persist()
    )
    m12, c1m, contm, typesm = kn_bigram_merge(s12, b12)
    kn = (
        (F.col("c12").cast("double") - F.lit(0.75))
        / F.col("c1").cast("double")
    ) + (
        (
            (F.lit(0.75) * F.col("n1p").cast("double"))
            / F.col("c1").cast("double")
        )
        * (F.col("cont").cast("double") / F.col("n_types").cast("double"))
    )
    return (
        m12.join(c1m, "w1")
        .join(contm, "w2")
        .crossJoin(F.broadcast(typesm))
        .select(
            "w1",
            "w2",
            F.col("c12").alias("c_bigram"),
            F.col("c1").alias("c_left"),
            kn.alias("kn_prob"),
        )
        .orderBy(F.desc("kn_prob"), "w1", "w2")
        .limit(30)
    )


def _doc_trigrams(docs):
    """(w1, w2, w3) per trigram occurrence — byte-identical semantics
    to the extraction inside the registered ``text_kn_trigram_prob``
    (its oracle text is committed, so this copy lives beside it).
    ``text_kn_trigram_incremental`` runs on this extraction under the
    ``text_kn_trigram_prob`` oracle, which pins the two tokenizations
    together: any drift turns the sf0.001 hash red."""
    return (
        docs.select(
            F.expr(r"split(lower(trim(text)), '\\s+')").alias("toks")
        )
        .filter(F.expr("size(toks) >= 3"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2, "
                    "element_at(toks, i + 2) AS w3))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2", "g.w3")
        .filter(
            (F.col("w1") != "") & (F.col("w2") != "") & (F.col("w3") != "")
        )
    )


def kn_trigram_merge(s123, b123):
    """Merge a batch's trigram counts onto the standing KN trigram
    tables and return (m123, c12m, nc23m, nc2m, cont3m, typesm) — the
    post-merge statistics, exactly equal to a full rebuild's (pinned
    by ``test_kn_trigram_merge_equals_rebuild`` and by the oracle
    parity of ``text_kn_trigram_incremental``).

    ``s123`` (w1, w2, w3, c_s) is the standing trigram-count table;
    ``b123`` (w1, w2, w3, c_b) the batch's. Occurrence counts merge
    additively; the TYPE-grain statistics live at TWO grains, each
    needing its own absent-from-standing set:

    - trigram grain (``newp`` = batch types absent from standing):
      moves n3p = N1+(w1w2·), nc23 = N1+(·w2w3), and nc2 = N1+(·w2·)
      (nc2 sums nc23 over w3, so every new trigram type adds 1);
    - (w2,w3) grain (``new23`` = the distinct middle-suffix pairs of
      ``newp`` absent from standing's pair set — a strict subset):
      moves n2p = N1+(w2·), cont3 = N1+(·w3), and n_types = N1+(··),
      which count distinct PAIRS, so a new trigram whose (w2,w3)
      already exists must not bump them.

    Cost is O(|batch types|) given the standing table: one
    trigram-grain anti-join, one pair-grain anti-join over the
    batch's pairs, then tiny per-w1w2/w2w3/w2/w3 aggregates — the
    100 TB corpus contributes only its persisted count table, never
    a rescan."""
    m123 = s123.join(b123, ["w1", "w2", "w3"], "full_outer").select(
        "w1",
        "w2",
        "w3",
        (
            F.coalesce("c_s", F.lit(0)) + F.coalesce("c_b", F.lit(0))
        ).alias("c123"),
    )
    # batch trigram types absent from standing. Persisted (guide §5):
    # the merge's two-grain statistics
    # consume this and the (w2,w3)-grain tables below from several
    # branches each; without the persist every branch re-derives its
    # subtree from the base count tables (snc23 alone was re-derived
    # 5× — a full standing-table pass + shuffle per branch).
    newp = b123.join(s123, ["w1", "w2", "w3"], "left_anti").persist()

    # (w1,w2) grain: occurrence total is additive, type count moves
    # only on new trigram types
    s12 = s123.groupBy("w1", "w2").agg(
        F.sum("c_s").alias("c12_s"), F.count(F.lit(1)).alias("n3p_s")
    )
    b12 = b123.groupBy("w1", "w2").agg(F.sum("c_b").alias("c12_b"))
    n12 = newp.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n3p_new"))
    c12m = (
        s12.join(b12, ["w1", "w2"], "full_outer")
        .join(n12, ["w1", "w2"], "full_outer")
        .select(
            "w1",
            "w2",
            (
                F.coalesce("c12_s", F.lit(0))
                + F.coalesce("c12_b", F.lit(0))
            ).alias("c12"),
            (
                F.coalesce("n3p_s", F.lit(0))
                + F.coalesce("n3p_new", F.lit(0))
            ).alias("n3p"),
        )
    )

    # (w2,w3) grain: nc23 counts distinct w1 contexts, so every new
    # trigram type adds 1 (both persisted — see the newp note)
    snc23 = (
        s123.groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("nc23_s"))
        .persist()
    )
    nnc23 = (
        newp.groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("nc23_new"))
        .persist()
    )
    nc23m = snc23.join(nnc23, ["w2", "w3"], "full_outer").select(
        "w2",
        "w3",
        (
            F.coalesce("nc23_s", F.lit(0)) + F.coalesce("nc23_new", F.lit(0))
        ).alias("nc23"),
    )
    # batch (w2,w3) pairs with NO standing trigram — the only rows
    # that move the pair-grain statistics (persisted: 3 consumers)
    new23 = nnc23.join(snc23, ["w2", "w3"], "left_anti").persist()

    # w2 grain: nc2 sums nc23 (additive in new trigram types), n2p
    # counts distinct (w2,w3) pairs (additive in new pairs only)
    snc2 = snc23.groupBy("w2").agg(
        F.sum("nc23_s").alias("nc2_s"), F.count(F.lit(1)).alias("n2p_s")
    )
    nnc2 = nnc23.groupBy("w2").agg(F.sum("nc23_new").alias("nc2_new"))
    n2 = new23.groupBy("w2").agg(F.count(F.lit(1)).alias("n2p_new"))
    nc2m = (
        snc2.join(nnc2, "w2", "full_outer")
        .join(n2, "w2", "full_outer")
        .select(
            "w2",
            (
                F.coalesce("nc2_s", F.lit(0)) + F.coalesce("nc2_new", F.lit(0))
            ).alias("nc2"),
            (
                F.coalesce("n2p_s", F.lit(0)) + F.coalesce("n2p_new", F.lit(0))
            ).alias("n2p"),
        )
    )

    # w3 grain + global: both count distinct (w2,w3) pairs
    scont3 = snc23.groupBy("w3").agg(F.count(F.lit(1)).alias("cont3_s"))
    ncont3 = new23.groupBy("w3").agg(F.count(F.lit(1)).alias("cont3_new"))
    cont3m = scont3.join(ncont3, "w3", "full_outer").select(
        "w3",
        (
            F.coalesce("cont3_s", F.lit(0))
            + F.coalesce("cont3_new", F.lit(0))
        ).alias("cont3"),
    )
    typesm = (
        snc23.select(F.count(F.lit(1)).alias("types_s"))
        .crossJoin(new23.select(F.count(F.lit(1)).alias("types_new")))
        .select((F.col("types_s") + F.col("types_new")).alias("n_types"))
    )
    return m123, c12m, nc23m, nc2m, cont3m, typesm


@query("text_kn_trigram_incremental", ORACLE["text_kn_trigram_prob"])
def _text_kn_trigram_incremental(spark, t):
    """Standing corpus contributes only its
    persisted trigram-count table; the batch merges on
    (kn_trigram_merge) and the final smoothing is the UNCHANGED
    ``text_kn_trigram_prob`` shared float expression over the merged
    exact-integer counts. Oracle: the UNCHANGED full-corpus trigram
    SQL — hash equality proves append ≡ rebuild through BOTH
    recursion levels. Shuffles: trigram-grain counts + the two
    anti-joins, then the usual tiny join-backs — per-ingest cost is
    O(batch grams + batch types), never a corpus rescan."""
    docs = t["documents"]
    corpus = docs.filter(~F.expr(_KN_BATCH_WHERE))
    batch = docs.filter(F.expr(_KN_BATCH_WHERE))
    # persisted: in production s123 IS a standing parquet table and
    # b123 a materialized batch aggregate; here each feeds several
    # downstream branches that would otherwise replay explode+count
    s123 = (
        _doc_trigrams(corpus)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .persist()
    )
    b123 = (
        _doc_trigrams(batch)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c_b"))
        .persist()
    )
    m123, c12m, nc23m, nc2m, cont3m, typesm = kn_trigram_merge(s123, b123)
    d = F.lit(0.75)
    p_bi = (
        (F.col("nc23").cast("double") - d) / F.col("nc2").cast("double")
    ) + (
        ((d * F.col("n2p").cast("double")) / F.col("nc2").cast("double"))
        * (F.col("cont3").cast("double") / F.col("n_types").cast("double"))
    )
    p_tri = (
        (F.col("c123").cast("double") - d) / F.col("c12").cast("double")
    ) + (
        ((d * F.col("n3p").cast("double")) / F.col("c12").cast("double"))
        * p_bi
    )
    return (
        m123.join(c12m, ["w1", "w2"])
        .join(nc23m, ["w2", "w3"])
        .join(nc2m, "w2")
        .join(cont3m, "w3")
        .crossJoin(F.broadcast(typesm))
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c123").alias("c_trigram"),
            F.col("c12").alias("c_context"),
            p_tri.alias("kn_prob"),
        )
        .orderBy(F.desc("kn_prob"), "w1", "w2", "w3")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# docs_lm_quality_score
# ---------------------------------------------------------------------------
# LM-scored quality filtering — the CCNet/perplexity-filter shape
# (Wenzek et al. 2020): score each document by how well the corpus
# language model predicts it, then the LOWEST-scoring documents are
# the filter candidates. Here the model is the driver-gated
# interpolated KN bigram LM (text_kn_bigram_prob's exact statistics),
# and the per-document aggregate is hash-safe by construction: each
# bigram OCCURRENCE contributes floor(kn_prob · 10⁹) — a BIGINT
# quantization of a double both engines compute bit-identically — so
# the per-doc sum is an exact integer under any shuffle order (the
# functions/exact.py discipline; a float sum would be
# partition-order-dependent, a log-based perplexity would hinge on
# libm ulp parity). Documents with no bigram (< 2 tokens) are not
# scoreable and are excluded by the inner join.

_LM_SCORE_SCALE = 1_000_000_000
_LM_SCORE_BOTTOM = 40


def _docs_lm_quality_score_oracle_sql() -> str:
    return rf"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    bgd AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != ''
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgd GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                  count(*) AS n1p FROM c12 GROUP BY w1),
    cont AS (SELECT w2, count(*) AS cont FROM c12 GROUP BY w2),
    ty AS (SELECT count(*) AS n_types FROM c12),
    knp AS (
        SELECT w1, w2,
               ((CAST(c12.c12 AS DOUBLE) - 0.75) / CAST(c1.c1 AS DOUBLE))
               + (((0.75 * CAST(c1.n1p AS DOUBLE)) / CAST(c1.c1 AS DOUBLE))
                  * (CAST(cont.cont AS DOUBLE)
                     / CAST(ty.n_types AS DOUBLE))) AS kn_prob
        FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN ty
    ),
    perdoc AS (
        SELECT bgd.doc_id,
               count(*) AS n_bigrams,
               CAST(SUM(CAST(FLOOR(knp.kn_prob * {_LM_SCORE_SCALE})
                             AS BIGINT)) AS BIGINT) AS q_sum
        FROM bgd JOIN knp USING (w1, w2)
        GROUP BY bgd.doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(q_sum AS DOUBLE)
               / ({_LM_SCORE_SCALE}.0 * CAST(n_bigrams AS DOUBLE))
               AS lm_score
    FROM perdoc
    ORDER BY lm_score ASC, doc_id
    LIMIT {_LM_SCORE_BOTTOM}
    """


@query("docs_lm_quality_score", _docs_lm_quality_score_oracle_sql())
def _docs_lm_quality_score(spark, t):
    """Corpus KN bigram stats (the registered
    text_kn_bigram_prob expression, bit-identical on both engines),
    quantized per occurrence and summed per document as exact
    BIGINTs; bottom-N lowest-scoring documents are the quality-filter
    candidates. Shuffles: bigram-grain count + the two tiny stat
    join-backs (the LM itself), one bigram-grain join of occurrences
    to kn_prob, one doc-grain aggregate, then TakeOrdered(N) — in
    production the LM table is the standing artifact the KN ingest
    already maintains, so scoring a new batch is O(batch bigrams)."""

    bgd = _doc_bigrams(t["documents"])
    c12 = bgd.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("cont"))
    types = c12.select(F.count(F.lit(1)).alias("n_types"))
    kn = (
        (F.col("c12").cast("double") - F.lit(0.75))
        / F.col("c1").cast("double")
    ) + (
        (
            (F.lit(0.75) * F.col("n1p").cast("double"))
            / F.col("c1").cast("double")
        )
        * (F.col("cont").cast("double") / F.col("n_types").cast("double"))
    )
    knp = (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select("w1", "w2", kn.alias("kn_prob"))
    )
    perdoc = (
        bgd.join(knp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.floor(F.col("kn_prob") * F.lit(_LM_SCORE_SCALE)).cast(
                    "long"
                )
            ).alias("q_sum"),
        )
    )
    return (
        perdoc.select(
            "doc_id",
            "n_bigrams",
            (
                F.col("q_sum").cast("double")
                / (
                    F.lit(float(_LM_SCORE_SCALE))
                    * F.col("n_bigrams").cast("double")
                )
            ).alias("lm_score"),
        )
        .orderBy("lm_score", "doc_id")
        .limit(_LM_SCORE_BOTTOM)
    )


@query("text_kn_trigram_stream_served", ORACLE["text_kn_trigram_prob"])
def _text_kn_trigram_stream_served(spark, t):
    """The documents table rides the REAL
    Structured-Streaming ingest (availableNow micro-batches append
    partial trigram counts), the landing table compacts to the
    standing (w1, w2, w3, c123) counts, and the registered KN trigram
    smoothing is computed from THOSE counts — c12/nc23/nc2/cont3 and
    the type total all derive from c123, so the whole continuation
    recursion is checked against the batch oracle. Fresh landing +
    checkpoint dirs per invocation (append-mode landing would double
    counts on an in-process re-run); tmpindex sweeps the pid dir at
    exit. Scale: per-batch cost is O(batch grams) into type-grain
    partials; the standing table is type-sized — the streaming
    surface's production contract, here driven end-to-end."""
    from ..streaming.text import kn3_counts_compact, stream_kn_trigram_counts

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_kn3_stream_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    staging = os.path.join(root, "staging")
    landing = os.path.join(root, "landing")
    ckpt = os.path.join(root, "ckpt")
    docs = t["documents"].select("doc_id", "text")
    # stage to parquet so the stream reads the same rows with a plain
    # schema (the testdata TIMESTAMP(NANOS) workaround lives in
    # load_table; the staged copy carries only doc_id + text)
    docs.write.mode("overwrite").parquet(staging)
    stream = (
        spark.readStream.schema(spark.read.parquet(staging).schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(staging)
    )
    stream_kn_trigram_counts(stream, landing, ckpt).awaitTermination()

    c123 = kn3_counts_compact(spark, landing)
    c12 = c123.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n3p")
    )
    nc23 = c123.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nc23"))
    nc2 = nc23.groupBy("w2").agg(
        F.sum("nc23").alias("nc2"), F.count(F.lit(1)).alias("n2p")
    )
    cont3 = nc23.groupBy("w3").agg(F.count(F.lit(1)).alias("cont3"))
    types = nc23.select(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(0.75)
    p_bi = (
        (F.col("nc23").cast("double") - d) / F.col("nc2").cast("double")
    ) + (
        ((d * F.col("n2p").cast("double")) / F.col("nc2").cast("double"))
        * (F.col("cont3").cast("double") / F.col("n_types").cast("double"))
    )
    p_tri = (
        (F.col("c123").cast("double") - d) / F.col("c12").cast("double")
    ) + (
        ((d * F.col("n3p").cast("double")) / F.col("c12").cast("double"))
        * p_bi
    )
    return (
        c123.join(c12, ["w1", "w2"])
        .join(nc23, ["w2", "w3"])
        .join(nc2, "w2")
        .join(cont3, "w3")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c123").alias("c_trigram"),
            F.col("c12").alias("c_context"),
            p_tri.alias("kn_prob"),
        )
        .orderBy(F.desc("kn_prob"), "w1", "w2", "w3")
        .limit(30)
    )
