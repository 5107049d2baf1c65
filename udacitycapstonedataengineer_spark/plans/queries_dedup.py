"""Deduplication queries over ``documents`` (plus duplicate-invoice
pairs over ``orders``).

ALL tiers are oracle-checked, including the full MinHash-LSH and
SimHash band pipelines: the operators hash with an engine-portable
scheme (md5-derived 60-bit base hash + LCG permutation family — see
``operators/dedup.py``), so the DuckDB twin below reproduces the
banding, skew-capped buckets, candidate join, and verify stage
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, fingerprint_sql
from ..operators.dedup import (
    H60_SQL,
    P_MOD,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    exact_dedup_groups,
    exact_dedup_keep_canonical,
    lcg_coeffs,
    minhash_near_dups,
    shingle_pair_counts,
    simhash_near_dups,
    with_shingles,
)
from .registry import query


# DuckDB twin of the 3-word-shingle expression (1-based inclusive slices)
_SHINGLES_SQL = (
    "list_distinct(list_transform("
    " generate_series(1, greatest(len(toks) - 2, 1)),"
    " i -> array_to_string(toks[i:i+2], ' ')))"
)
_TOKS_SQL = r"string_split_regex(lower(trim(text)), '\s+')"


@query(
    "dedup_exact_groups",
    f"""
    SELECT {fingerprint_sql()} AS fingerprint,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def _dedup_exact_groups(spark, t):
    # exact dedup: hash-groupBy on the normalized-text fingerprint
    return exact_dedup_groups(t["documents"])


@query(
    "dedup_exact_keep_canonical",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT doc_id, lang, source, n_chars,
               min(doc_id) OVER (PARTITION BY {fingerprint_sql()}) AS __min_id
        FROM documents
    ) WHERE doc_id = __min_id
    """,
)
def _dedup_exact_keep_canonical(spark, t):
    return exact_dedup_keep_canonical(t["documents"]).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles
        FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id < 250)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles))
          >= 0.1 * len(list_distinct(list_concat(a.shingles, b.shingles)))
    """,
)
def _ngram_jaccard_pairs(spark, t):
    # exact n-gram Jaccard on a bounded subset (the all-pairs oracle is
    # O(n²); the scalable path is minhash_near_dups below, which uses
    # this same verification math after LSH candidate pruning)
    sh = with_shingles(t["documents"].filter(F.col("doc_id") < 250)).select(
        "doc_id", "shingles"
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter.cast("double") / union).alias("jaccard"),
            inter.alias("__i"),
            union.alias("__u"),
        )
        .filter(F.col("__i") >= 0.1 * F.col("__u"))
        .drop("__i", "__u")
    )


@query(
    "dedup_incremental_anti",
    f"""
    WITH fp AS (
        SELECT doc_id, source, {fingerprint_sql()} AS fingerprint
        FROM documents
    )
    SELECT n.doc_id, n.source, n.fingerprint
    FROM fp n
    WHERE n.doc_id % 2 = 1
      AND NOT EXISTS (
          SELECT 1 FROM fp s
          WHERE s.doc_id % 2 = 0 AND s.fingerprint = n.fingerprint
      )
    """,
)
def _dedup_incremental_anti(spark, t):
    # incremental dedup: admit a NEW batch only where its fingerprint
    # is absent from the SEEN corpus — the steady-state shape of a
    # training-data pipeline (each crawl dedups against everything
    # already ingested). left_anti join; at 100 TB the seen side is a
    # fingerprint-only projection (16 bytes/doc), bucketable by
    # fingerprint so re-runs co-locate without a fresh shuffle.
    from ..functions.text import fingerprint

    fp = t["documents"].select(
        "doc_id", "source", fingerprint().alias("fingerprint")
    )
    new = fp.filter(F.col("doc_id") % 2 == 1)
    seen = fp.filter(F.col("doc_id") % 2 == 0).select("fingerprint")
    return new.join(seen, "fingerprint", "left_anti").select(
        "doc_id", "source", "fingerprint"
    )


def _minhash_oracle_sql(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.3, max_bucket: int = 64
) -> str:
    """DuckDB twin of the FULL minhash_near_dups pipeline: shingle →
    base-hash → K LCG minhashes → band bucket hash → skew-capped bucket
    self-join → exact Jaccard verify. Coefficients come from the same
    ``lcg_coeffs`` the Spark expression embeds."""
    a, b = lcg_coeffs(num_hashes)
    rows = num_hashes // bands
    coef_rows = ", ".join(f"({k}, {a[k]}, {b[k]})" for k in range(num_hashes))
    hx = H60_SQL.format(x="s")
    bucket_hash = H60_SQL.format(
        x=f"array_to_string(minhash[band*{rows}+1 : band*{rows}+{rows}], ',')"
    )
    return f"""
    WITH coef(k, a, b) AS (VALUES {coef_rows}),
    toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
    hx AS (SELECT doc_id, {hx} % {P_MOD} AS x
           FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
    mh AS (SELECT doc_id, k, min((a * x + b) % {P_MOD}) AS m
           FROM hx CROSS JOIN coef GROUP BY doc_id, k),
    sig AS (SELECT doc_id, list(m ORDER BY k) AS minhash FROM mh GROUP BY doc_id),
    bk AS (SELECT doc_id, band, {bucket_hash} AS bucket
           FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS band)),
    sized AS (SELECT doc_id, band, bucket FROM bk
              QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket}),
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM sized x JOIN sized y
               ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= {threshold}
    """


def _simhash_oracle_sql(max_hamming: int = 16, max_bucket: int = 64) -> str:
    """DuckDB twin of simhash_near_dups: per-token portable hash →
    60-bit bit-vote signature → 15-bit band buckets (skew-capped) →
    pair join → hamming verify."""
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    band_mask = (1 << band_bits) - 1
    th = H60_SQL.format(x="t")
    return f"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS t FROM documents),
    th AS (SELECT doc_id, {th} AS h FROM tok),
    votes AS (SELECT doc_id, j,
                     sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v
              FROM th CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
              GROUP BY doc_id, j),
    sig AS (SELECT doc_id,
                   sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
            FROM votes GROUP BY doc_id),
    bk AS (SELECT doc_id, simhash, band,
                  (simhash >> (band * {band_bits})) & {band_mask} AS bucket
           FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band)),
    sized AS (SELECT * FROM bk
              QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket})
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM sized x JOIN sized y
      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
    """


@query("dedup_minhash_lsh", _minhash_oracle_sql())
def _dedup_minhash_lsh(spark, t):
    # MinHash+LSH near-dup pairs — the full band pipeline is oracled
    # (engine-portable hashing; see _minhash_oracle_sql)
    return minhash_near_dups(t["documents"], num_hashes=16, bands=4, threshold=0.3)


@query("dedup_simhash", _simhash_oracle_sql())
def _dedup_simhash(spark, t):
    # SimHash near-dup pairs — oracled end-to-end (portable hashing)
    return simhash_near_dups(t["documents"], max_hamming=16)


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ( {_minhash_oracle_sql()} ) q
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def _dedup_clusters(spark, t):
    # transitive closure of the near-dup relation, ORACLED: Spark runs
    # hash-min label propagation (operators/graph.py — one join + one
    # groupBy per round on the tiny pair-edge set); DuckDB reproduces
    # the same fixed point as a recursive-CTE reachability closure +
    # MIN. Component = min reachable doc_id on both engines, so the
    # iterative algorithm is value-checked end-to-end, not just
    # property-tested. Edges come from the already-oracled MinHash-LSH
    # pipeline, keeping the two formulations' inputs identical.
    from ..operators.dedup import minhash_near_dups
    from ..operators.graph import connected_components

    pairs = minhash_near_dups(
        t["documents"], num_hashes=16, bands=4, threshold=0.3
    ).select("doc_a", "doc_b")
    return (
        connected_components(pairs)
        .select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
        .orderBy("doc_id")
    )


@query(
    "corpus_source_overlap",
    f"""
    WITH dt AS (SELECT source, {_TOKS_SQL} AS toks FROM documents),
    ss AS (SELECT DISTINCT source, unnest({_SHINGLES_SQL}) AS shingle
           FROM dt)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared_shingles
    FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def _corpus_source_overlap(spark, t):
    # cross-source content-overlap matrix: how many distinct 3-word
    # shingles each PAIR of corpus sources shares — the governance
    # measure behind "what does crawl B add over crawl A?" and the
    # source-grain view of contamination. Plan: (source, shingle)
    # distinct is one shingle-grain shuffle; the self-equi-join fans
    # out at most C(|sources|, 2) rows per shingle (sources are tens,
    # never rows), and the pair aggregate is the only other shuffle.
    # Never doc×doc, never all-pairs at row grain.
    # persist the distinct (source, shingle) table before the
    # self-join — without it Catalyst inlines the whole shingle
    # pipeline into BOTH join sides and the corpus is scanned (and
    # shingled) twice; persisted, it's one scan + a few bytes per
    # distinct (source, shingle)
    sh = (
        with_shingles(t["documents"])
        .select("source", F.explode("shingles").alias("shingle"))
        .distinct()
        .persist()
    )
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .orderBy("source_a", "source_b")
    )


def _minhash_incremental_oracle_sql(
    num_hashes: int = 16, bands: int = 4, max_bucket: int = 64
) -> str:
    """DuckDB twin of the incremental LSH candidate join: same
    signatures/banding as _minhash_oracle_sql, split into a seen
    corpus (even doc_id) and a new batch (odd doc_id), each side
    skew-capped independently, then the cross join on (band, bucket)."""
    a, b = lcg_coeffs(num_hashes)
    rows = num_hashes // bands
    coef_rows = ", ".join(f"({k}, {a[k]}, {b[k]})" for k in range(num_hashes))
    hx = H60_SQL.format(x="s")
    bucket_hash = H60_SQL.format(
        x=f"array_to_string(minhash[band*{rows}+1 : band*{rows}+{rows}], ',')"
    )
    return f"""
    WITH coef(k, a, b) AS (VALUES {coef_rows}),
    toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
    hx AS (SELECT doc_id, {hx} % {P_MOD} AS x
           FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
    mh AS (SELECT doc_id, k, min((a * x + b) % {P_MOD}) AS m
           FROM hx CROSS JOIN coef GROUP BY doc_id, k),
    sig AS (SELECT doc_id, list(m ORDER BY k) AS minhash FROM mh GROUP BY doc_id),
    bk AS (SELECT doc_id, band, {bucket_hash} AS bucket
           FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS band)),
    seen AS (SELECT doc_id, band, bucket FROM bk WHERE doc_id % 2 = 0
             QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket}),
    new AS (SELECT doc_id, band, bucket FROM bk WHERE doc_id % 2 = 1
            QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket})
    SELECT DISTINCT n.doc_id AS new_doc_id, s.doc_id AS seen_doc_id
    FROM new n JOIN seen s ON n.band = s.band AND n.bucket = s.bucket
    ORDER BY 1, 2
    """


@query("dedup_minhash_incremental", _minhash_incremental_oracle_sql())
def _dedup_minhash_incremental(spark, t):
    # incremental NEAR-dup: a new batch (odd doc_id, standing in for
    # today's crawl) against the already-indexed corpus (even doc_id).
    # Production shape: the corpus side is minhash_band_buckets
    # persisted at ingest — a few (band, bucket) rows per doc — so
    # daily dedup shuffles only the new batch's buckets and NEVER
    # re-shingles or re-scans corpus text. Here both indexes are
    # derived in-query for the oracle; the operator contract is
    # identical either way. Complements dedup_incremental_anti (the
    # exact-fingerprint tier of the same steady-state pipeline).
    from ..operators.dedup import (
        minhash_band_buckets,
        minhash_candidates_incremental,
    )

    docs = t["documents"]
    new_bk = minhash_band_buckets(docs.filter(F.col("doc_id") % 2 == 1))
    seen_bk = minhash_band_buckets(docs.filter(F.col("doc_id") % 2 == 0))
    return minhash_candidates_incremental(new_bk, seen_bk).orderBy(
        "new_doc_id", "seen_doc_id"
    )


@query(
    "docs_shingle_containment",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(shingles) AS shingle
        FROM (SELECT doc_id, {_SHINGLES_SQL} AS shingles
              FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents))
    ),
    rare AS (
        SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 64
    ),
    shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shf a JOIN shf b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter,
           CAST(n_inter * 10000 // least(sa.n_sh, sb.n_sh) AS BIGINT)
               AS containment_bp
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 10 >= least(sa.n_sh, sb.n_sh) * 8
    ORDER BY doc_a, doc_b
    """,
)
def _docs_shingle_containment(spark, t):
    # asymmetric near-dup: CONTAINMENT |A∩B| / min(|A|,|B|) catches a
    # document embedded inside a larger one — the quote/boilerplate
    # case symmetric Jaccard under-scores (union grows with the big
    # doc). Shingle-grain equi-join (never doc×doc) with the measured
    # df≤64 skew cap, via the shared shingle_pair_counts operator.
    # Threshold and score in integer cross-multiply / basis points.
    from ..operators.dedup import shingle_pair_counts

    inter, sizes = shingle_pair_counts(t["documents"], max_df=64)
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_inter") * 10 >= F.least("na", "nb") * 8
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.expr("n_inter * 10000 DIV least(na, nb)").alias(
                "containment_bp"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "docs_dedup_savings_by_source",
    f"""
    WITH fp AS (
        SELECT doc_id, source, n_chars,
               {fingerprint_sql()} AS fingerprint
        FROM documents
    ),
    keep AS (
        SELECT source, n_chars, doc_id,
               min(doc_id) OVER (PARTITION BY source, fingerprint)
                   AS keeper
        FROM fp
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum((doc_id = keeper)::INT) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN doc_id = keeper THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept,
           CAST(((sum(n_chars)
                  - sum(CASE WHEN doc_id = keeper THEN n_chars
                             ELSE 0 END)) * 10000)
                // sum(n_chars) AS BIGINT) AS savings_bp
    FROM keep
    GROUP BY 1
    ORDER BY 1
    """,
)
def _docs_dedup_savings_by_source(spark, t):
    # dedup ROI accounting: per source, how many rows and bytes would
    # WITHIN-SOURCE exact dedup remove — the governance report that
    # justifies (or kills) a dedup stage before it runs on 100 TB.
    # One shuffle on (source, fingerprint) for the keeper window
    # (16-byte md5 keys, the exact-dedup partitioning), then a
    # source-grain aggregate. Savings cross as basis points.
    w = Window.partitionBy("source", "fingerprint")
    keep = (
        t["documents"]
        .withColumn("fingerprint", fingerprint())
        .withColumn("keeper", F.min("doc_id").over(w))
    )
    kept_chars = F.when(
        F.col("doc_id") == F.col("keeper"), F.col("n_chars")
    ).otherwise(0)
    return (
        keep.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("doc_id") == F.col("keeper")).cast("int")
            ).alias("n_kept"),
            F.sum("n_chars").alias("chars_total"),
            F.sum(kept_chars).alias("chars_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "chars_total",
            "chars_kept",
            F.expr(
                "((chars_total - chars_kept) * 10000) DIV chars_total"
            ).alias("savings_bp"),
        )
        .orderBy("source")
    )


_JACCARD_THRESHOLDS_BP = [5000, 7000, 9000]


@query(
    "dedup_threshold_sweep",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(shingles) AS shingle
        FROM (SELECT doc_id, {_SHINGLES_SQL} AS shingles
              FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents))
    ),
    rare AS (
        SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 64
    ),
    shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shf a JOIN shf b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               (n_inter * 10000)
                   // (sa.n_sh + sb.n_sh - n_inter) AS jaccard_bp
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    ),
    th AS (SELECT unnest([{", ".join(map(str, _JACCARD_THRESHOLDS_BP))}])
           AS threshold_bp)
    SELECT t.threshold_bp,
           CAST(sum(CASE WHEN p.jaccard_bp >= t.threshold_bp
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT CASE WHEN p.jaccard_bp >= t.threshold_bp
                                    THEN p.doc_b END) AS BIGINT)
               AS n_docs_removed
    FROM pairs p CROSS JOIN th t
    GROUP BY 1
    ORDER BY 1
    """,
)
def _dedup_threshold_sweep(spark, t):
    # dedup threshold sensitivity: how many near-dup pairs — and how
    # many docs a keep-lowest-id policy would remove — at Jaccard
    # ≥ 0.5 / 0.7 / 0.9. The decision report you run BEFORE burning a
    # threshold into the 100-TB dedup job. Candidate pairs come from
    # the shingle-grain equi-join with the measured df≤64 skew cap
    # (the docs_shingle_containment shape — never doc×doc); the
    # 3-row threshold dimension broadcasts over the pair table, so
    # the sweep costs one pair-grain fan-out ×3, not three passes.
    # Jaccard crosses as basis points (|A∩B| / |A∪B| by
    # inclusion-exclusion on exact counts).
    inter, sizes = shingle_pair_counts(t["documents"], max_df=64)
    pairs = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("(n_inter * 10000) DIV (na + nb - n_inter)").alias(
                "jaccard_bp"
            ),
        )
    )
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v) for v in _JACCARD_THRESHOLDS_BP])
        ).alias("threshold_bp")
    )
    hit = F.col("jaccard_bp") >= F.col("threshold_bp")
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy("threshold_bp")
        .agg(
            F.sum(hit.cast("int")).alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("doc_b"))).alias(
                "n_docs_removed"
            ),
        )
        .orderBy("threshold_bp")
    )


@query(
    "orders_duplicate_invoice_pairs",
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    )
    SELECT a.o_custkey,
           a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
           a.cents AS cents_a, b.cents AS cents_b,
           CAST(date_diff('day', a.d, b.d) AS INT) AS day_gap
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(a.cents - b.cents) * 50 <= a.cents
     AND abs(date_diff('day', a.d, b.d)) <= 30
    ORDER BY a.o_custkey, orderkey_a, orderkey_b
    """,
)
def _orders_duplicate_invoice_pairs(spark, t):
    # double-billing screen — fuzzy ROW dedup on a fact table (the
    # dedup family's corpus operators work on documents; this is the
    # transactional sibling): two orders by the same customer with
    # amounts within 2% of each other inside a 30-day window are
    # duplicate-invoice suspects. Scale shape: a ≤30-day pair spans
    # at most TWO month boundaries (Jan 31 + 30 days lands Mar 2
    # across a 28-day February — month ±1 alone would MISS that
    # pair), so the left side explodes to month ±2 and the join is
    # EQUI on (custkey, month) — the classic banded time join
    # (operators/rangejoin.py pattern) — with the %-band and
    # day-window as residual filters. Fan-out is
    # per-customer-per-~5-months, never the full customer history;
    # the oracle states the same semantics as a plain non-equi
    # self-join (the oracle needn't be scale-shaped, the plan must).
    o = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("d"),
    )
    month = F.year("d") * 12 + F.month("d")
    a = (
        o.select(
            F.col("o_custkey").alias("ck"),
            F.col("cents").alias("cents_a"),
            F.col("o_orderkey").alias("orderkey_a"),
            F.col("d").alias("da"),
            month.alias("ma"),
        )
        .select(
            "*",
            F.explode(
                F.expr("array(ma - 2, ma - 1, ma, ma + 1, ma + 2)")
            ).alias("mb"),
        )
    )
    b = o.select(
        F.col("o_custkey").alias("ck2"),
        F.col("cents").alias("cents_b"),
        F.col("o_orderkey").alias("orderkey_b"),
        F.col("d").alias("db"),
        month.alias("m2"),
    )
    return (
        a.join(
            b,
            (F.col("ck") == F.col("ck2"))
            & (F.col("mb") == F.col("m2"))
            & (F.col("orderkey_a") < F.col("orderkey_b"))
            & (
                F.abs(F.col("cents_a") - F.col("cents_b")) * 50
                <= F.col("cents_a")
            )
            & (F.abs(F.datediff("db", "da")) <= 30),
        )
        .select(
            F.col("ck").alias("o_custkey"),
            "orderkey_a",
            "orderkey_b",
            "cents_a",
            "cents_b",
            F.datediff("db", "da").cast("int").alias("day_gap"),
        )
        .orderBy("o_custkey", "orderkey_a", "orderkey_b")
    )
