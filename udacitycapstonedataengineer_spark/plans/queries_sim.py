"""Similarity-search queries over ``embeddings`` — brute force, LSH,
IVF, IVF-PQ (in memory, served from a written index, incremental,
filtered) with its recall and governance reports, and SemDeDup — all
oracle-checked, including the LSH path (the hyperplanes are
deterministic literals reproduced inside the oracle SQL)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.cell_budget import derive_k, semdedup_closure_scaled
from ..operators.clustering import (
    _as_double_vec,
    centroid_assign_expr,
    kmeans,
    kmeans_assign_sql,
    kmeans_fit,
    kmeans_oracle_parts,
    kmeans_oracle_sql,
    model_rows,
)
from ..operators.coarse import centroid_array, coarse_argmin, ivfpq_coarse_fit
from ..operators.graph import connected_components
from ..operators.ivfpq import (
    _ivfpq_oracle_parts,
    ivfpq_build,
    ivfpq_encode_batch,
    ivfpq_oracle_sql,
    ivfpq_recall_curve,
    ivfpq_refined_oracle_sql,
    ivfpq_topk,
    ivfpq_topk_refined,
)
from ..operators.recall_eval import ivfpq_recall_at_k
from ..operators.semdedup import (
    semdedup_incremental_oracle_sql,
    semdedup_incremental_pairs,
    semdedup_oracle_sql,
    semdedup_pairs,
)
from ..operators.similarity import (
    _MAXABS_EXPR,
    _MAXABS_SQL,
    ann_topk_int8,
    ann_topk_int8_sql,
    brute_force_topk,
    cosine_prenorm,
    cosine_sql,
    embedding_near_dups,
    hyperplanes,
    ivf_topk,
    lsh_bucket_sql,
    lsh_topk,
    norm,
    quantize_int8,
    quantize_int8_sql,
)
from .registry import query

_PLANES = hyperplanes(n_bits=4, dim=64)


def _q_pred():
    return F.col("vec_id") < 8


def _topk_oracle(candidate_join: str) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb{_BUCKET_Q} FROM embeddings
               WHERE vec_id < 8),
         c AS (SELECT vec_id AS cand_id, embedding AS c_emb{_BUCKET_C} FROM embeddings),
         scored AS (
            SELECT query_id, cand_id, {cosine_sql('q_emb', 'c_emb')} AS cosine
            FROM c {candidate_join}
            WHERE query_id <> cand_id
         )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """


_BUCKET_Q = f", {lsh_bucket_sql('embedding', _PLANES)} AS bucket"
_BUCKET_C = _BUCKET_Q


@query(
    "ann_topk_bruteforce",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < 8),
         c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
         scored AS (
            SELECT query_id, cand_id, {cosine_sql('q_emb', 'c_emb')} AS cosine
            FROM c CROSS JOIN q
            WHERE query_id <> cand_id
         )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def _ann_topk_bruteforce(spark, t):
    # exact cosine top-k baseline: broadcast queries, map-side scoring
    return brute_force_topk(t["embeddings"], _q_pred(), k=5)


@query("ann_topk_lsh", _topk_oracle("JOIN q USING (bucket)"))
def _ann_topk_lsh(spark, t):
    # LSH-bucketed ANN: same ranking math, bucket-pruned candidates
    return lsh_topk(t["embeddings"], _q_pred(), _PLANES, k=5)


@query(
    "ann_topk_ivf",
    f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cent_emb FROM embeddings
        WHERE vec_id % 50 = 0
    ),
    assigned AS (
        SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, cents.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cosine_sql('e.embedding', 'cent_emb')} DESC, cell
                   ) AS __rk
            FROM embeddings e CROSS JOIN cents
        ) WHERE __rk = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, cell FROM assigned
          WHERE vec_id < 8),
    c AS (SELECT vec_id AS cand_id, embedding AS c_emb, cell FROM assigned),
    scored AS (
        SELECT query_id, cand_id, {cosine_sql('q_emb', 'c_emb')} AS cosine
        FROM c JOIN q USING (cell)
        WHERE query_id <> cand_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def _ann_topk_ivf(spark, t):
    # IVF ANN: deterministic coarse centroids, nprobe=1 cell probe —
    # search cost scales with cell size, not corpus size
    return ivf_topk(t["embeddings"], _q_pred(), k=5, centroid_mod=50)


@query(
    "embedding_neardup_pairs",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {lsh_bucket_sql('embedding', _PLANES)} AS bucket
               FROM embeddings)
    SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
           {cosine_sql('a.embedding', 'bb.embedding')} AS cosine
    FROM b a JOIN b bb USING (bucket)
    WHERE a.vec_id < bb.vec_id
      AND {cosine_sql('a.embedding', 'bb.embedding')} >= 0.35
    """,
)
def _embedding_neardup_pairs(spark, t):
    # embedding-cosine near-dup: bucket-restricted pair generation
    return embedding_near_dups(t["embeddings"], _PLANES, threshold=0.35)


@query("embedding_quantize_int8", quantize_int8_sql())
def _embedding_quantize_int8(spark, t):
    # symmetric per-vector int8 codes: 4× smaller embeddings, integer
    # dot products downstream — the storage/compute lever for 100 TB ANN
    return quantize_int8(t["embeddings"])


@query("ann_topk_int8", ann_topk_int8_sql(k=5, dim=64))
def _ann_topk_int8(spark, t):
    # the compressed SERVING path over those codes: exact BIGINT dot
    # products (max_abs scale factors cancel in cosine), 4× less IO
    # than the float32 scan — same broadcast-queries shape as
    # ann_topk_bruteforce
    return ann_topk_int8(t["embeddings"], _q_pred(), k=5)


@query("kmeans_clusters", kmeans_oracle_sql(k=8, iters=2, dim=64))
def _kmeans_clusters(spark, t):
    # distributed Lloyd's, 2 iterations, K=8 — bit-reproducible via
    # fixed-point centroid accumulation (operators/clustering.py); the
    # DuckDB oracle unrolls the SAME iterations, proving an ITERATIVE
    # algorithm end-to-end, not just one step
    return kmeans(t["embeddings"], k=8, iters=2, dim=64)


@query(
    "ann_topk_filtered",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < 8),
         c AS (SELECT e.vec_id AS cand_id, e.embedding AS c_emb
               FROM embeddings e
               JOIN documents d ON d.doc_id = e.vec_id
               WHERE d.lang = 'en'),
         scored AS (
            SELECT query_id, cand_id, {cosine_sql('q_emb', 'c_emb')} AS cosine
            FROM c CROSS JOIN q
            WHERE query_id <> cand_id
         )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def _ann_topk_filtered(spark, t):
    # FILTERED vector search: top-k under a metadata predicate (the
    # retrieval shape RAG / curation pipelines actually run — "nearest
    # English docs", "same-license only"). The predicate prunes the
    # candidate side BEFORE scoring via an equi-join to the metadata
    # table: with a selective filter the scoring cost drops
    # proportionally, and the top-k can never come back short the way
    # post-filtering an unfiltered top-k does. Queries stay unfiltered
    # (search from any doc into the filtered corpus).
    cand = t["embeddings"].join(
        t["documents"]
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id")),
        "vec_id",
    )
    return brute_force_topk(
        t["embeddings"], _q_pred(), k=5, candidates=cand
    )


@query(
    "embeddings_label_centroid",
    f"""
    WITH q AS (
        SELECT label,
               CASE WHEN max_abs = 0
                    THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding,
                         x -> CAST(round(x::DOUBLE * (127.0 / max_abs))
                                   AS INTEGER))
               END AS codes
        FROM (SELECT label, embedding,
                     {_MAXABS_SQL.format(e="embedding")} AS max_abs
              FROM embeddings)
    )
    SELECT label, CAST(s.i AS INT) AS dim,
           count(*) AS n_vecs,
           CAST(sum(codes[s.i]) AS BIGINT) AS sum_q,
           CAST((sum(codes[s.i]) * 10000) // count(*) AS BIGINT)
               AS mean_q_e4
    FROM q, generate_series(1, 64) AS s(i)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def _embeddings_label_centroid(spark, t):
    # per-label centroid over int8-QUANTIZED codes (the shared
    # symmetric quantizer from operators/similarity.py): exact BIGINT
    # component sums, mean as a ×10⁴ rational — so the centroid is
    # bit-identical across engines, unlike a float mean whose
    # summation order differs. Plan: narrow per-row quantize (no
    # shuffle), posexplode to (label, dim) grain, one
    # map-side-combinable aggregate at labels×64 output rows. The
    # integer-centroid trick is the same fixed-point discipline as
    # the k-means operator (operators/clustering.py).
    maxabs = F.expr(_MAXABS_EXPR.format(e="embedding"))
    step1 = t["embeddings"].withColumn("max_abs", maxabs)
    codes = F.expr(
        "CASE WHEN max_abs = 0D THEN transform(embedding, x -> 0)"
        " ELSE transform(embedding,"
        "  x -> cast(round(cast(x as double) * (127.0D / max_abs)) as int))"
        " END"
    )
    return (
        step1.withColumn("codes", codes)
        .select("label", F.posexplode("codes").alias("pos", "qv"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("qv").alias("sum_q"),
        )
        .select(
            "label",
            "dim",
            "n_vecs",
            "sum_q",
            F.expr("(sum_q * 10000) DIV n_vecs").alias("mean_q_e4"),
        )
        .orderBy("label", "dim")
    )


@query(
    "embeddings_norm_outliers",
    """
    WITH n2 AS (
        SELECT vec_id, label,
               list_aggregate(
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum') AS norm2
        FROM embeddings
    ),
    r AS (
        SELECT vec_id, label, norm2,
               row_number() OVER (PARTITION BY label
                                  ORDER BY norm2, vec_id) AS rn,
               count(*) OVER (PARTITION BY label) AS n
        FROM n2
    ),
    med AS (
        SELECT label, max(CASE WHEN rn = (n + 1) // 2 THEN norm2 END)
                   AS med_norm2
        FROM r GROUP BY label
    )
    SELECT n2.label,
           count(*) AS n_vecs,
           med.med_norm2,
           CAST(sum(CASE WHEN n2.norm2 * 4 < med.med_norm2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN n2.norm2 > med.med_norm2 * 4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM n2 JOIN med USING (label)
    GROUP BY n2.label, med.med_norm2
    ORDER BY n2.label
    """,
)
def _embeddings_norm_outliers(spark, t):
    # embedding hygiene — corrupt/degenerate vector detection before
    # vectors feed ANN or training: per label, count vectors whose
    # ‖v‖² sits 4× above or below the label's (lower-)median ‖v‖².
    # norm² is the per-row left-fold aggregate(transform(...)) proven
    # bit-identical to DuckDB's list_aggregate in the ANN oracles; the
    # median is a rank-extracted ACTUAL element (no interpolation), so
    # flags are exact double comparisons with integer factors — no
    # threshold drift. Plan: per-row narrow math, one label-
    # partitioned rank window, one label-grain rollup.
    n2 = t["embeddings"].select(
        "vec_id",
        "label",
        F.expr(
            "aggregate(transform(embedding, "
            "x -> cast(x as double) * cast(x as double)), "
            "0.0D, (acc, x) -> acc + x)"
        ).alias("norm2"),
    )
    w = Window.partitionBy("label").orderBy("norm2", "vec_id")
    r = n2.select(
        "label",
        "norm2",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("n"),
    )
    med = r.groupBy("label").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("norm2"))
        ).alias("med_norm2")
    )
    return (
        n2.join(med, "label")
        .groupBy("label", "med_norm2")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                (F.col("norm2") * 4 < F.col("med_norm2")).cast("int")
            ).alias("n_low"),
            F.sum(
                (F.col("norm2") > F.col("med_norm2") * 4).cast("int")
            ).alias("n_high"),
        )
        .select("label", "n_vecs", "med_norm2", "n_low", "n_high")
        .orderBy("label")
    )


@query(
    "embeddings_gram_matrix",
    """
    WITH qt AS (
        SELECT vec_id,
               CASE WHEN max_abs = 0 THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding,
                         x -> CAST(round(x::DOUBLE * (127.0 / max_abs))
                                   AS INTEGER))
               END AS q
        FROM (
            SELECT vec_id, embedding,
                   list_aggregate(list_transform(embedding,
                                                 x -> abs(x::DOUBLE)),
                                  'max') AS max_abs
            FROM embeddings
        )
    )
    SELECT i, j, CAST(SUM(q[i]::BIGINT * q[j]) AS BIGINT) AS gram
    FROM qt,
         generate_series(1, 64) g1(i),
         generate_series(1, 64) g2(j)
    WHERE i <= j
    GROUP BY i, j ORDER BY i, j
    """,
)
def _embeddings_gram_matrix(spark, t):
    # exact integer Gram matrix of the int8-quantized embedding
    # column — the distributed input to PCA/whitening (the 64×64
    # eigen solve is driver-trivial once this lands). Per-partition
    # numpy M^T·M accumulation, O(d^2)-rows-per-partition shuffle;
    # int64-exact so the full matrix hash-matches DuckDB's
    # position-indexed recomputation from the same quantized codes.
    from ..operators.similarity import gram_matrix_int8

    return (
        gram_matrix_int8(t["embeddings"])
        .select("i", "j", "gram")
        .orderBy("i", "j")
    )


_IVFPQ = dict(nlist=8, m=8, k=16, iters=2)
_QVEC_ID, _NPROBE, _TOPK = 7, 2, 10


@query(
    "ann_topk_ivfpq",
    ivfpq_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq(spark, t):
    # The billion-scale composed index end-to-end: coarse cells ×
    # PQ residual codes, nprobe=2 cell probe (the operator docstring's
    # promise — ann_topk_ivf only exercises one cell), per-cell ADC,
    # and in_exact_topk = membership in the EXACT L2 top-10 — the
    # recall contract rides the hash compare, so a quantizer bug that
    # degrades recall flips booleans and fails the driver gate. Build
    # is bit-reproducible (RNG-free seeds, fixed-point updates), which
    # is what makes a full-pipeline DuckDB replay possible at all.
    # Driver collects are bounded: nlist coarse centroids, m×k
    # codebook rows, the 1-row query vector.
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk(
        index, cents, books, q, nprobe=_NPROBE, topk=_TOPK
    )
    qlit = F.array(*[F.lit(x) for x in q])
    exact = (
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .withColumn("qv", qlit)
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
                " 0D, (acc, w) -> acc + w)"
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(_TOPK)
        .select("vec_id", F.lit(True).alias("in_exact_topk"))
    )
    w = Window.orderBy("adc_dist2", "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(exact), "vec_id", "left")
        .select(
            "vec_id",
            "adc_dist2",
            "rank",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("rank")
    )


@query(
    "ann_topk_ivfpq_refined",
    ivfpq_refined_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        rerank=50,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq_refined(spark, t):
    # FAISS's refine stage on the same index: ADC shortlists 50
    # candidates from the probed cells (codes only), the original
    # vectors of JUST those 50 are exact-L2 re-ranked — the pattern
    # that recovers compression-lost recall at O(rerank·dim) cost.
    # The oracle replays build + shortlist + re-rank bit-for-bit.
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk_refined(
        index, cents, books, emb, q, nprobe=_NPROBE, rerank=50, topk=_TOPK
    )
    w = Window.orderBy("dist2", "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("vec_id", "dist2", "rank")
        .orderBy("rank")
    )


_SEMDEDUP = dict(k=8, iters=2, dim=64, threshold=0.2)


@query("semdedup_pairs", semdedup_oracle_sql(**_SEMDEDUP))
def _semdedup_pairs(spark, t):
    # SemDeDup (Abbas et al. 2023): cluster embeddings with the
    # deterministic k-means, compare pairs only WITHIN cells — the
    # linear-time candidate restriction that makes semantic dedup
    # feasible at web scale (vs all-pairs cosine). The oracle replays
    # the unrolled k-means AND the pair cosine bit-for-bit.
    return semdedup_pairs(t["embeddings"], **_SEMDEDUP)


@query(
    "semdedup_clusters",
    f"""
    WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM ( {semdedup_oracle_sql(**_SEMDEDUP)} ) q
    ),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION
        SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS component
    FROM reach GROUP BY node ORDER BY vec_id
    """,
)
def _semdedup_clusters(spark, t):
    # the full SemDeDup KEEP policy: transitive closure over the
    # within-cell cosine pairs — keep one exemplar (min vec_id) per
    # component, exactly the dedup_clusters composition with semantic
    # edges instead of MinHash edges. Spark runs the same
    # connected-components operator; DuckDB replays k-means + pair
    # cosine + a recursive-CTE reachability closure.
    from ..operators.graph import connected_components

    pairs = semdedup_pairs(t["embeddings"], **_SEMDEDUP).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return (
        connected_components(pairs)
        .select(
            F.col("node").alias("vec_id"), F.col("comp").alias("component")
        )
        .orderBy("vec_id")
    )


# the arriving batch of every incremental and served query; the other
# rows are the standing corpus
_BATCH_WHERE = "vec_id % 10 = 7"


@query(
    "semdedup_incremental_pairs",
    semdedup_incremental_oracle_sql(_BATCH_WHERE, **_SEMDEDUP),
)
def _semdedup_incremental_pairs(spark, t):
    # The incremental twin: centroids fitted on the CORPUS only, the
    # new batch (vec_id % 10 = 7 — a daily-ingest stand-in) assigned
    # to the standing cells and compared against corpus members of the
    # same cell. The oracle re-fits k-means on the corpus subset and
    # replays both assignments — proving the model is genuinely
    # corpus-only (training on the union would move centroids and
    # hash-fail).
    emb = t["embeddings"]
    new_batch = emb.filter(F.expr(_BATCH_WHERE))
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    return semdedup_incremental_pairs(corpus, new_batch, **_SEMDEDUP)


def _exact_topk_flags(emb, q, topk):
    """(vec_id, in_exact_topk=true) for the exact-L2 top ``topk`` —
    the recall-contract column every IVF-PQ query carries."""
    qlit = F.array(*[F.lit(x) for x in q])
    return (
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .withColumn("qv", qlit)
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
                " 0D, (acc, w) -> acc + w)"
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(topk)
        .select("vec_id", F.lit(True).alias("in_exact_topk"))
    )


def _ranked_probe(top, exact):
    w = Window.orderBy("adc_dist2", "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(exact), "vec_id", "left")
        .select(
            "vec_id",
            "adc_dist2",
            "rank",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("rank")
    )


@query(
    "ann_topk_ivfpq_served",
    ivfpq_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq_served(spark, t):
    # The production serving path under the driver gate: build, WRITE
    # the index partitioned by cell, read it back, probe the parquet
    # read-back. Same oracle as ann_topk_ivfpq — the gate proves
    # written ≡ in-memory ≡ DuckDB. The probe's `cell isin` filter
    # lands as a PartitionFilter on the read-back scan (plan-asserted
    # in test_ivfpq.py), so serving reads nprobe/nlist of the files.
    # pid-scoped path: bench/driver re-runs overwrite in-place while
    # concurrent processes never collide.
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ivfpq_served_{os.getpid()}"
    )
    index.write.partitionBy("cell").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("long")
    )
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk(back, cents, books, q, nprobe=_NPROBE, topk=_TOPK)
    return _ranked_probe(top, _exact_topk_flags(emb, q, _TOPK))


@query(
    "ann_topk_ivfpq_incremental",
    ivfpq_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        fit_where=f"NOT ({_BATCH_WHERE})",
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq_incremental(spark, t):
    # Incremental maintenance: the corpus (vec_id % 10 != 7) builds
    # the model + index once; the daily batch is encoded against the
    # FROZEN centroids/codebooks (ivfpq_encode_batch — one broadcast,
    # no re-clustering) and appended. The probe then runs over the
    # appended index. The oracle fits k-means + PQ on the corpus
    # subset only (fit_where) but encodes and probes everything — so
    # any leakage of batch rows into training moves the centroids and
    # hash-fails, exactly the semdedup_incremental proof shape.
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    cents, books, corpus_index = ivfpq_build(corpus, **_IVFPQ)
    appended = corpus_index.unionByName(
        ivfpq_encode_batch(batch, cents, books, m=_IVFPQ["m"])
    )
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk(appended, cents, books, q, nprobe=_NPROBE, topk=_TOPK)
    return _ranked_probe(top, _exact_topk_flags(emb, q, _TOPK))


@query(
    "semdedup_survivors",
    f"""
    WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM ( {semdedup_oracle_sql(**_SEMDEDUP)} ) q
    ),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION
        SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, CAST(MIN(lbl) AS BIGINT) AS component
             FROM reach GROUP BY node),
    sizes AS (SELECT component, count(*) AS comp_size
              FROM comp GROUP BY component),
    surv AS (
        SELECT e.vec_id, e.label,
               COALESCE(c.component, e.vec_id) AS component,
               COALESCE(s.comp_size, 1) AS comp_size
        FROM embeddings e
        LEFT JOIN comp c ON c.node = e.vec_id
        LEFT JOIN sizes s ON s.component = COALESCE(c.component, e.vec_id)
        WHERE e.vec_id NOT IN
              (SELECT node FROM comp WHERE node != component)
    ),
    tot AS (SELECT label, count(*) AS label_total
            FROM embeddings GROUP BY label),
    kept AS (SELECT label, count(*) AS label_kept FROM surv GROUP BY label)
    SELECT surv.vec_id, surv.label, surv.component, surv.comp_size,
           tot.label_total, kept.label_kept
    FROM surv JOIN tot USING (label) JOIN kept USING (label)
    ORDER BY vec_id
    """,
)
def _semdedup_survivors(spark, t):
    # The SemDeDup KEEP policy end-to-end: semantic pairs → transitive
    # closure → drop every non-exemplar (node != component min) → the
    # SURVIVING corpus, each row carrying its component, component
    # size, and per-label savings (label_kept of label_total) — the
    # semantic sibling of docs_dedup_savings_by_source. The survivor
    # SET rides the hash compare:
    # a closure bug that drops the wrong exemplar changes rows, not
    # just counts. Scale shape: closure runs on the pair edges only
    # (O(log n) star rounds); the final anti-join + two label-grain
    # broadcasts are corpus-linear.
    emb = t["embeddings"].select("vec_id", "label")
    pairs = semdedup_pairs(t["embeddings"], **_SEMDEDUP).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = connected_components(pairs)  # (node, comp)
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id")
    )
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    surv = (
        emb.join(dropped, "vec_id", "left_anti")
        .join(
            comp.withColumnRenamed("node", "vec_id"), "vec_id", "left"
        )
        .withColumn("component", F.coalesce("comp", "vec_id"))
        .join(
            sizes.withColumnRenamed("comp", "component"),
            "component",
            "left",
        )
        .withColumn("comp_size", F.coalesce("comp_size", F.lit(1)))
        .select("vec_id", "label", "component", "comp_size")
    )
    tot = emb.groupBy("label").agg(F.count(F.lit(1)).alias("label_total"))
    kept = surv.groupBy("label").agg(F.count(F.lit(1)).alias("label_kept"))
    return (
        surv.join(F.broadcast(tot), "label")
        .join(F.broadcast(kept), "label")
        .select(
            "vec_id",
            "label",
            "component",
            "comp_size",
            "label_total",
            "label_kept",
        )
        .orderBy("vec_id")
    )


# fixed-point quantum for residual-energy drift stats: floor(x·10³)²
# keeps per-cell energy sums exact BIGINTs (hash-safe) with headroom —
# unit residuals quantize to ~10³, squared ~10⁶, so even 10⁹ rows per
# cell stay far under 2⁶³
_ENERGY_SCALE = 1000


def _ivfpq_drift_oracle_sql() -> str:
    """DuckDB twin of ``ivfpq_index_drift``: the IVF-PQ build CTEs
    with the model fitted on the corpus only (`fit_where`), then the
    frozen-assignment residuals of EVERY row (the generator's `r` CTE
    already assigns all of `e` to the fitted centroids) bucketed into
    corpus/batch per-cell fixed-point energy + fill stats."""
    parts, _ = _ivfpq_oracle_parts(
        dim=64,
        nprobe=_NPROBE,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        table="embeddings",
        fit_where=f"NOT ({_BATCH_WHERE})",
        **_IVFPQ,
    )
    # final coarse-centroid CTE name follows the generator's naming
    prev = f"cc{_IVFPQ['iters'] - 1}"
    s = _ENERGY_SCALE
    parts += [
        f"""ren AS (SELECT vec_id, cell,
               list_reduce(list_transform(rv, x ->
                   CAST(FLOOR(x * {s}.0) AS BIGINT)
                   * CAST(FLOOR(x * {s}.0) AS BIGINT)),
                   (acc, w) -> acc + w) AS energy
           FROM r)""",
        f"""cstat AS (SELECT cell, count(*) AS corpus_n,
                CAST(SUM(energy) AS BIGINT) AS corpus_energy
           FROM ren WHERE NOT ({_BATCH_WHERE}) GROUP BY cell)""",
        f"""bstat AS (SELECT cell, count(*) AS batch_n,
                CAST(SUM(energy) AS BIGINT) AS batch_energy
           FROM ren WHERE {_BATCH_WHERE} GROUP BY cell)""",
        f"spine AS (SELECT cid AS cell FROM {prev})",
        f"""tot AS (SELECT
               (SELECT count(*) FROM e WHERE NOT ({_BATCH_WHERE}))
                   AS total_corpus,
               (SELECT count(*) FROM e WHERE {_BATCH_WHERE})
                   AS total_batch)""",
    ]
    return (
        "WITH " + ",\n".join(parts) + """
        SELECT spine.cell,
               COALESCE(corpus_n, 0) AS corpus_n,
               COALESCE(batch_n, 0) AS batch_n,
               COALESCE(corpus_energy, 0) AS corpus_energy,
               COALESCE(batch_energy, 0) AS batch_energy,
               CAST(COALESCE(corpus_n, 0) AS DOUBLE)
                   / CAST(total_corpus AS DOUBLE) AS fill_share_corpus,
               CAST(COALESCE(batch_n, 0) AS DOUBLE)
                   / CAST(total_batch AS DOUBLE) AS fill_share_batch,
               CASE WHEN COALESCE(corpus_n, 0) > 0
                    THEN CAST(COALESCE(corpus_energy, 0) AS DOUBLE)
                         / CAST(corpus_n AS DOUBLE)
                    ELSE 0.0 END AS energy_per_vec_corpus,
               CASE WHEN COALESCE(batch_n, 0) > 0
                    THEN CAST(COALESCE(batch_energy, 0) AS DOUBLE)
                         / CAST(batch_n AS DOUBLE)
                    ELSE 0.0 END AS energy_per_vec_batch
        FROM spine LEFT JOIN cstat USING (cell)
             LEFT JOIN bstat USING (cell) CROSS JOIN tot
        ORDER BY cell"""
    )


def ivfpq_drift_stats(emb, centroids, batch_where: str = _BATCH_WHERE):
    """(cell, corpus_n, batch_n, corpus_energy, batch_energy, fill
    shares, per-vector energies): the drift measurement behind
    ``ivfpq_index_drift``, factored so tests can feed shifted batches.
    ``centroids`` is the FROZEN coarse quantizer (cid, c) — collected
    (model-sized, nlist×dim) so assignment + residual run as ONE
    map-only pass over corpus+batch (``coarse_argmin``); the only
    corpus-grain shuffles left are the two cell-grain aggregates. The
    previous shape paid a nlist·N row_number window plus an N⋈N
    join-back for the same numbers."""
    s = _ENERGY_SCALE
    vectors = _as_double_vec(emb, "embedding")
    cent_rows = model_rows(centroids)
    energy = F.expr(
        f"aggregate(transform(rv, x -> "
        f"CAST(FLOOR(x * {s}.0) AS BIGINT)"
        f" * CAST(FLOOR(x * {s}.0) AS BIGINT)), "
        f"0L, (acc, w) -> acc + w)"
    )
    # assignment projected in its OWN step (one fold evaluation per
    # row — Catalyst does not CSE lambda-bearing folds), then the
    # winning centroid recovered by dense-cid lookup (threading the
    # full centroid array through every fold step evaluated the fold
    # twice)
    carr = centroid_array(cent_rows)
    assigned = vectors.select(
        "vec_id", "v", coarse_argmin(cent_rows)["cid"].alias("cell")
    )
    ren = assigned.select(
        "vec_id",
        "cell",
        F.zip_with(
            F.col("v"),
            F.element_at(carr, F.col("cell").cast("int") + 1),
            lambda x, y: x - y,
        ).alias("rv"),
    ).select("vec_id", "cell", energy.alias("energy"))
    is_batch = F.expr(batch_where)
    # ONE conditional cell-grain aggregation (guide §2.4): a
    # corpus/batch branch pair plus
    # the separate totals scan re-ran the assignment map pass — with
    # its nlist×dim literal argmin fold — THREE times inside the one
    # action. The conditional counts/sums produce the identical exact
    # BIGINTs in one pass; the totals are the per-cell sums re-
    # aggregated (every row lands in exactly one cell, so Σ per-cell
    # ≡ the direct corpus count — same integers, same ANSI
    # divide-by-zero on an empty batch). Persisted: the totals branch
    # and the spine join both read the nlist-row result.
    cellstats = (
        ren.withColumn("__b", is_batch)
        .groupBy("cell")
        .agg(
            F.count(F.when(~F.col("__b"), 1)).alias("corpus_n"),
            F.count(F.when(F.col("__b"), 1)).alias("batch_n"),
            F.sum(F.when(~F.col("__b"), F.col("energy"))).alias(
                "corpus_energy"
            ),
            F.sum(F.when(F.col("__b"), F.col("energy"))).alias(
                "batch_energy"
            ),
        )
        .persist()
    )
    tot = cellstats.agg(
        F.sum("corpus_n").alias("total_corpus"),
        F.sum("batch_n").alias("total_batch"),
    )
    spine = centroids.select(F.col("cid").alias("cell"))
    per_vec = lambda n, e: F.when(  # noqa: E731 — shared CASE shape
        F.col(n) > 0,
        F.col(e).cast("double") / F.col(n).cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        spine.join(cellstats, "cell", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            F.coalesce("corpus_n", F.lit(0)).alias("corpus_n"),
            F.coalesce("batch_n", F.lit(0)).alias("batch_n"),
            F.coalesce("corpus_energy", F.lit(0)).alias("corpus_energy"),
            F.coalesce("batch_energy", F.lit(0)).alias("batch_energy"),
            F.col("total_corpus"),
            F.col("total_batch"),
        )
        .select(
            "cell",
            "corpus_n",
            "batch_n",
            "corpus_energy",
            "batch_energy",
            (
                F.col("corpus_n").cast("double")
                / F.col("total_corpus").cast("double")
            ).alias("fill_share_corpus"),
            (
                F.col("batch_n").cast("double")
                / F.col("total_batch").cast("double")
            ).alias("fill_share_batch"),
            per_vec("corpus_n", "corpus_energy").alias(
                "energy_per_vec_corpus"
            ),
            per_vec("batch_n", "batch_energy").alias("energy_per_vec_batch"),
        )
        .orderBy("cell")
    )


@query("ivfpq_index_drift", _ivfpq_drift_oracle_sql())
def _ivfpq_index_drift(spark, t):
    # Index-staleness governance: the incremental
    # IVF-PQ path appends batches encoded against FROZEN centroids —
    # correct, but as the appended fraction grows the quantizer
    # drifts off the live distribution and recall decays silently.
    # This is the measurement that gates the rebuild: per cell, the
    # standing corpus's fill count + fixed-point residual energy
    # (floor(r·10³)² summed — exact BIGINTs, hash-safe) next to the
    # same stats for the batch under the SAME frozen assignment. A
    # healthy append tracks the corpus shares; rising batch
    # energy-per-vector or fill skew = the quantizer no longer fits
    # the data (rebuild-when thresholds in SCALING.md). One residual
    # pass over corpus+batch, two cell-grain aggregates, an nlist-row
    # spine join — corpus-linear, no driver loops. The oracle refits
    # the coarse model on the corpus subset only (fit_where), so
    # training leakage from the batch moves centroids and hash-fails.
    # Only the frozen coarse quantizer feeds the measurement, so the
    # model comes from ``ivfpq_coarse_fit`` — pinned bit-identical to
    # ``ivfpq_build(...)[0]`` (test_coarse_fit_equals_ivfpq_build_
    # centroids) without pq_train's seed collect + training jobs or
    # the residual/index persist nobody reads.
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    cents = ivfpq_coarse_fit(
        corpus, nlist=_IVFPQ["nlist"], iters=_IVFPQ["iters"]
    )
    return ivfpq_drift_stats(emb, cents)


def _semdedup_survivors_incremental_oracle_sql() -> str:
    """DuckDB twin of ``semdedup_incremental_survivors``: k-means CTEs
    fitted on the corpus only, corpus pairs + reachability closure →
    standing exemplars, batch assigned to the frozen cells, then the
    two-stage batch decision (standing-survivor hit, else batch-pair
    exemplar election via a second recursive closure)."""
    k, iters, dim, threshold = (
        _SEMDEDUP["k"],
        _SEMDEDUP["iters"],
        _SEMDEDUP["dim"],
        _SEMDEDUP["threshold"],
    )
    cos = cosine_sql("a.embedding", "b.embedding")
    parts, prev = kmeans_oracle_parts(
        k=k,
        iters=iters,
        dim=dim,
        table="embeddings",
        fit_where=f"NOT ({_BATCH_WHERE})",
    )
    parts += [
        f"ca AS {kmeans_assign_sql(dim, 'ef', prev)}",
        f"bv AS (SELECT * FROM e WHERE {_BATCH_WHERE})",
        f"ba AS {kmeans_assign_sql(dim, 'bv', prev)}",
        f"""cp AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM ca x JOIN embeddings a ON a.vec_id = x.vec_id
                JOIN ca y ON y.cluster = x.cluster
                JOIN embeddings b ON b.vec_id = y.vec_id
           WHERE x.vec_id < y.vec_id AND {cos} >= {threshold})""",
        """edges AS (SELECT vec_a AS src, vec_b AS dst FROM cp
           UNION SELECT vec_b, vec_a FROM cp)""",
        """reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT g.src, r.lbl FROM edges g JOIN reach r ON g.dst = r.node)""",
        """comp AS (SELECT node, MIN(lbl) AS component
           FROM reach GROUP BY node)""",
        """surv AS (SELECT x.vec_id, x.cluster FROM ca x
           WHERE x.vec_id NOT IN
                 (SELECT node FROM comp WHERE node != component))""",
        f"""hit AS (SELECT DISTINCT nb.vec_id
           FROM ba nb JOIN embeddings a ON a.vec_id = nb.vec_id
                JOIN surv s ON s.cluster = nb.cluster
                JOIN embeddings b ON b.vec_id = s.vec_id
           WHERE {cos} >= {threshold})""",
        """passed AS (SELECT nb.vec_id, nb.cluster FROM ba nb
           WHERE nb.vec_id NOT IN (SELECT vec_id FROM hit))""",
        f"""bp AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM passed x JOIN embeddings a ON a.vec_id = x.vec_id
                JOIN passed y ON y.cluster = x.cluster
                JOIN embeddings b ON b.vec_id = y.vec_id
           WHERE x.vec_id < y.vec_id AND {cos} >= {threshold})""",
        """bedges AS (SELECT vec_a AS src, vec_b AS dst FROM bp
           UNION SELECT vec_b, vec_a FROM bp)""",
        """breach(node, lbl) AS (
           SELECT src, src FROM bedges
           UNION
           SELECT g.src, r.lbl
           FROM bedges g JOIN breach r ON g.dst = r.node)""",
        """bcomp AS (SELECT node, MIN(lbl) AS component
           FROM breach GROUP BY node)""",
        """bdrop AS (SELECT node FROM bcomp WHERE node != component)""",
    ]
    return (
        "WITH RECURSIVE " + ",\n".join(parts) + f"""
        SELECT eb.vec_id, eb.label,
               CASE WHEN eb.vec_id IN (SELECT vec_id FROM hit)
                        THEN 'corpus_dup'
                    WHEN eb.vec_id IN (SELECT node FROM bdrop)
                        THEN 'batch_dup'
                    ELSE 'novel' END AS reason,
               (eb.vec_id NOT IN (SELECT vec_id FROM hit))
               AND (eb.vec_id NOT IN (SELECT node FROM bdrop)) AS kept
        FROM embeddings eb WHERE {_BATCH_WHERE}
        ORDER BY vec_id"""
    )


def _spread_members(df, key: str):
    # the semdedup operator's _spread_for_pairs, re-exported here for
    # the standing member tables (see operators/semdedup.py)
    from ..operators.semdedup import _spread_for_pairs

    return _spread_for_pairs(df, key)


def _cell_members(emb, cent_rows, id_col: str, e_col: str, n_col: str):
    # map-side assignment against the collected model (guide §2.4):
    # joining a separate assignment table back onto
    # the rows by vec_id — a corpus-grain shuffle that existed only to
    # recover the embedding column
    return (
        emb.withColumn(
            "__v", F.expr("transform(embedding, x -> cast(x as double))")
        )
        .withColumn("cluster", centroid_assign_expr(cent_rows, "__v"))
        .select(
            "cluster",
            F.col("vec_id").alias(id_col),
            F.col("embedding").alias(e_col),
            norm("embedding").alias(n_col),
        )
    )


def semdedup_incremental_survivors(corpus, batch, k, iters, dim, threshold):
    """(vec_id, label, reason, kept) for every BATCH row: the SemDeDup
    keep policy decided against the STANDING corpus exemplar set under
    the frozen corpus model — no corpus reclustering, no corpus
    reclosure. ``reason`` ∈ {corpus_dup, batch_dup, novel}; kept =
    novel. In production the model (k×dim centroids) and the survivor
    table are persisted — a daily batch costs one broadcast assign,
    one batch×survivors-per-cell join, and a closure over BATCH pairs
    only (``test_semdedup_incremental_survivors_standing_tables``
    proves the persisted-standing-tables path ≡ this recompute)."""
    _vectors, centroids = kmeans_fit(corpus, k=k, iters=iters, dim=dim)
    # the standing model is already materialized (kmeans_fit returns a
    # local relation backed by the collected k×dim rows); the member
    # table stays persisted — the pair self-join, survivor anti-join
    # and batch decision all scan it
    cent_rows = model_rows(centroids)
    # spread before persist (guide §2.5/§2.6): a one-split embedding
    # scan would cache the member table as ONE partition and the pair
    # self-join's cosine work would run on one core; the cached layout
    # is what every consumer inherits. No-op on wide scans.
    cm = _spread_members(
        _cell_members(corpus, cent_rows, "vec_a", "e_a", "n_a"), "vec_a"
    ).persist()
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    cpairs = (
        cm.join(
            cm.select(
                "cluster",
                F.col("vec_a").alias("vec_b"),
                F.col("e_a").alias("e_b"),
                F.col("n_a").alias("n_b"),
            ),
            "cluster",
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= threshold)
        .select("vec_a", "vec_b")
    )
    # localCheckpoint: connected_components' label output re-derives
    # its node spine from the edge plan — eager-cut it so the closure
    # (and the pair cosines under it) run exactly once
    comp = connected_components(cpairs, a="vec_a", b="vec_b").localCheckpoint(
        eager=False
    )
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_a")
    )
    surv = cm.join(dropped, "vec_a", "left_anti").persist()
    return _decide_batch(batch, centroids, surv, threshold)


def _decide_batch(batch, centroids, surv, threshold):
    """The per-batch half of ``semdedup_incremental_survivors``:
    ``surv`` is the standing survivor-member table (cluster, vec_a,
    e_a, n_a) — in production a persisted parquet table. ``centroids``
    may be a DataFrame (e.g. read back from the standing parquet) or
    pre-collected rows — the model is k×dim either way."""
    cent_rows = model_rows(centroids)
    bm = _spread_members(
        _cell_members(batch, cent_rows, "vec_b", "e_b", "n_b"), "vec_b"
    ).persist()
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    hit = (
        surv.join(bm, "cluster")
        .filter(cos >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .persist()
    )
    passed = bm.join(
        hit.select(F.col("vec_id").alias("vec_b")), "vec_b", "left_anti"
    ).persist()
    pa = passed.select(
        "cluster",
        F.col("vec_b").alias("vec_a"),
        F.col("e_b").alias("e_a"),
        F.col("n_b").alias("n_a"),
    )
    bpairs = (
        pa.join(passed, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= threshold)
        .select("vec_a", "vec_b")
    )
    bcomp = connected_components(
        bpairs, a="vec_a", b="vec_b"
    ).localCheckpoint(eager=False)
    bdrop = bcomp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id"), F.lit(True).alias("is_bdrop")
    )
    reason = (
        F.when(F.col("is_hit"), F.lit("corpus_dup"))
        .when(F.col("is_bdrop"), F.lit("batch_dup"))
        .otherwise(F.lit("novel"))
    )
    return (
        batch.select("vec_id", "label")
        .join(hit.withColumn("is_hit", F.lit(True)), "vec_id", "left")
        .join(bdrop, "vec_id", "left")
        .withColumn("is_hit", F.coalesce("is_hit", F.lit(False)))
        .withColumn("is_bdrop", F.coalesce("is_bdrop", F.lit(False)))
        .select(
            "vec_id",
            "label",
            reason.alias("reason"),
            (~F.col("is_hit") & ~F.col("is_bdrop")).alias("kept"),
        )
        .orderBy("vec_id")
    )


@query(
    "semdedup_survivors_incremental",
    _semdedup_survivors_incremental_oracle_sql(),
)
def _semdedup_survivors_incremental(spark, t):
    # Incremental SemDeDup keep policy: the batch's
    # survivors are decided against the STANDING exemplar set — the
    # corpus model and its survivor table are reused, never refit or
    # reclosed (semdedup_survivors recomputes the closure corpus-wide;
    # this is the dedup_incremental_anti shape at the semantic layer).
    # A batch row dies by matching a standing survivor in its frozen
    # cell (corpus_dup) or by losing the min-id exemplar election
    # among surviving batch rows (batch_dup). The oracle refits
    # k-means on the corpus subset only (fit_where CTE) and replays
    # both closures recursively — model or survivor-set leakage from
    # the batch hash-fails. Note the policy is sequencing-honest, not
    # recompute-equivalent: standing exemplars are immutable (already
    # served/trained on), so a batch row can survive that a full
    # recompute would have dropped — that asymmetry is the point of
    # the incremental contract.
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    return semdedup_incremental_survivors(corpus, batch, **_SEMDEDUP)


_RECALL_NPROBES = (1, 2, 4, 8)


def _ivfpq_recall_curve_oracle_sql() -> str:
    """DuckDB twin of ``ann_ivfpq_recall_curve``: one full build+probe
    derived table per nprobe (each is the UNCHANGED ``ivfpq_oracle_sql``
    text, so the per-point semantics are exactly the driver-gated
    single-probe query's), recall aggregated per point."""
    points = []
    for np_ in _RECALL_NPROBES:
        inner = ivfpq_oracle_sql(
            dim=64,
            nprobe=np_,
            topk=_TOPK,
            query_vec_id=_QVEC_ID,
            exact_k=_TOPK,
            **_IVFPQ,
        )
        points.append(
            f"""SELECT {np_} AS nprobe,
                CAST(COUNT(CASE WHEN in_exact_topk THEN 1 END) AS BIGINT)
                    AS hits
                FROM ({inner}) q{np_}"""
        )
    u = "\nUNION ALL\n".join(points)
    return f"""
    SELECT nprobe, hits,
           CAST(hits AS DOUBLE) / {float(_TOPK)} AS recall
    FROM ({u})
    ORDER BY nprobe
    """


@query("ann_ivfpq_recall_curve", _ivfpq_recall_curve_oracle_sql())
def _ann_ivfpq_recall_curve(spark, t):
    # The recall-vs-cost curve every ANN deployment tunes against:
    # recall@k of the ADC probe vs the exact top-k, at nprobe ∈
    # {1,2,4,8} (probing 1/8 .. all of the nlist=8 cells). Spark
    # builds the index ONCE and probes it once per point — each probe
    # is one filter+fold+TakeOrdered job over the probed cells' code
    # rows, so the whole curve costs build + 4 cheap probes; the
    # oracle replays the full build per point (same SQL text as the
    # driver-gated ann_topk_ivfpq). hits is an exact integer; recall
    # is the one shared float division. At 100 TB the same loop runs
    # against the written index with partition pruning per point —
    # the curve is how nprobe (the recall/latency knob) gets chosen,
    # and re-running it after appends is the recall-decay check that
    # complements ivfpq_index_drift's distribution view.
    # guide §2.4: the four per-point probes are FUSED into one
    # index scan + one window — the exact ground-truth subtree (a
    # full-corpus scan) appears once instead of once per point. Row-
    # identical by the probe-prefix property (ivfpq_recall_curve).
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    exact = _exact_topk_flags(emb, q, _TOPK)
    return ivfpq_recall_curve(
        index, cents, books, q, _RECALL_NPROBES, _TOPK, exact
    )


def _ivfpq_rebuild_decision_oracle_sql() -> str:
    """DuckDB twin of ``ivfpq_rebuild_decision``: the drift oracle as
    a derived table, aggregated into the three SCALING.md thresholds."""
    drift = _ivfpq_drift_oracle_sql()
    return f"""
    WITH d AS ({drift}),
    agg AS (
        SELECT CAST(SUM(corpus_n) AS BIGINT) AS tc,
               CAST(SUM(batch_n) AS BIGINT) AS tb,
               CAST(SUM(corpus_energy) AS BIGINT) AS ec,
               CAST(SUM(batch_energy) AS BIGINT) AS eb,
               CAST(SUM(CASE WHEN batch_n * {_IVFPQ["nlist"]} > tbx.tb2 * 2
                             AND (batch_n * tcx.tc2 > 2 * corpus_n * tbx.tb2
                                  OR batch_n * tcx.tc2 * 2
                                     < corpus_n * tbx.tb2)
                        THEN 1 ELSE 0 END) AS BIGINT) AS skew_cells
        FROM d
        CROSS JOIN (SELECT CAST(SUM(batch_n) AS BIGINT) AS tb2 FROM d) tbx
        CROSS JOIN (SELECT CAST(SUM(corpus_n) AS BIGINT) AS tc2 FROM d) tcx
    )
    SELECT
        (CAST(eb AS DOUBLE) / CAST(tb AS DOUBLE))
            / (CAST(ec AS DOUBLE) / CAST(tc AS DOUBLE)) AS energy_ratio,
        skew_cells AS fill_skew_cells,
        CAST(tb AS DOUBLE) / CAST(tb + tc AS DOUBLE) AS appended_fraction,
        (CAST(eb AS DOUBLE) / CAST(tb AS DOUBLE))
            / (CAST(ec AS DOUBLE) / CAST(tc AS DOUBLE)) > 1.5
            AS rebuild_energy,
        skew_cells > 0 AS rebuild_fill,
        CAST(tb AS DOUBLE) / CAST(tb + tc AS DOUBLE) > 0.3
            AS rebuild_fraction,
        ((CAST(eb AS DOUBLE) / CAST(tb AS DOUBLE))
            / (CAST(ec AS DOUBLE) / CAST(tc AS DOUBLE)) > 1.5)
        OR (skew_cells > 0)
        OR (CAST(tb AS DOUBLE) / CAST(tb + tc AS DOUBLE) > 0.3)
            AS rebuild
    FROM agg
    """


@query("ivfpq_rebuild_decision", _ivfpq_rebuild_decision_oracle_sql())
def _ivfpq_rebuild_decision(spark, t):
    # SCALING.md's rebuild-when policy AS CODE — the one-row
    # governance endpoint a scheduler polls after each append:
    #   rebuild_energy:   pooled batch energy-per-vector > 1.5× the
    #                     corpus's (quantizer off-distribution);
    #   rebuild_fill:     some cell holds > 2/nlist of the batch AND
    #                     its batch/corpus fill-share ratio is outside
    #                     [0.5, 2] (mass piling into skewed cells) —
    #                     both sides of the ratio test are CROSS-
    #                     MULTIPLIED so the comparison stays in exact
    #                     64-bit integers (no float division at all;
    #                     headroom: per-cell count × total count must
    #                     stay under 2⁶³ — at corpus sizes where that
    #                     binds, normalize shares to fixed-point per
    #                     mille first);
    #   rebuild_fraction: appended rows > 30% of the indexed total.
    # The two reported ratios are the usual shared-expression doubles
    # over exact integer sums; the booleans are what the scheduler
    # consumes. Composes the committed drift stats — one residual
    # pass + one nlist-row aggregate on top. Like the drift query, the
    # model is the coarse quantizer alone (``ivfpq_coarse_fit``, bit-
    # identical to the build's first stage) — no PQ training for a
    # decision that never reads codebooks.
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    cents = ivfpq_coarse_fit(
        corpus, nlist=_IVFPQ["nlist"], iters=_IVFPQ["iters"]
    )
    # persisted: the totals and skew branches below each consume the
    # drift stats — without this the residual pass over corpus+batch
    # runs once per branch (the recompute-amplification class the CC
    # checkpoint fix documents)
    d = ivfpq_drift_stats(emb, cents).persist()
    tb = F.sum("batch_n")
    tc = F.sum("corpus_n")
    totals = d.agg(
        tc.alias("tc"),
        tb.alias("tb"),
        F.sum("corpus_energy").alias("ec"),
        F.sum("batch_energy").alias("eb"),
    )
    skew = (
        d.crossJoin(F.broadcast(totals.select("tb", "tc")))
        .select(
            F.when(
                (F.col("batch_n") * _IVFPQ["nlist"] > F.col("tb") * 2)
                & (
                    (
                        F.col("batch_n") * F.col("tc")
                        > F.lit(2) * F.col("corpus_n") * F.col("tb")
                    )
                    | (
                        F.col("batch_n") * F.col("tc") * 2
                        < F.col("corpus_n") * F.col("tb")
                    )
                ),
                1,
            )
            .otherwise(0)
            .alias("s")
        )
        .agg(F.sum("s").alias("skew_cells"))
    )
    energy_ratio = (
        F.col("eb").cast("double") / F.col("tb").cast("double")
    ) / (F.col("ec").cast("double") / F.col("tc").cast("double"))
    appended = F.col("tb").cast("double") / (
        F.col("tb") + F.col("tc")
    ).cast("double")
    return (
        totals.crossJoin(F.broadcast(skew))
        .select(
            energy_ratio.alias("energy_ratio"),
            F.col("skew_cells").alias("fill_skew_cells"),
            appended.alias("appended_fraction"),
            (energy_ratio > 1.5).alias("rebuild_energy"),
            (F.col("skew_cells") > 0).alias("rebuild_fill"),
            (appended > 0.3).alias("rebuild_fraction"),
            (
                (energy_ratio > 1.5)
                | (F.col("skew_cells") > 0)
                | (appended > 0.3)
            ).alias("rebuild"),
        )
    )


@query("ann_ivfpq_recall_curve_served", _ivfpq_recall_curve_oracle_sql())
def _ann_ivfpq_recall_curve_served(spark, t):
    # The recall-decay check as production runs it: after every append
    # the curve is re-measured against the WRITTEN index, because the
    # in-memory build no longer exists — the index is a parquet table
    # partitioned by cell (ann_topk_ivfpq_served's layout). Build once,
    # write once, read back, then one filter+fold+TakeOrdered probe per
    # nprobe point against the read-back; each point's `cell isin`
    # filter lands as a PartitionFilter so a point reads nprobe/nlist
    # of the files (plan-asserted in test_ivfpq.py). Same oracle as
    # ann_ivfpq_recall_curve: the driver gate proves the served curve
    # ≡ the in-memory curve ≡ DuckDB each round. pid-scoped path:
    # bench/driver re-runs overwrite in place, concurrent processes
    # never collide.
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivfpq_curve_served_{os.getpid()}",
    )
    index.write.partitionBy("cell").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("long")
    )
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    exact = _exact_topk_flags(emb, q, _TOPK)
    # guide §2.4: the four per-point probes fused into ONE
    # read-back scan (`cell isin` over the max-nprobe probe set stays
    # a PartitionFilter) + one window; the exact ground-truth subtree
    # appears once instead of once per point. Row-identical by the
    # probe-prefix property (ivfpq_recall_curve).
    return ivfpq_recall_curve(
        back, cents, books, q, _RECALL_NPROBES, _TOPK, exact
    )


# The pinned query sample: deterministic ids so the DuckDB twin can
# replay the exact ground truth per query. Includes the established
# _QVEC_ID (7) so one row cross-checks the registered recall curve's
# nprobe=2 point, plus three spread ids.
_RECALL_AT_K_QUERY_IDS = (3, 7, 11, 19)


def _ivfpq_recall_at_k_oracle_sql() -> str:
    """DuckDB twin of the sampled recall@k evaluation: one full
    build+probe derived table per sampled query id — each is the
    UNCHANGED ``ivfpq_oracle_sql`` text (the driver-gated
    ann_topk_ivfpq semantics) — aggregated to (query_vec_id, hits,
    recall). The per-query union is the recall-curve oracle shape
    with the loop over query ids instead of nprobe points."""
    points = []
    for qid in _RECALL_AT_K_QUERY_IDS:
        inner = ivfpq_oracle_sql(
            dim=64,
            nprobe=_NPROBE,
            topk=_TOPK,
            query_vec_id=qid,
            exact_k=_TOPK,
            **_IVFPQ,
        )
        points.append(
            f"""SELECT {qid} AS query_vec_id,
                CAST(COUNT(CASE WHEN in_exact_topk THEN 1 END) AS BIGINT)
                    AS hits
                FROM ({inner}) q{qid}"""
        )
    u = "\nUNION ALL\n".join(points)
    return f"""
    SELECT query_vec_id, hits,
           CAST(hits AS DOUBLE) / {float(_TOPK)} AS recall
    FROM ({u})
    ORDER BY query_vec_id
    """


@query("ann_ivfpq_recall_at_k", _ivfpq_recall_at_k_oracle_sql())
def _ann_ivfpq_recall_at_k(spark, t):
    """Build once, evaluate the pinned sample via
    the one-pass multi-query ground truth + per-query ADC probes
    (operators/recall_eval.py)."""
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    return ivfpq_recall_at_k(
        index,
        cents,
        books,
        emb,
        list(_RECALL_AT_K_QUERY_IDS),
        k=_TOPK,
        nprobe=_NPROBE,
    )


def _ivfpq_recall_at_k_served_oracle_sql() -> str:
    """DuckDB twin: per sampled query id one full build+probe derived
    table — the UNCHANGED ``ivfpq_oracle_sql`` text with ``fit_where``
    excluding the batch (training sees only the corpus; encoding and
    the exact ground truth see everything — the incremental leakage
    contract) — aggregated to (query_vec_id, hits, recall)."""
    points = []
    for qid in _RECALL_AT_K_QUERY_IDS:
        inner = ivfpq_oracle_sql(
            dim=64,
            nprobe=_NPROBE,
            topk=_TOPK,
            query_vec_id=qid,
            exact_k=_TOPK,
            fit_where=f"NOT ({_BATCH_WHERE})",
            **_IVFPQ,
        )
        points.append(
            f"""SELECT {qid} AS query_vec_id,
                CAST(COUNT(CASE WHEN in_exact_topk THEN 1 END) AS BIGINT)
                    AS hits
                FROM ({inner}) q{qid}"""
        )
    u = "\nUNION ALL\n".join(points)
    return f"""
    SELECT query_vec_id, hits,
           CAST(hits AS DOUBLE) / {float(_TOPK)} AS recall
    FROM ({u})
    ORDER BY query_vec_id
    """


@query("ann_ivfpq_recall_at_k_served", _ivfpq_recall_at_k_served_oracle_sql())
def _ann_ivfpq_recall_at_k_served(spark, t):
    """Corpus-only model + index, written
    cell-partitioned (the serving layout); batch encoded against the
    frozen model and APPENDED to the written index; the recall@k
    sample evaluated from the read-back. Every probe point's `cell
    isin` filter lands as a PartitionFilter on the read-back scan
    (the served plan gate covers the shared ``ivfpq_topk``), so
    each query reads nprobe/nlist of the index files. pid-scoped
    path + overwrite-then-append: in-process re-runs reset the dir
    (overwrite truncates the previous append too); tmpindex removes
    it at exit."""
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    cents, books, corpus_index = ivfpq_build(corpus, **_IVFPQ)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivfpq_recall_served_{os.getpid()}",
    )
    corpus_index.write.partitionBy("cell").mode("overwrite").parquet(path)
    ivfpq_encode_batch(batch, cents, books, m=_IVFPQ["m"]).write.partitionBy(
        "cell"
    ).mode("append").parquet(path)
    back = spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("long")
    )
    return ivfpq_recall_at_k(
        back,
        cents,
        books,
        emb,
        list(_RECALL_AT_K_QUERY_IDS),
        k=_TOPK,
        nprobe=_NPROBE,
    )


# ---------------------------------------------------------------------------
# semdedup_survivors_budgeted
# ---------------------------------------------------------------------------
# target_cell=100: at sf0.001/sf0.01 (500 vectors) k derives to 5, at
# sf0.1 (2000) to 20 — the k the registered fixed-k rows pin at 8
# regardless of corpus size. Small enough that local tests exercise
# multi-cell behavior; production uses cell_budget.DEFAULT_TARGET_CELL.
_BUDGET_TARGET_CELL = 100
_BUDGET_PARAMS = dict(iters=2, dim=64, threshold=0.2)

# pure integer ceil-division — the SQL twin of derive_k(n, target):
# max(1, ⌈n/target⌉) with ⌈a/b⌉ = (a + b − 1) // b for positive ints
_DERIVED_K_SQL = (
    f"(SELECT GREATEST(1, (count(*) + {_BUDGET_TARGET_CELL - 1})"
    f" // {_BUDGET_TARGET_CELL}) FROM embeddings)"
)


def _semdedup_survivors_budgeted_oracle_sql() -> str:
    pairs_sql = semdedup_oracle_sql(
        k_sql=_DERIVED_K_SQL, **_BUDGET_PARAMS
    )
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM ( {pairs_sql} ) q
    ),
    kd AS (SELECT CAST({_DERIVED_K_SQL} AS BIGINT) AS derived_k),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION
        SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, CAST(MIN(lbl) AS BIGINT) AS component
             FROM reach GROUP BY node),
    sizes AS (SELECT component, count(*) AS comp_size
              FROM comp GROUP BY component),
    surv AS (
        SELECT e.vec_id, e.label,
               COALESCE(c.component, e.vec_id) AS component,
               COALESCE(s.comp_size, 1) AS comp_size
        FROM embeddings e
        LEFT JOIN comp c ON c.node = e.vec_id
        LEFT JOIN sizes s ON s.component = COALESCE(c.component, e.vec_id)
        WHERE e.vec_id NOT IN
              (SELECT node FROM comp WHERE node != component)
    ),
    tot AS (SELECT label, count(*) AS label_total
            FROM embeddings GROUP BY label),
    kept AS (SELECT label, count(*) AS label_kept FROM surv GROUP BY label)
    SELECT surv.vec_id, surv.label, surv.component, surv.comp_size,
           tot.label_total, kept.label_kept, kd.derived_k
    FROM surv JOIN tot USING (label) JOIN kept USING (label)
    CROSS JOIN kd
    ORDER BY vec_id
    """


@query(
    "semdedup_survivors_budgeted",
    _semdedup_survivors_budgeted_oracle_sql(),
)
def _semdedup_survivors_budgeted(spark, t):
    """``cell_budget.semdedup_closure_scaled``
    (ONE implementation of derive_k → pairs → transitive closure,
    shared with ``semdedup_survivors_scaled``) feeds the exact
    ``semdedup_survivors`` reporting composition (drop non-exemplars
    → per-label savings), with ``derived_k`` emitted so the
    derivation itself rides the driver hash. Scale shape: expected
    cell size = target_cell, so the pair join is n·target_cell
    (corpus-linear) instead of fixed-k's n²/k —
    scripts/probe_budgeted_x10.py measured 2.81× on 10× data."""
    emb = t["embeddings"]
    labels = emb.select("vec_id", "label")
    comp, k = semdedup_closure_scaled(
        emb, target_cell=_BUDGET_TARGET_CELL, **_BUDGET_PARAMS
    )  # (node, comp), derived k
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id")
    )
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    surv = (
        labels.join(dropped, "vec_id", "left_anti")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .withColumn("component", F.coalesce("comp", "vec_id"))
        .join(
            sizes.withColumnRenamed("comp", "component"), "component", "left"
        )
        .withColumn("comp_size", F.coalesce("comp_size", F.lit(1)))
        .select("vec_id", "label", "component", "comp_size")
    )
    tot = labels.groupBy("label").agg(F.count(F.lit(1)).alias("label_total"))
    kept = surv.groupBy("label").agg(F.count(F.lit(1)).alias("label_kept"))
    return (
        surv.join(F.broadcast(tot), "label")
        .join(F.broadcast(kept), "label")
        .select(
            "vec_id",
            "label",
            "component",
            "comp_size",
            "label_total",
            "label_kept",
            F.lit(k).cast("long").alias("derived_k"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# ann_ivfpq_recall_at_k_served_filtered
# ---------------------------------------------------------------------------
# the metadata predicate the serving filter applies — roughly half
# the corpus at every SF, so filtered recall is non-degenerate
_SERVED_FILTER_WHERE = "label % 2 = 0"


def _ivfpq_recall_at_k_served_filtered_oracle_sql() -> str:
    """DuckDB twin: the served recall@k oracle (``fit_where`` excludes the
    batch — training sees only the corpus) with ``candidate_where``
    restricting BOTH the ADC scoring set and the exact ground truth
    to the metadata-filtered rows, aggregated per sampled query."""
    points = []
    for qid in _RECALL_AT_K_QUERY_IDS:
        inner = ivfpq_oracle_sql(
            dim=64,
            nprobe=_NPROBE,
            topk=_TOPK,
            query_vec_id=qid,
            exact_k=_TOPK,
            fit_where=f"NOT ({_BATCH_WHERE})",
            candidate_where=_SERVED_FILTER_WHERE,
            **_IVFPQ,
        )
        points.append(
            f"""SELECT {qid} AS query_vec_id,
                CAST(COUNT(CASE WHEN in_exact_topk THEN 1 END) AS BIGINT)
                    AS hits
                FROM ({inner}) q{qid}"""
        )
    u = "\nUNION ALL\n".join(points)
    return f"""
    SELECT query_vec_id, hits,
           CAST(hits AS DOUBLE) / {float(_TOPK)} AS recall
    FROM ({u})
    ORDER BY query_vec_id
    """


@query(
    "ann_ivfpq_recall_at_k_served_filtered",
    _ivfpq_recall_at_k_served_filtered_oracle_sql(),
)
def _ann_ivfpq_recall_at_k_served_filtered(spark, t):
    """The ``ann_ivfpq_recall_at_k_served`` pipeline (corpus-only model,
    cell-partitioned write, frozen-model batch append, read-back
    probes under cell PartitionFilters) with the metadata column
    STORED IN the index rows and the serving predicate applied inside
    the pruned probe scan — each query still reads nprobe/nlist of
    the index files, the label filter evaluates on just those rows.
    Ground truth = exact top-k among rows passing the SAME predicate;
    query vectors resolve from the full corpus."""
    emb = t["embeddings"]
    labels = emb.select("vec_id", "label")
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    cents, books, corpus_index = ivfpq_build(corpus, **_IVFPQ)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivfpq_recall_servfilt_{os.getpid()}",
    )
    # a recycled pid could leave a stale dir here whose
    # residue the overwrite+append pair would interleave with; clear it
    # first (tmpindex still removes the dir at process exit)
    shutil.rmtree(path, ignore_errors=True)
    corpus_index.join(labels, "vec_id").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)
    ivfpq_encode_batch(batch, cents, books, m=_IVFPQ["m"]).join(
        labels, "vec_id"
    ).write.partitionBy("cell").mode("append").parquet(path)
    back = spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("long")
    )
    return ivfpq_recall_at_k(
        back.filter(F.expr(_SERVED_FILTER_WHERE)),
        cents,
        books,
        emb,
        list(_RECALL_AT_K_QUERY_IDS),
        k=_TOPK,
        nprobe=_NPROBE,
        candidates=emb.filter(F.expr(_SERVED_FILTER_WHERE)),
    )


# ---------------------------------------------------------------------------
# semdedup_survivors_incremental_budgeted
# ---------------------------------------------------------------------------
# k derives from the CORPUS count (the fit set — the frozen model is
# corpus-only, so its shape must be too); same cell target as the
# batch-layer budgeted row.
_INC_TARGET_CELL = 100
_INC_K_SQL = (
    f"(SELECT GREATEST(1, (count(*) + {_INC_TARGET_CELL - 1})"
    f" // {_INC_TARGET_CELL}) FROM embeddings"
    f" WHERE NOT ({_BATCH_WHERE}))"
)


def _semdedup_survivors_incremental_budgeted_oracle_sql() -> str:
    """DuckDB twin: the registered incremental-survivors oracle
    (``semdedup_survivors_incremental`` — corpus-only k-means fit, standing
    exemplar closure, frozen-cell batch assignment, two-stage batch
    decision) with the seed LIMIT derived via
    ``kmeans_oracle_parts(k_sql=)`` and ``derived_k`` emitted."""
    iters, dim, threshold = (
        _SEMDEDUP["iters"],
        _SEMDEDUP["dim"],
        _SEMDEDUP["threshold"],
    )
    cos = cosine_sql("a.embedding", "b.embedding")
    parts, prev = kmeans_oracle_parts(
        iters=iters,
        dim=dim,
        table="embeddings",
        fit_where=f"NOT ({_BATCH_WHERE})",
        k_sql=_INC_K_SQL,
    )
    parts += [
        f"kd AS (SELECT CAST({_INC_K_SQL} AS BIGINT) AS derived_k)",
        f"ca AS {kmeans_assign_sql(dim, 'ef', prev)}",
        f"bv AS (SELECT * FROM e WHERE {_BATCH_WHERE})",
        f"ba AS {kmeans_assign_sql(dim, 'bv', prev)}",
        f"""cp AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM ca x JOIN embeddings a ON a.vec_id = x.vec_id
                JOIN ca y ON y.cluster = x.cluster
                JOIN embeddings b ON b.vec_id = y.vec_id
           WHERE x.vec_id < y.vec_id AND {cos} >= {threshold})""",
        """edges AS (SELECT vec_a AS src, vec_b AS dst FROM cp
           UNION SELECT vec_b, vec_a FROM cp)""",
        """reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT g.src, r.lbl FROM edges g JOIN reach r ON g.dst = r.node)""",
        """comp AS (SELECT node, MIN(lbl) AS component
           FROM reach GROUP BY node)""",
        """surv AS (SELECT x.vec_id, x.cluster FROM ca x
           WHERE x.vec_id NOT IN
                 (SELECT node FROM comp WHERE node != component))""",
        f"""hit AS (SELECT DISTINCT nb.vec_id
           FROM ba nb JOIN embeddings a ON a.vec_id = nb.vec_id
                JOIN surv s ON s.cluster = nb.cluster
                JOIN embeddings b ON b.vec_id = s.vec_id
           WHERE {cos} >= {threshold})""",
        """passed AS (SELECT nb.vec_id, nb.cluster FROM ba nb
           WHERE nb.vec_id NOT IN (SELECT vec_id FROM hit))""",
        f"""bp AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM passed x JOIN embeddings a ON a.vec_id = x.vec_id
                JOIN passed y ON y.cluster = x.cluster
                JOIN embeddings b ON b.vec_id = y.vec_id
           WHERE x.vec_id < y.vec_id AND {cos} >= {threshold})""",
        """bedges AS (SELECT vec_a AS src, vec_b AS dst FROM bp
           UNION SELECT vec_b, vec_a FROM bp)""",
        """breach(node, lbl) AS (
           SELECT src, src FROM bedges
           UNION
           SELECT g.src, r.lbl
           FROM bedges g JOIN breach r ON g.dst = r.node)""",
        """bcomp AS (SELECT node, MIN(lbl) AS component
           FROM breach GROUP BY node)""",
        """bdrop AS (SELECT node FROM bcomp WHERE node != component)""",
    ]
    return (
        "WITH RECURSIVE " + ",\n".join(parts) + f"""
        SELECT eb.vec_id, eb.label,
               CASE WHEN eb.vec_id IN (SELECT vec_id FROM hit)
                        THEN 'corpus_dup'
                    WHEN eb.vec_id IN (SELECT node FROM bdrop)
                        THEN 'batch_dup'
                    ELSE 'novel' END AS reason,
               (eb.vec_id NOT IN (SELECT vec_id FROM hit))
               AND (eb.vec_id NOT IN (SELECT node FROM bdrop)) AS kept,
               kd.derived_k
        FROM embeddings eb CROSS JOIN kd WHERE {_BATCH_WHERE}
        ORDER BY vec_id"""
    )


@query(
    "semdedup_survivors_incremental_budgeted",
    _semdedup_survivors_incremental_budgeted_oracle_sql(),
)
def _semdedup_survivors_incremental_budgeted(spark, t):
    """One corpus count derives k (the only job
    added over the fixed-k path), then the UNCHANGED
    ``semdedup_incremental_survivors`` composition under that k —
    broadcast assign, batch×survivors-per-cell join, batch-only
    closure. Production shape: the persisted model's k already
    encodes the budget; a daily batch pays O(batch) regardless of
    corpus size."""
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    k = derive_k(corpus.count(), target_cell=_INC_TARGET_CELL)
    out = semdedup_incremental_survivors(
        corpus,
        batch,
        k=k,
        iters=_SEMDEDUP["iters"],
        dim=_SEMDEDUP["dim"],
        threshold=_SEMDEDUP["threshold"],
    )
    return out.select(
        "vec_id",
        "label",
        "reason",
        "kept",
        F.lit(k).cast("long").alias("derived_k"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# ann_ivfpq_recall_curve_served_filtered
# ---------------------------------------------------------------------------


def _ivfpq_recall_curve_served_filtered_oracle_sql() -> str:
    """DuckDB twin: one full build+probe derived table per nprobe —
    each the UNCHANGED ``ivfpq_oracle_sql`` text with ``fit_where``
    excluding the batch (the served leakage contract) and
    ``candidate_where`` restricting BOTH the ADC scoring set and the
    exact ground truth to the metadata-filtered rows — recall
    aggregated per curve point."""

    points = []
    for np_ in _RECALL_NPROBES:
        inner = ivfpq_oracle_sql(
            dim=64,
            nprobe=np_,
            topk=_TOPK,
            query_vec_id=_QVEC_ID,
            exact_k=_TOPK,
            fit_where=f"NOT ({_BATCH_WHERE})",
            candidate_where=_SERVED_FILTER_WHERE,
            **_IVFPQ,
        )
        points.append(
            f"""SELECT {np_} AS nprobe,
                CAST(COUNT(CASE WHEN in_exact_topk THEN 1 END) AS BIGINT)
                    AS hits
                FROM ({inner}) q{np_}"""
        )
    u = "\nUNION ALL\n".join(points)
    return f"""
    SELECT nprobe, hits,
           CAST(hits AS DOUBLE) / {float(_TOPK)} AS recall
    FROM ({u})
    ORDER BY nprobe
    """


@query(
    "ann_ivfpq_recall_curve_served_filtered",
    _ivfpq_recall_curve_served_filtered_oracle_sql(),
)
def _ann_ivfpq_recall_curve_served_filtered(spark, t):
    """The ``ann_ivfpq_recall_at_k_served_filtered`` pipeline (corpus-
    only model, labels stored in the index rows, cell-partitioned
    write, frozen-model batch append, metadata predicate inside the
    PartitionFilter-pruned probe scan) swept across the nprobe curve
    — build/write/append ONCE, one filter+fold+TakeOrdered probe per
    point against the read-back. Ground truth = exact top-k among
    rows passing the SAME predicate; the query vector resolves from
    the full corpus."""

    emb = t["embeddings"]
    labels = emb.select("vec_id", "label")
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    cents, books, corpus_index = ivfpq_build(corpus, **_IVFPQ)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivfpq_curve_servfilt_{os.getpid()}",
    )
    # as in ann_ivfpq_recall_at_k_served_filtered: clear
    # any stale pid-collision residue before the overwrite+append pair
    shutil.rmtree(path, ignore_errors=True)
    corpus_index.join(labels, "vec_id").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)
    ivfpq_encode_batch(batch, cents, books, m=_IVFPQ["m"]).join(
        labels, "vec_id"
    ).write.partitionBy("cell").mode("append").parquet(path)
    back = (
        spark.read.parquet(path)
        .withColumn("cell", F.col("cell").cast("long"))
        .filter(F.expr(_SERVED_FILTER_WHERE))
    )
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    exact = _exact_topk_flags(
        emb.filter(F.expr(_SERVED_FILTER_WHERE)), q, _TOPK
    )
    # guide §2.4: the four per-point probes fused into ONE
    # read-back scan + one window (the metadata predicate rides the
    # same scan; a point whose probed cells hold zero eligible rows
    # still reports hits=0); the filtered exact ground truth appears
    # once instead of once per point. Row-identical by the
    # probe-prefix property (ivfpq_recall_curve).
    return ivfpq_recall_curve(
        back, cents, books, q, _RECALL_NPROBES, _TOPK, exact
    )
