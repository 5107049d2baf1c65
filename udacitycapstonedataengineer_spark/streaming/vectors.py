"""Streaming semantic dedup — the micro-batch twin of
``operators/semdedup.semdedup_incremental_pairs``.

An embedding-ingest stream (new documents' vectors landing
continuously) is deduplicated against a standing corpus the same way
the batch incremental path does it, with two streaming-specific
constraints honored:

- **Assignment must be stateless.** The batch path's
  ``kmeans_assign`` uses a row_number window (not allowed on
  streams). Here the fitted centroids — a k×dim table, tiny by
  definition — become a LITERAL expression: per row, an array of
  (dist2, cid) structs is reduced with ``array_min``, whose struct
  ordering (first field, then second) IS the (dist2, cid) argmin
  tie-break. Zero shuffle, zero state: a codegen'd projection.
- **The corpus joins as a static side.** The standing index
  (cluster, vec_id, embedding, norm) is a batch DataFrame (in
  production: the persisted assignment table partitioned by cluster);
  stream-static equi-joins on the cluster id are append-safe, so each
  micro-batch emits exactly its own batch↔corpus near-dup pairs.

``test_streaming.py::test_stream_semdedup_matches_batch_incremental``
pins micro-batch ≡ batch equality end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.clustering import centroid_assign_expr
from ..operators.coarse import with_cell_residual
from ..operators.ivfpq import ivfpq_encode_batch
from ..operators.similarity import cosine_prenorm, norm

# centroid_assign_expr was born here for the streaming constraint
# (windows are not allowed on streams) and graduated to
# operators/clustering.py in round 16 when the batch side adopted the
# same map-only assignment (guide §2.4); re-exported so streaming
# callers and docs keep their import path.


def build_corpus_index(
    corpus: DataFrame, corpus_assign: DataFrame
) -> DataFrame:
    """(cluster, corpus_vec_id, e_b, n_b): the static join side — in
    production a table written once per corpus refresh, partitioned by
    cluster so each micro-batch's join prunes to its clusters."""
    return corpus.join(corpus_assign, "vec_id").select(
        "cluster",
        F.col("vec_id").alias("corpus_vec_id"),
        F.col("embedding").alias("e_b"),
        norm("embedding").alias("n_b"),
    )


def stream_semdedup_pairs(
    new_stream: DataFrame,
    corpus_index: DataFrame,
    centroid_rows: list,
    threshold: float = 0.2,
) -> DataFrame:
    """Append-mode stream of (cluster, new_vec_id, corpus_vec_id,
    cosine): each arriving vector is assigned to its standing cell
    (stateless projection) and compared against that cell's corpus
    members only (stream-static equi-join on cluster)."""
    assigned = new_stream.select(
        F.col("vec_id").alias("new_vec_id"),
        F.col("embedding").alias("e_a"),
        norm("embedding").alias("n_a"),
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("v"),
    ).withColumn("cluster", centroid_assign_expr(centroid_rows)).drop("v")
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    return (
        assigned.join(corpus_index, "cluster")
        .select(
            "cluster", "new_vec_id", "corpus_vec_id", cos.alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


# Append-mode stream of (vec_id, cell, codes): each arriving vector
# encoded against the FROZEN corpus IVF-PQ model — the ANN sibling of
# ``stream_semdedup_pairs``. The batch encode IS a stateless projection
# (literal-argmin cell, literal-lookup residual, literal-argmin codes —
# zero state, zero shuffle), so the stream runs it unchanged and is
# append-safe; in production each micro-batch's output appends onto
# the cell-partitioned index parquet via foreachBatch.
# ``test_stream_ivfpq_encode_matches_batch`` pins multi-micro-batch
# foreachBatch append ≡ ``ivfpq_encode_batch``, codes and cells
# included.
stream_ivfpq_encode = ivfpq_encode_batch


def stream_ivfpq_drift_stats(
    new_stream: DataFrame,
    centroid_rows: list,
    energy_scale: int = 1000,
) -> DataFrame:
    """Append-mode stream of (vec_id, cell, energy): each arriving
    vector's frozen-model cell and fixed-point residual energy
    (floor(r·scale)² summed — the exact-BIGINT statistic
    ``plans/queries_sim.ivfpq_drift_stats`` aggregates), as a
    stateless projection. The per-cell drift aggregation happens at
    read time over the appended stats table (or in the foreachBatch
    sink), so the stream itself stays shuffle-free and append-safe —
    the governance twin of ``stream_ivfpq_encode``: the encode stream
    maintains the index, this stream maintains the evidence for WHEN
    to stop trusting the frozen model (SCALING.md rebuild-when).

    ``test_stream_ivfpq_drift_matches_batch`` pins multi-micro-batch
    append ≡ the batch drift stats, cell energies included."""
    energy = (
        f"aggregate(transform(rv, x -> "
        f"CAST(FLOOR(x * {energy_scale}.0) AS BIGINT)"
        f" * CAST(FLOOR(x * {energy_scale}.0) AS BIGINT)), "
        f"0L, (acc, w) -> acc + w)"
    )
    vectors = new_stream.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return with_cell_residual(vectors, centroid_rows, "rv").select(
        "vec_id", "cell", F.expr(energy).alias("energy")
    )
