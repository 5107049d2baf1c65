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

from ..operators.clustering import centroid_assign_expr  # noqa: F401
from ..operators.similarity import cosine_prenorm, norm

# centroid_assign_expr was born here for the streaming constraint
# (windows are not allowed on streams) and graduated to
# operators/clustering.py in round 16 when the batch side adopted the
# same map-only assignment (guide §2.4); re-exported so streaming
# callers and docs keep their import path.

_DIST2 = (
    "aggregate(zip_with({v}, {c}, (x, y) -> (x - y) * (x - y)),"
    " 0D, (acc, w) -> acc + w)"
)


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


def stream_ivfpq_encode(
    new_stream: DataFrame,
    centroid_rows: list,
    codebook_rows: list,
    m: int = 8,
) -> DataFrame:
    """Append-mode stream of (vec_id, cell, codes): each arriving
    vector encoded against the FROZEN corpus IVF-PQ model — the ANN
    sibling of ``stream_semdedup_pairs`` (VERDICT r9 #6) and the
    streaming twin of ``operators/ivfpq.ivfpq_encode_batch``.

    Everything is a stateless whole-stage-codegen projection, so the
    encode is append-safe with zero state and zero shuffle:

    - **cell**: the same ``array_min`` (dist2, cid) argmin literal the
      semdedup twin uses (``centroid_assign_expr``) — bit-identical to
      the batch ``kmeans_assign`` window.
    - **residual**: the cell's centroid is looked up from a literal
      array-of-arrays indexed by the cell id (ivfpq_build's cids are
      dense 0..nlist-1), then subtracted with the same zip_with fold.
    - **codes**: per subspace, an ``array_min`` over the k codebook
      entries' (dist2, cid) structs on the residual SLICE — the same
      fold and tie-break as ``pq.pq_encode``'s window, m·k literal
      structs in one projection.

    In production each micro-batch's output appends onto the
    cell-partitioned index parquet via foreachBatch;
    ``test_stream_ivfpq_encode_matches_batch`` pins multi-micro-batch
    foreachBatch append ≡ ``ivfpq_encode_batch``, codes and cells
    included."""
    cents = sorted(centroid_rows, key=lambda r: r["cid"])
    if [int(r["cid"]) for r in cents] != list(range(len(cents))):
        raise ValueError(
            "stream_ivfpq_encode: coarse cids must be dense 0..nlist-1"
        )
    dim = len(cents[0]["c"])
    if dim % m != 0:
        # a silent floor-divide would drop the trailing dim % m
        # dimensions from every residual slice
        raise ValueError(
            f"stream_ivfpq_encode: dim {dim} not divisible by m {m}"
        )
    dsub = dim // m
    cent_arr = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in r["c"]) + ")"
            for r in cents
        )
        + ")"
    )
    by_sub: dict[int, list] = {}
    for r in codebook_rows:
        by_sub.setdefault(int(r["sub"]), []).append(r)
    missing = [s for s in range(m) if s not in by_sub]
    if missing:
        raise ValueError(
            f"stream_ivfpq_encode: codebook missing subspaces {missing} "
            f"(expected 0..{m - 1})"
        )
    code_entries = []
    for s in range(m):
        entries = []
        for r in sorted(by_sub[s], key=lambda r: int(r["cid"])):
            c = "array(" + ",".join(f"{float(x)!r}D" for x in r["c"]) + ")"
            d2 = _DIST2.format(v=f"slice(rv, {s * dsub + 1}, {dsub})", c=c)
            entries.append(f"struct({d2} AS dist2, {int(r['cid'])} AS cid)")
        code_entries.append(f"array_min(array({','.join(entries)})).cid")
    codes_expr = f"array({','.join(code_entries)})"
    return (
        new_stream.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias(
                "v"
            ),
        )
        .withColumn("cell", centroid_assign_expr(centroid_rows))
        .withColumn(
            "rv",
            F.expr(
                f"zip_with(v, element_at({cent_arr}, "
                "cast(cell as int) + 1), (x, y) -> x - y)"
            ),
        )
        .select("vec_id", "cell", F.expr(codes_expr).alias("codes"))
    )


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
    cents = sorted(centroid_rows, key=lambda r: r["cid"])
    if [int(r["cid"]) for r in cents] != list(range(len(cents))):
        raise ValueError(
            "stream_ivfpq_drift_stats: coarse cids must be dense 0..n-1"
        )
    cent_arr = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in r["c"]) + ")"
            for r in cents
        )
        + ")"
    )
    energy = (
        f"aggregate(transform(rv, x -> "
        f"CAST(FLOOR(x * {energy_scale}.0) AS BIGINT)"
        f" * CAST(FLOOR(x * {energy_scale}.0) AS BIGINT)), "
        f"0L, (acc, w) -> acc + w)"
    )
    return (
        new_stream.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias(
                "v"
            ),
        )
        .withColumn("cell", centroid_assign_expr(centroid_rows))
        .withColumn(
            "rv",
            F.expr(
                f"zip_with(v, element_at({cent_arr}, "
                "cast(cell as int) + 1), (x, y) -> x - y)"
            ),
        )
        .select("vec_id", "cell", F.expr(energy).alias("energy"))
    )
