"""Coarse quantizer of the IVF-PQ index: the trainer shared by
``ivfpq_build`` and the governance queries, plus the frozen-model
centroid lookup and the residual projection built on it.

``ivfpq_index_drift`` and ``ivfpq_rebuild_decision`` need only the
coarse centroids (they feed ``ivfpq_drift_stats``), so they call
``ivfpq_coarse_fit`` instead of ``ivfpq_build`` and skip the codebook
training and the residual index. ``coarse_fit_from_vectors`` is the
first stage of ``ivfpq_build`` EXACTLY — same dense 0..nlist-1 seed
cids, same fixed-point sums, same truncating centroid update
((Σ/n) cast long → double / SCALE), same empty-cell retention — so
the returned centroids are bit-identical to the build's (pinned by
``test_coarse_fit_equals_ivfpq_build_centroids``).

NOT a drop-in for ``clustering.kmeans_fit``: that trainer seeds cids
from vec_id, uses a non-truncating float update, and drops emptied
clusters — three deliberate differences the oracle CTE generators
mirror per-operator. Assignment is shared:
``clustering.centroid_assign_expr``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .clustering import (
    SCALE,
    centroid_assign_expr,
    double_array_sql,
    quantize_vec_py,
)


def centroid_array(cent_rows) -> Column:
    """array<array<double>> literal of the frozen centroids ordered by
    dense cid, built from one SQL string —
    ``element_at(centroid_array(m), cid + 1)`` recovers a row's
    winning centroid after ``centroid_assign_expr`` (the residual
    lookup of the IVF-PQ encode and drift paths)."""
    cents = sorted(cent_rows, key=lambda r: r["cid"])
    if [int(r["cid"]) for r in cents] != list(range(len(cents))):
        raise ValueError(
            "centroid_array: coarse cids must be dense 0..nlist-1"
        )
    return F.expr(
        "array(" + ",".join(double_array_sql(r["c"]) for r in cents) + ")"
    )


def with_cell_residual(df: DataFrame, cent_rows, out: str) -> DataFrame:
    """``df`` (with ``v`` array<double>) plus ``cell``, its nearest
    frozen centroid (``centroid_assign_expr``), and ``out``, the
    residual ``v`` minus that centroid — the one residual projection
    of the IVF-PQ build, encode and drift paths. ``cell`` is projected
    in its own step so the argmin fold runs once per row (Catalyst
    does not CSE lambda-bearing folds); the centroid array rides as
    one named column, so its literal appears once in the plan."""
    return (
        df.withColumn("cell", centroid_assign_expr(cent_rows))
        .withColumn("__carr", centroid_array(cent_rows))
        .withColumn(
            out,
            F.expr(
                "zip_with(v, element_at(__carr, cast(cell as int) + 1),"
                " (x, y) -> x - y)"
            ),
        )
        .drop("__carr")
    )


def coarse_fit_from_vectors(
    vectors: DataFrame, nlist: int, iters: int, who: str
) -> list:
    """The shared coarse-quantizer trainer behind ``ivfpq_coarse_fit``
    and ``ivfpq_build``: dense 0..nlist-1 seed cids, map-only
    assignment per round (``centroid_assign_expr`` over the collected
    model), fixed-point sums,
    truncating centroid update, empty-cell retention. Returns the
    COLLECTED centroid rows [(cid, c)] — model-sized (nlist×dim), so
    callers build literals/DataFrames from them without re-running
    the training subtree per consumer. ``vectors`` = (vec_id,
    v array<double>), expected persisted by the caller."""
    seed = vectors.orderBy("vec_id").limit(nlist).collect()
    if len(seed) < nlist:
        raise ValueError(f"{who}: nlist={nlist} > {len(seed)} vectors")
    dim = len(seed[0]["v"])
    # driver-side seed quantization (bit-identical — quantize_vec_py):
    # the model starts as plain rows, no local-relation action spent
    cent_rows = [
        {"cid": i, "c": quantize_vec_py(r["v"])} for i, r in enumerate(seed)
    ]
    for _ in range(iters - 1):
        # narrow fixed-point sums (posexplode to (cluster, d, q)): the
        # dim-wide column list codegens a far larger class — measured
        # 2× per-action cost (PERF_NOTES r16); values are identical
        # exact BIGINTs either way
        sums = (
            vectors.select(
                centroid_assign_expr(cent_rows).alias("cluster"),
                F.expr(
                    f"transform(v, x -> CAST(FLOOR(x * {SCALE}) AS BIGINT))"
                ).alias("qv"),
            )
            .select("cluster", F.posexplode("qv").alias("d", "q"))
            .groupBy("cluster", "d")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("s"))
            .collect()
        )
        per: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            per.setdefault(int(r["cluster"]), {})[int(r["d"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        # truncating update finished driver-side, op for op the former
        # SQL select: (s / n) double division, CAST AS BIGINT (trunc
        # toward zero — Python int() matches), back to double / SCALE
        new_rows = [
            {
                "cid": cid,
                "c": [
                    float(int(float(dims[d][0]) / float(dims[d][1]))) / SCALE
                    for d in range(dim)
                ],
            }
            for cid, dims in sorted(per.items())
        ]
        # empty clusters keep their previous centroid (driver-side
        # merge of two model-sized row lists — the left_anti union's
        # exact semantics without another distributed plan)
        new_cids = {int(r["cid"]) for r in new_rows}
        cent_rows = new_rows + [
            r for r in cent_rows if int(r["cid"]) not in new_cids
        ]
    return sorted(cent_rows, key=lambda r: int(r["cid"]))


def ivfpq_coarse_fit(
    emb: DataFrame,
    nlist: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, c array<double>): the frozen coarse quantizer, exactly
    ``ivfpq_build(...)[0]`` without training codebooks or encoding
    the corpus. One persisted double-vector scan + (iters-1)
    map-only assign/re-aggregate rounds (``centroid_assign_expr`` — the
    round's centroids are already model-sized, so each round collects
    them and assigns per-row with NO shuffle before the cluster-grain
    sums); the model is nlist×dim — driver-sized at any corpus
    scale. Centroids stay bit-identical to the crossJoin+window path
    (same distance fold, same tie-break, and the fixed-point sums are
    order-free BIGINTs) — pinned by
    ``test_coarse_fit_equals_ivfpq_build_centroids``."""
    vectors = emb.select(
        "vec_id",
        F.expr(
            f"transform({vec_col}, x -> cast(x as double))"
        ).alias("v"),
    ).persist()
    cent_rows = coarse_fit_from_vectors(
        vectors, nlist, iters, "ivfpq_coarse_fit"
    )
    # the fitted model is fully collected — the corpus-scan cache has
    # no further consumers, and the returned table is a local relation
    vectors.unpersist()
    out = emb.sparkSession.createDataFrame(
        [(int(r["cid"]), [float(x) for x in r["c"]]) for r in cent_rows],
        "cid bigint, c array<double>",
    )
    out._graft_rows = cent_rows
    return out
