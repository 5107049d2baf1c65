"""Distributed k-means (Lloyd's) — bit-reproducible and oracle-checkable.

The interesting problem at cluster scale isn't the algorithm, it's
DETERMINISM: naive double-precision centroid averaging makes results
depend on partition/merge order, so two runs of the "same" clustering
disagree. This implementation removes every order-dependence:

- init: centroids = the first K vectors by id (no RNG);
- assignment: squared-L2 as the same sequential double fold the ANN
  cosine operators use (bit-identical in DuckDB's list_inner_product),
  argmin with an explicit (dist, cluster_id) tie-break;
- update: FIXED-POINT accumulation — each coordinate is floor-quantized
  to an integer (x → ⌊x·2²⁰⌋, exact: inputs are float32 scaled by a
  power of two), summed as BIGINT (exact, commutative — immune to
  partition order), and divided back once. floor (not round) because
  floor has identical semantics in every engine while round's
  half-boundary rule differs.

Scale shape per iteration: the K×dim centroid model is collected to
the driver (model-sized at any corpus scale) and assignment is a
MAP-ONLY projection over one K×dim centroid literal — zero
shuffle, zero join-back; the only exchange per iteration is the
K-group partial aggregation for the centroid update. No driver-side
data movement beyond the K×dim centroid table itself — the same
collect-and-broadcast loop any distributed Lloyd's performs, minus
the row_number-window Exchange the pre-r16 shape paid (guide §2.4).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1 << 20  # fixed-point quantum for centroid accumulation


def quantize_vec_py(vec) -> list[float]:
    """Driver-side twin of ``_quantize_vec``: ⌊x·2²⁰⌋/2²⁰ per
    coordinate, bit-identical to the SQL expression (x·2²⁰ is a
    power-of-two scaling — exact; FLOOR and the division back are
    exact in IEEE doubles at these magnitudes). Exists so model-sized
    seed tables can be quantized without a Spark action — every
    collect of even an 8-row local relation costs ~0.5 s of pure
    plan/py4j overhead (guide §1: measured, PERF_NOTES r16)."""
    return [float(math.floor(float(x) * SCALE)) / SCALE for x in vec]


def model_rows(model) -> list:
    """Collected rows of a MODEL-sized table (centroids/codebooks).

    Accepts a list (already collected), a DataFrame carrying the
    ``_graft_rows`` attribute the trainers attach at construction
    time, or any other DataFrame (collected on every call, never
    memoized: a model read from files must show a rewrite). The
    attribute path exists because each ``collect()`` is a full
    driver action (~0.5 s of plan/py4j overhead even for 8 local
    rows) and the composed index queries consume the same model
    from 3-5 places per invocation."""
    if isinstance(model, list):
        return model
    rows = getattr(model, "_graft_rows", None)
    if rows is not None:
        return rows
    return model.collect()


_DIST2 = (
    "aggregate(zip_with({v}, {c}, (x, y) -> (x - y) * (x - y)),"
    " 0D, (acc, w) -> acc + w)"
)


def _as_double_vec(emb: DataFrame, vec_col: str) -> DataFrame:
    return emb.select(
        "vec_id",
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    )


def _quantize_vec(col: str) -> str:
    # exact for float32 inputs: x·2^20 is a power-of-two scaling
    return f"transform({col}, x -> CAST(FLOOR(x * {SCALE}) AS DOUBLE) / {SCALE})"


def double_array_sql(xs) -> str:
    """SQL text of a literal ``array<double>``: each value as its
    shortest round-trip ``repr`` with the ``D`` suffix (parsed back to
    the same IEEE bits), non-finite values as a string cast (the ADC
    lookup tables carry a +inf sentinel). Building a model literal as
    one SQL string costs one parse, where an ``F.lit`` per element
    costs one py4j round trip each."""
    return "array(" + ",".join(
        f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"
        for x in map(float, xs)
    ) + ")"


# k·dim budget (in literal doubles) for the map-only assignment
# expression. The model is ONE array literal and the expression
# holds a fixed number of lambdas whatever k is, so analysis and
# codegen no longer grow with k; what still grows is the literal
# itself, which rides in the plan string of every action and in each
# task's serialized closure. A 100 TB-realistic quantizer (k 10³–10⁵
# cells) would inline millions of doubles, so above the ceiling
# ``kmeans_assign`` switches to the broadcast-join + struct-min
# partial-aggregation shape (model ships once as data);
# ``centroid_assign_expr`` itself refuses, so no expression-level
# caller can silently carry a megabyte of literals.
LITERAL_MODEL_CEILING = 32768


def centroid_assign_expr(centroid_rows: list, vec_col: str = "v"):
    """Stateless nearest-centroid expression from collected centroid
    rows [(cid, c)]: ``array_min`` over (dist2, cid) structs, one
    ``transform`` over a single literal array of (cid, c) structs —
    the same sequential squared-L2 fold and the same (dist2, cid)
    tie-break as the historical crossJoin + row_number window, with a
    fixed number of lambdas at any k. Only for MODEL-sized centroid
    tables: k·dim must stay under ``LITERAL_MODEL_CEILING`` literal
    doubles (raises above it — large quantizers take
    ``kmeans_assign``'s broadcast-join fallback instead).

    This is the assignment primitive everywhere (guide §2.4):
    assignment against a k-row centroid table is embarrassingly
    parallel, so the right plan is map-only — the window variant
    shuffled k·N rows per assignment and forced a corpus-grain
    join-back to recover the vector. The streaming twins
    (``streaming/vectors.py``) re-export it;
    ``test_stream_semdedup_matches_batch_incremental`` pins it
    decision-identical to the window path."""
    if not centroid_rows:
        raise ValueError("centroid_assign_expr: empty centroid table")
    n_lit = sum(len(r["c"]) for r in centroid_rows)
    if n_lit > LITERAL_MODEL_CEILING:
        raise ValueError(
            f"centroid_assign_expr: model would inline {n_lit} literal "
            f"doubles (> LITERAL_MODEL_CEILING={LITERAL_MODEL_CEILING}); "
            "use kmeans_assign (broadcast-join fallback) for large models"
        )
    model = ",".join(
        f"named_struct('cid', {int(r['cid'])}L, 'c', "
        f"{double_array_sql(r['c'])})"
        for r in sorted(centroid_rows, key=lambda r: r["cid"])
    )
    d2 = _DIST2.format(v=vec_col, c="ctr.c")
    return F.expr(
        f"array_min(transform(array({model}), "
        f"ctr -> struct({d2} AS dist2, ctr.cid AS cid)))"
    ).getField("cid")


def kmeans_assign(vectors: DataFrame, centroids) -> DataFrame:
    """(vec_id, cluster): nearest centroid by squared-L2 with a
    deterministic (dist, cid) tie-break.

    Map-only under ``LITERAL_MODEL_CEILING``: the centroid table is
    the MODEL (k×dim), collected once, and assignment becomes a
    codegen'd per-row projection with zero shuffle (guide §2.4; the
    previous shape was crossJoin(broadcast) + a row_number window
    whose Exchange carried k·N rows). ABOVE the ceiling (100 TB-
    realistic quantizers) the model ships as a broadcast relation and
    the argmin is a struct-min partial aggregation — each map
    partition reduces to ≤1 row per vec_id before the exchange, no
    sort, no window, expression size O(1) in k. ``centroids`` may be
    a DataFrame or pre-collected rows. Decision-identical either way:
    same sequential _DIST2 fold per centroid; min over (dist2, cid)
    structs IS the (dist2, cid) tie-break — pinned at both shapes by
    ``test_kmeans_assign_matches_window_reference`` and
    ``test_kmeans_assign_fallback_above_literal_ceiling``."""
    rows = model_rows(centroids)
    if sum(len(r["c"]) for r in rows) <= LITERAL_MODEL_CEILING:
        return vectors.select(
            "vec_id", centroid_assign_expr(rows).alias("cluster")
        )
    cents = vectors.sparkSession.createDataFrame(
        [(int(r["cid"]), [float(x) for x in r["c"]]) for r in rows],
        "cid bigint, c array<double>",
    )
    d2 = F.expr(_DIST2.format(v="v", c="c"))
    return (
        vectors.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(d2.alias("dist2"), F.col("cid").alias("cid")).alias(
                "__s"
            ),
        )
        .groupBy("vec_id")
        .agg(F.min("__s").alias("__s"))
        .select("vec_id", F.col("__s").getField("cid").alias("cluster"))
    )


def kmeans(
    emb: DataFrame, k: int = 8, iters: int = 2, vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's for ``iters`` iterations; returns final (vec_id,
    cluster). Deterministic on any cluster layout (see module doc)."""
    vectors, centroids = kmeans_fit(emb, k, iters, vec_col, dim)
    return kmeans_assign(vectors, centroids)


def kmeans_fit(
    emb: DataFrame, k: int = 8, iters: int = 2, vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The trainer behind ``kmeans``, returning (vectors, centroids)
    so the fitted model is REUSABLE: incremental pipelines (e.g.
    ``semdedup.semdedup_incremental_pairs``) assign NEW batches to the
    standing centroids without re-clustering the corpus — the model
    is a k×dim table, the natural thing to persist between runs.

    EAGER (ADVICE r16 #4): training Spark jobs (the seed fetch +
    one aggregation per Lloyd round) run at construction time, not at
    the first downstream action — the r16 map-only rewrite trades the
    old lazy plan for per-round driver actions over model-sized rows.
    The returned centroids are a local relation carrying
    ``_graft_rows``; the attribute is lost on any DataFrame
    transformation or parquet round-trip, after which ``model_rows``
    falls back to a fresh collect on every call."""
    # persisted: consumed by the seed fetch, every iteration's
    # assign + re-aggregation join, and the final assign — without it
    # each consumer re-scans (and re-decodes) the embedding parquet
    vectors = _as_double_vec(emb, vec_col).persist()
    # init = first k vectors by id RANK (not `vec_id < k`, which
    # silently under-seeds on sparse/offset ids — ADVICE r2). One
    # driver action fetches the k×dim seed table, validates the
    # contract, and infers dim — K·dim doubles, trivial at any scale.
    seed = vectors.orderBy("vec_id").limit(k).collect()
    if len(seed) < k:
        raise ValueError(
            f"kmeans: k={k} but only {len(seed)} input vectors"
        )
    if dim is None:
        dim = len(seed[0]["v"])
    spark = vectors.sparkSession
    # driver-side seed quantization (bit-identical to _quantize_vec;
    # see quantize_vec_py) — the model starts life as plain rows, so
    # no Spark action is spent materializing an 8-row local relation
    cent_rows = [
        {"cid": int(r["vec_id"]), "c": quantize_vec_py(r["v"])}
        for r in seed
    ]
    for _ in range(iters - 1):
        # map-only assignment against the collected model, cluster
        # attached as a column — no window Exchange, no corpus-grain
        # join-back (guide §2.4). The fixed-point per-dimension sums
        # aggregate in NARROW shape (posexplode to (cluster, d, q)):
        # a dim-wide column list codegens a far larger class per
        # invocation, and at the model grain the extra exploded rows
        # are free (measured 2× per-action win — PERF_NOTES r16).
        # Exact BIGINT sums, order-free, same values as the wide agg.
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
        # centroid update finished driver-side over the k×dim sums —
        # same arithmetic as the former SQL select, op for op:
        # (CAST(s AS DOUBLE) / n) / SCALE, non-truncating; emptied
        # clusters drop (kmeans_fit's documented semantics)
        cent_rows = [
            {
                "cid": cid,
                "c": [
                    (float(dims[d][0]) / float(dims[d][1])) / SCALE
                    for d in range(dim)
                ],
            }
            for cid, dims in sorted(per.items())
        ]
    # the final model is plain rows; the returned DataFrame is a cheap
    # local relation carrying them (model_rows readers skip the
    # re-collect — every downstream consumer would otherwise pay a
    # full driver action to fetch k×dim values it already has)
    centroids = spark.createDataFrame(
        [(int(r["cid"]), list(r["c"])) for r in cent_rows],
        "cid bigint, c array<double>",
    )
    centroids._graft_rows = cent_rows
    return vectors, centroids


def _kmeans_dist_sql(dim: int, v: str = "e.v", c: str = "c.c") -> str:
    return (
        "list_inner_product("
        f"list_transform(generate_series(1, {dim}), i -> {v}[i] - {c}[i]),"
        f"list_transform(generate_series(1, {dim}), i -> {v}[i] - {c}[i]))"
    )


def kmeans_oracle_parts(
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    table: str = "embeddings",
    fit_where: str = "",
    k_sql: str | None = None,
) -> tuple[list[str], str]:
    """The unrolled-iteration CTE list behind ``kmeans_oracle_sql``,
    reusable by oracles that COMPOSE on a fitted model (SemDeDup,
    incremental assignment). Returns (parts, final_centroid_cte):
    ``e`` = all vectors of ``table`` as DOUBLE[], ``ef`` = the fit
    subset (``fit_where`` filters it; empty = fit on everything —
    identical to plain kmeans), training runs on ``ef`` only.

    ``k_sql`` (the cell-budget policy, VERDICT r13 next #6): a SQL
    scalar subquery replacing the literal ``k`` in the seed LIMIT, so
    the oracle DERIVES k from the data exactly like
    ``cell_budget.derive_k`` does Spark-side. Only the seed count
    depends on k — centroids are relational rows throughout, so a
    data-dependent k needs no structural change. Default None keeps
    the emitted SQL byte-identical to the pre-r14 text (registered
    oracles must not drift)."""
    dist = _kmeans_dist_sql(dim)
    w = f" WHERE {fit_where}" if fit_where else ""
    lim = k_sql if k_sql is not None else str(k)
    parts = [
        f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table})",
        f"ef AS (SELECT * FROM e{w})",
        f"""c0 AS (SELECT vec_id AS cid,
               list_transform(v, x -> CAST(FLOOR(x * {SCALE}) AS DOUBLE) / {SCALE}) AS c
        FROM ef ORDER BY vec_id LIMIT {lim})""",
    ]
    prev = "c0"
    for it in range(1, iters):
        parts.append(
            f"""a{it} AS (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {dist}, c.cid) AS rn
                FROM ef e CROSS JOIN {prev} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""c{it} AS (SELECT cid,
                   list((CAST(s AS DOUBLE) / n) / {SCALE} ORDER BY d) AS c
            FROM (SELECT a.cid, ds.d,
                         SUM(CAST(FLOOR(e.v[ds.d] * {SCALE}) AS BIGINT)) AS s,
                         count(*) AS n
                  FROM ef e JOIN a{it} a USING (vec_id)
                  CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS d) ds
                  GROUP BY a.cid, ds.d)
            GROUP BY cid)"""
        )
        prev = f"c{it}"
    return parts, prev


def kmeans_assign_sql(dim: int, src_cte: str, cent_cte: str) -> str:
    """Assignment subquery: nearest ``cent_cte`` centroid for every
    row of ``src_cte`` — the SQL twin of ``kmeans_assign``."""
    dist = _kmeans_dist_sql(dim)
    return f"""(SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {src_cte} e CROSS JOIN {cent_cte} c) WHERE rn = 1)"""


def kmeans_oracle_sql(
    k: int = 8, iters: int = 2, dim: int = 64, table: str = "embeddings",
    k_sql: str | None = None,
) -> str:
    """DuckDB twin: the same iterations unrolled as CTEs, same
    fixed-point update, same fold order (list_inner_product of the
    per-dim diff list ≡ the sequential zip_with fold)."""
    parts, prev = kmeans_oracle_parts(
        k=k, iters=iters, dim=dim, table=table, k_sql=k_sql
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT * FROM "
        + kmeans_assign_sql(dim, "e", prev)
        + " t"
    )
