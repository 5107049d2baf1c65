"""Product quantization (PQ) — compressed ANN at 100-TB vector scale.

Brute-force and IVF top-k (operators/similarity.py) keep full float
vectors; at 10^10+ vectors the index must shrink. PQ splits each
d-dim vector into ``m`` subvectors, k-means-quantizes each subspace
to ``k`` centroids, and stores only the m byte-sized codes — a
64-dim float32 vector becomes 8 bytes (32× compression), and query
scoring needs no decompression: the query's distance to every
centroid of every subspace is a tiny (m×k) lookup table, and the
asymmetric distance (ADC) of a database vector is the sum of m table
entries selected by its codes (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011).

Everything follows the repo's determinism discipline
(operators/clustering.py): no RNG (seeds = first k vectors by id),
fixed-point BIGINT centroid accumulation (partition-order-free),
explicit argmin tie-breaks. The novel Spark shape here is GROUPED
k-means: all m subspaces train in the SAME jobs — per-row, all m
subspace argmins are computed MAP-SIDE against the collected
codebooks (model-sized: m·k×dsub), and the centroid update is one
(sub, cluster)-grain aggregate — so training cost is iterations × ONE
small-output shuffle regardless of m, not m separate k-means runs
(pre-r16 this paid a row_number-window Exchange over vec_id·m rows
plus a corpus-grain join-back per iteration — guide §2.4). The codes
expression is one lambda nest over one codebook literal, so its
analysis cost does not grow with m·k.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import _DIST2, SCALE, double_array_sql, quantize_vec_py


def _books_by_sub(codebook_rows: list, m: int) -> dict[int, list]:
    """{sub: rows sorted by cid} from collected codebook rows, with
    the same missing-subspace validation the streaming twin performs."""
    by_sub: dict[int, list] = {}
    for r in codebook_rows:
        by_sub.setdefault(int(r["sub"]), []).append(r)
    missing = [s for s in range(m) if s not in by_sub]
    if missing:
        raise ValueError(
            f"pq: codebook missing subspaces {missing} (expected 0..{m - 1})"
        )
    return {s: sorted(rs, key=lambda r: int(r["cid"])) for s, rs in by_sub.items()}


def _sub_slice(vec_col: str, m: int) -> str:
    """SQL slice of subspace ``sub`` (a lambda variable over
    ``sequence(0, m-1)``), size-derived: ``size div m`` doubles from
    ``sub * (size div m) + 1``."""
    d = f"(size({vec_col}) div {m})"
    return f"slice({vec_col}, sub * {d} + 1, {d})"


def pq_codes_expr(codebook_rows: list, m: int, vec_col: str):
    """array<int> codes expression over a double-array column: per
    subspace, the nearest codeword id by the sequential squared-L2
    fold with the (dist2, cid) tie-break — one map-only projection
    over ONE ``array<array<struct<cid, c>>>`` codebook literal, with
    a fixed number of lambdas at any m and k, zero shuffle."""
    by_sub = _books_by_sub(codebook_rows, m)
    books = ",".join(
        "array("
        + ",".join(
            f"named_struct('cid', {int(r['cid'])}, 'c', "
            f"{double_array_sql(r['c'])})"
            for r in by_sub[s]
        )
        + ")"
        for s in range(m)
    )
    d2 = _DIST2.format(v=_sub_slice(vec_col, m), c="cw.c")
    return F.expr(
        f"transform(sequence(0, {m - 1}), sub -> array_min(transform("
        f"element_at(array({books}), sub + 1), "
        f"cw -> struct({d2} AS dist2, cw.cid AS cid))).cid)"
    )


def pq_train(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the m codebooks; returns (sub, cid, c array<double>).
    Seeds = slices of the first k vectors by vec_id; ``iters`` Lloyd
    iterations with fixed-point updates. All subspaces train in the
    same jobs (grouped k-means — see module docstring)."""
    spark = emb.sparkSession
    # seeds: the first k vectors by vec_id in ONE limit-k job, sliced
    # into the m subspaces driver-side; seed j becomes codeword j of
    # every subspace
    seed = emb.select("vec_id", vec_col).orderBy("vec_id").limit(k).collect()
    if len(seed) < k:
        raise ValueError(f"pq_train: k={k} but only {len(seed)} vectors")
    dsub = len(seed[0][1]) // m
    # driver-side seed quantization (bit-identical — quantize_vec_py):
    # the model starts as plain rows, no local-relation action spent
    book_rows = [
        {
            "sub": s,
            "cid": cid,
            "c": quantize_vec_py(r[1][s * dsub : (s + 1) * dsub]),
        }
        for cid, r in enumerate(seed)
        for s in range(m)
    ]
    v = emb.select(
        "vec_id",
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    )
    # (sub, cluster, sv) per subspace of each row, from its codes
    per_sub = F.expr(
        f"transform(sequence(0, {m - 1}), sub -> struct(sub AS sub, "
        f"codes[sub] AS cluster, {_sub_slice('v', m)} AS sv))"
    )
    for _ in range(iters - 1):
        # map-only assignment against the collected model: the row's m
        # codes in one projection (``pq_codes_expr``), exploded
        # map-side to (sub, cluster, sv) — the only shuffle per
        # iteration is the (sub, cluster)-group partial aggregation
        # (guide §2.4).
        sums = (
            v.select("v", pq_codes_expr(book_rows, m, "v").alias("codes"))
            .select(F.inline(per_sub))
            .groupBy("sub", "cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(
                        F.floor(F.element_at("sv", i) * SCALE).cast("long")
                    ).alias(f"s{i}")
                    for i in range(1, dsub + 1)
                ],
            )
            .collect()
        )
        # truncating update finished driver-side, op for op the former
        # SQL select: (s / n) double division, CAST AS BIGINT (trunc
        # toward zero — Python int() matches), back to double / SCALE;
        # empty clusters keep their previous centroid (kept-merge).
        # Rows are read by position (sub, cluster, n, s1..s_dsub): a
        # Row name lookup is a linear field search.
        new_rows = [
            {
                "sub": int(r[0]),
                "cid": int(r[1]),
                "c": [
                    float(int(float(x) / float(r[2]))) / SCALE
                    for x in r[3:]
                ],
            }
            for r in sums
        ]
        new_keys = {(r["sub"], r["cid"]) for r in new_rows}
        book_rows = sorted(
            new_rows
            + [
                r
                for r in book_rows
                if (r["sub"], r["cid"]) not in new_keys
            ],
            key=lambda r: (r["sub"], r["cid"]),
        )
    # the final model is plain rows; the returned DataFrame is a cheap
    # local relation carrying them (model_rows readers skip the
    # re-collect)
    out = spark.createDataFrame(
        [(r["sub"], r["cid"], list(r["c"])) for r in book_rows],
        "sub int, cid int, c array<double>",
    )
    out._graft_rows = book_rows
    return out


def pq_encode(
    emb: DataFrame, codebooks: DataFrame, m: int, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, codes array<int>): each vector's per-subspace nearest
    centroid ids, in subspace order — the 1-byte-per-subspace
    compressed representation.

    Map-only (guide §2.4): the codebooks are the MODEL (m·k rows), so
    they are collected once and every vector's m codes come out of one
    codegen'd projection — the previous shape exploded m rows per
    vector through a row_number-window Exchange and re-grouped them
    with a second Exchange. ``codebooks`` may be a DataFrame or
    pre-collected rows. Decision-identical fold and (dist2, cid)
    tie-break (the ``stream_ivfpq_encode`` expression, which
    ``test_stream_ivfpq_encode_matches_batch`` pins against this)."""
    from .clustering import model_rows

    rows = model_rows(codebooks)
    return emb.select(
        "vec_id",
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    ).select("vec_id", pq_codes_expr(rows, m, "v").alias("codes"))


def adc_dist_expr(m: int, k: int) -> F.Column:
    """ADC distance of the row's ``codes`` against the flat m·k
    ``__lut`` column: a sequential fold (exact: IEEE 0.0+x == x, the
    same order as the oracle's list_reduce). Sub s's code is
    element_at(codes, s+1) (1-based) and its LUT slot is s*k + code; a
    code outside [0, k) scores +inf, like a codeword the codebook
    lacks, instead of reading another subspace's slot."""
    code = "element_at(codes, s + 1)"
    return F.expr(
        f"aggregate(sequence(0, {m} - 1), 0D, (acc, s) -> acc + "
        f"CASE WHEN {code} < 0 OR {code} >= {k} THEN CAST('inf' AS DOUBLE) "
        f"ELSE element_at(__lut, s * {k} + {code} + 1) END)"
    )


def pq_adc_topk(
    codes: DataFrame, codebooks: DataFrame, query: list[float], topk: int = 10
) -> DataFrame:
    """Asymmetric-distance top-k: the query is NOT quantized; its
    distance to every (sub, centroid) pair forms an m×k lookup table
    (driver numpy — m·k·(d/m) = d·k flops), and each database vector
    scores as the sum of m table entries picked by its codes — one
    native aggregate over the broadcast flat table, no vector data
    touched. Returns (vec_id, adc_dist2) smallest-first with vec_id
    tie-break."""
    from .clustering import model_rows

    cb = model_rows(codebooks)
    m = max(r["sub"] for r in cb) + 1
    k = max(r["cid"] for r in cb) + 1
    dsub = len(cb[0]["c"])
    q = np.asarray(query, dtype=np.float64)
    lut = np.full((m, k), np.inf)
    for r in cb:
        qs = q[r["sub"] * dsub : (r["sub"] + 1) * dsub]
        # SEQUENTIAL fold (Python doubles), not numpy .sum(): numpy's
        # pairwise summation tree differs in the last ulp, and these
        # LUT entries must be bit-identical to the sequential
        # zip_with/list_inner_product fold the DuckDB oracle twin
        # replays (ivfpq_oracle_sql) — the same cross-engine float
        # discipline as operators/clustering.py.
        d2 = 0.0
        for a, b in zip(qs, r["c"]):
            d2 += (float(a) - float(b)) * (float(a) - float(b))
        lut[r["sub"], r["cid"]] = d2
    flat = F.expr(double_array_sql(lut.reshape(-1)))
    return (
        codes.withColumn("__lut", flat)
        .select("vec_id", adc_dist_expr(m, k).alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(topk)
    )
