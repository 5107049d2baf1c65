"""Frozen-model expressions: model literals written as one SQL string,
lambda counts that do not grow with the model, and ``model_rows``
re-reading a file-backed model on every call."""

from __future__ import annotations

import math
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.operators.clustering import (
    centroid_assign_expr,
    double_array_sql,
    model_rows,
)
from udacitycapstonedataengineer_spark.operators.ivfpq import ivfpq_topk
from udacitycapstonedataengineer_spark.operators.pq import (
    pq_adc_topk,
    pq_codes_expr,
)


def test_double_array_sql_round_trips_bit_exactly(spark):
    xs = [math.inf, -math.inf, -0.0, 5e-324, 0.1, 1 / 3]
    got = spark.range(1).select(
        F.expr(double_array_sql(xs)).alias("a")
    ).head()["a"]
    assert [struct.pack("<d", x) for x in got] == [
        struct.pack("<d", x) for x in xs
    ]


def test_ivfpq_topk_ranks_unemitted_code_last(spark):
    """A code the codebook never emits for its subspace scores through
    the +inf LUT sentinel, so its row ranks last — not as distance 0,
    which would rank it first here (its other code is the nearest)."""
    cents = [{"cid": 0, "c": [0.0, 0.0, 0.0, 0.0]}]
    books = [
        {"sub": 0, "cid": c, "c": [float(c), float(c)]} for c in range(3)
    ] + [{"sub": 1, "cid": c, "c": [float(c), float(c)]} for c in range(2)]
    index = spark.createDataFrame(
        [(1, 0, [1, 1]), (2, 0, [2, 0]), (3, 0, [0, 2])],
        "vec_id bigint, cell bigint, codes array<int>",
    )
    rows = ivfpq_topk(
        index, cents, books, [0.1, 0.1, 0.1, 0.1], nprobe=1, topk=3
    ).collect()
    assert [r["vec_id"] for r in rows] == [1, 2, 3]
    assert rows[-1]["adc_dist2"] == math.inf
    assert all(math.isfinite(r["adc_dist2"]) for r in rows[:-1])


@pytest.mark.parametrize("scorer", ["ivfpq_topk", "pq_adc_topk"])
def test_adc_scores_out_of_range_code_as_inf(spark, scorer):
    """A code >= k (m=2, k=2) scores +inf in either subspace: it must
    not read the next subspace's LUT slot (codes [2, 0]) nor index past
    the LUT (codes [0, 2])."""
    books = [
        {"sub": s, "cid": c, "c": [float(c), float(c)]}
        for s in range(2)
        for c in range(2)
    ]
    index = spark.createDataFrame(
        [(1, 0, [1, 1]), (2, 0, [2, 0]), (3, 0, [0, 2])],
        "vec_id bigint, cell bigint, codes array<int>",
    )
    query = [0.1, 0.1, 0.1, 0.1]
    if scorer == "ivfpq_topk":
        cents = [{"cid": 0, "c": [0.0, 0.0, 0.0, 0.0]}]
        top = ivfpq_topk(index, cents, books, query, nprobe=1, topk=3)
    else:
        top = pq_adc_topk(index, books, query, topk=3)
    rows = top.collect()
    assert [r["vec_id"] for r in rows] == [1, 2, 3]
    assert math.isfinite(rows[0]["adc_dist2"])
    assert [r["adc_dist2"] for r in rows[1:]] == [math.inf, math.inf]


def _lambda_count(spark, col) -> int:
    df = spark.range(1).select(
        F.expr("transform(sequence(1, 8), x -> cast(x as double))").alias(
            "v"
        )
    )
    plan = df.select(col.alias("o"))._jdf.queryExecution().analyzed()
    return plan.toString().count("lambdafunction")


def test_frozen_model_lambdas_do_not_grow_with_k(spark):
    def cents(k):
        return [{"cid": i, "c": [float(i)] * 8} for i in range(k)]

    def books(k):
        return [
            {"sub": s, "cid": i, "c": [float(i)] * 2}
            for s in range(4)
            for i in range(k)
        ]

    assert _lambda_count(spark, centroid_assign_expr(cents(4))) == (
        _lambda_count(spark, centroid_assign_expr(cents(32)))
    )
    assert _lambda_count(spark, pq_codes_expr(books(4), 4, "v")) == (
        _lambda_count(spark, pq_codes_expr(books(16), 4, "v"))
    )


def test_model_rows_rereads_file_backed_model(spark, tmp_path):
    """A parquet-backed model is re-read on every call: rewriting its
    file must show the new rows, never a memo of the old ones."""
    path = str(tmp_path / "model.parquet")

    def write(x):
        duckdb.sql(
            f"COPY (SELECT 0::BIGINT AS cid, [{x}]::DOUBLE[] AS c) "
            f"TO '{path}' (FORMAT parquet)"
        )

    write(1.0)
    model = spark.read.parquet(path)
    assert [r["c"] for r in model_rows(model)] == [[1.0]]
    assert not hasattr(model, "_graft_rows")
    write(2.0)
    assert [r["c"] for r in model_rows(model)] == [[2.0]]

