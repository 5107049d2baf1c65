"""SemDeDup cell-budget policy (VERDICT r10 #4): k SCALES with the
corpus.

SemDeDup's pair stage costs Σ|cell|²; with k FIXED that grows
quadratically in the corpus (the r10 ×10 probe measured 11.2× on
``semdedup_survivors`` — PERF_NOTES). The SemDeDup paper's contract
(Abbas et al. 2023; SCALING.md) is that k scales so cells stay
~10³-10⁴ vectors — then Σ|cell|² ≈ n·target_cell and the pair stage
is corpus-LINEAR. This module makes that contract mechanical instead
of prose: ``derive_k`` is the deterministic policy, and
``semdedup_survivors_scaled`` is the survivor pipeline under it
(same composition as the registered ``semdedup_survivors``, k derived
instead of oracle-sized — driver queries keep the fixed oracle k so
their DuckDB twins stay replayable).

Kept OUT of operators/semdedup.py deliberately: r11's driver window
is filled by the r06 rotation cohort, and touching a shared operator
file forces re-earns that would evict rotation slots (VERDICT r10
#1); the policy composes the existing operators unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components
from .semdedup import semdedup_pairs

# SCALING.md's stated band is ~10³-10⁴ vectors per cell at web scale;
# the default sits at the low end so local probes exercise multi-cell
# behavior. Callers probing small corpora pass a smaller target.
DEFAULT_TARGET_CELL = 1000


def derive_k(n_vectors: int, target_cell: int = DEFAULT_TARGET_CELL,
             min_k: int = 1) -> int:
    """k = ⌈n / target_cell⌉ (at least ``min_k``) — deterministic in
    the corpus count, so re-deriving on the same snapshot always
    yields the same model shape. Keeps expected cell size at
    ``target_cell``, which bounds expected pair work at
    n·target_cell (linear in n) instead of fixed-k's n²/k."""
    if n_vectors <= 0:
        return min_k
    return max(min_k, -(-n_vectors // target_cell))


def semdedup_closure_scaled(
    emb: DataFrame,
    target_cell: int = DEFAULT_TARGET_CELL,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.2,
) -> tuple[DataFrame, int]:
    """((node, comp) components, k): derive k from the corpus count,
    run the within-cell pair join, close it transitively — the shared
    core of every derived-k survivors consumer (the scaled pipeline
    below and the ``semdedup_survivors_budgeted`` query), so the
    policy + closure exist exactly once. One extra count job over the
    fixed-k path — the price of the policy, paid once per (re)build."""
    k = derive_k(emb.count(), target_cell=target_cell)
    pairs = semdedup_pairs(
        emb, k=k, iters=iters, dim=dim, threshold=threshold
    ).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return connected_components(pairs), k


def semdedup_survivors_scaled(
    emb: DataFrame,
    target_cell: int = DEFAULT_TARGET_CELL,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.2,
) -> tuple[DataFrame, int]:
    """(survivors, k): the ``semdedup_survivors`` pipeline (pairs →
    closure → drop non-exemplars) with k derived from the corpus
    count. Returns the derived k so probes/gates can report it."""
    comp, k = semdedup_closure_scaled(
        emb, target_cell=target_cell, iters=iters, dim=dim,
        threshold=threshold,
    )
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id")
    )
    return emb.select("vec_id").join(dropped, "vec_id", "left_anti"), k


def cell_profile(emb: DataFrame, k: int, iters: int = 2,
                 dim: int = 64) -> DataFrame:
    """One row: (n, k, max_cell, sum_sq_cells) — the quantities the
    k-scaling gate asserts on. ``sum_sq_cells`` is the exact pair-join
    row count the within-cell self-join produces (before the id< and
    threshold filters), i.e. the cost the policy exists to bound."""
    from .clustering import kmeans

    sizes = (
        kmeans(emb, k=k, iters=iters, dim=dim)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return sizes.agg(
        F.sum("c").alias("n"),
        F.lit(k).alias("k"),
        F.max("c").alias("max_cell"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq_cells"),
    )
