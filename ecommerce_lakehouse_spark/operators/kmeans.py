"""Driver-literal Lloyd iteration for control-plane-sized codebooks.

K-means state (centroids / PQ codebooks) is control-plane-sized BY
DEFINITION — K*(dim+1) bigints, a few KB even at warehouse K — so the
Lloyd loop runs driver-literal: per round, ONE aggregate-collect job
whose K-row result updates a driver dict, with the centroids re-entering
the next round as literal arrays.
This replaces the per-round broadcast-join + centroid-join + eager
localCheckpoint chain, which cost ~4 driver-planned jobs per round
(measured on semantic_cluster_dups / pq_trained_codebook_eval — see
OPTIMIZATION_r09.md round 9).

The collect here is the module's point, and it is bounded by the
codebook size (never the corpus): the same control-plane discipline as
the BPE vocabulary collect (operators/bpe.py). Assignment stays fully
distributed (in-row integer argmin, shuffle-free); the update aggregate
stays map-side combinable ((dim+1) cells per centroid).

All arithmetic is exact BIGINT (squared-L2 in integer micro-units;
rounded-mean (2*s + n) DIV (2*n), computed in Python bigints — identical
to the SQL DIV for the non-negative sums the +1e6 shift guarantees), so
results are bit-identical to the former DataFrame-side loop and to the
DuckDB oracles' unrolled CTEs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def int_l2(u: Column, c: Column) -> Column:
    """Exact BIGINT squared-L2 between two array<bigint> columns."""
    return F.aggregate(
        F.zip_with(u, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _group_arrays(cent: dict) -> dict:
    """{group: [(cid, centroid), ...] sorted by cid} from a centroid dict
    keyed (group, cid); group None for flat codebooks."""
    out: dict = {}
    for (g, cid), c in cent.items():
        out.setdefault(g, []).append((cid, c))
    for g in out:
        out[g].sort()
    return out


def _lit_struct_array_sql(pairs: list) -> str:
    """cid-ordered literal array<struct<cid:int, c:array<bigint>>> as ONE
    SQL text. Building this as nested F.lit()/F.struct() Column objects
    costs thousands of py4j round-trips per round (measured: it tripled
    the query wall); one F.expr over this string is a single call and
    parses JVM-side."""
    return (
        "array("
        + ",".join(
            "named_struct('cid',CAST(%d AS INT),'c',array(%s))"
            % (cid, ",".join(f"{int(x)}L" for x in c))
            for cid, c in pairs
        )
        + ")"
    )


def collect_seed_vectors(
    v: DataFrame, id_col: str, vec_col: str, k: int
) -> list[list[int]]:
    """The K md5-smallest vectors (the hash-sampled init idiom shared by
    semantic_cluster_dups / pq_trained_codebook_eval and their oracles),
    collected in order — TakeOrderedAndProject returns them sorted, so
    list index == the oracle's row_number()-1. Control-plane-bounded by
    K."""
    return [
        [int(x) for x in r[vec_col]]
        for r in (
            v.select(
                F.md5(F.col(id_col).cast("string")).alias("m"), id_col, vec_col
            )
            .orderBy("m", id_col)
            .limit(k)
            .select(vec_col)
            .collect()
        )
    ]


def assign_nearest(
    pts: DataFrame, vec_col: str, cent: dict, group_col: str | None = None
) -> DataFrame:
    """Append (cid, dist) = argmin-by-(dist, cid) over the literal
    codebook to every row of ``pts``.

    ``cent`` is keyed (group, cid) — group None for a flat codebook, or
    the value of ``group_col`` (consecutive ints starting at 0) for
    per-group codebooks (PQ subspaces). Assignment is SHUFFLE-FREE:
    each row computes all K integer distances in-row (transform) and
    takes the lexicographic (dist, cid) array_min — pure map-side
    whole-stage-codegen work; ties go to the lowest cid exactly like the
    oracles' ORDER BY dist, cid."""
    groups = _group_arrays(cent)
    if group_col is None:
        cs = F.expr(_lit_struct_array_sql(groups[None]))
    else:
        # csall[g+1] = group g's cid-ordered codeword array
        cs = F.expr(
            "element_at(array(%s),CAST(`%s` + 1 AS INT))"
            % (
                ",".join(
                    _lit_struct_array_sql(groups[g]) for g in sorted(groups)
                ),
                group_col,
            )
        )
    best = F.array_min(
        F.transform(
            cs,
            lambda s: F.struct(
                int_l2(F.col(vec_col), s["c"]).alias("dist"),
                s["cid"].alias("cid"),
            ),
        )
    )
    return pts.select(
        "*", best["cid"].alias("cid"), best["dist"].alias("dist")
    )


def lloyd_rounds(
    pts: DataFrame,
    vec_col: str,
    cent: dict,
    rounds: int,
    dim: int,
    group_col: str | None = None,
) -> dict:
    """Run ``rounds`` Lloyd updates, returning the trained codebook dict
    (the input dict is not mutated). Per round: one aggregate-collect of
    (dim+1) map-side-combined cells per centroid; the rounded mean runs
    in exact Python bigints; a centroid that lost every point keeps its
    old value (the oracles' COALESCE(n.c, p.c))."""
    cent = dict(cent)
    keys = ([] if group_col is None else [group_col]) + ["cid"]
    for _ in range(rounds):
        rows = (
            assign_nearest(pts, vec_col, cent, group_col)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at(vec_col, i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        for r in rows:
            n = int(r["n"])
            g = None if group_col is None else int(r[group_col])
            cent[(g, int(r["cid"]))] = [
                (2 * int(r[f"s{i}"]) + n) // (2 * n) for i in range(dim)
            ]
    return cent
