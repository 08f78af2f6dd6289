"""KMV (bottom-k / theta-style) sketches for set-overlap estimation.

HLL (operators/sketch.py) answers "how many distinct" and merges by
UNION only; corpus auditing also needs INTERSECTION — how much does
this crawl overlap that one, how many users does segment A share with
B — which bottom-k sketches answer: keep the k smallest hash values of
each set; the k-min of a union is computable from the parts, and the
fraction of it present in both parts estimates Jaccard (Beyer et al.,
"On Synopses for Distinct-Value Estimation Under Multiset Operations",
SIGMOD'07). The reference has no sketch surface (per-record chain,
reference spi/FilterPlugin.java:15-35).

Determinism: the hash is the engine-portable md5-prefix uniform
(exact 2^-32 binary scaling, operators/sample.py::hash_uniform), so
sketches — and every estimate derived by exact IEEE division — are
bit-identical across runs, partitionings, and engines; the DuckDB
oracle recomputes them verbatim.

Estimators (k-th smallest u of set S written u_k):
- distinct(S)  ≈ (k-1)/u_k          (exact |values| when |S| < k)
- union        : k-min of the deduped sketch concat — exact algebra
- jaccard(A,B) ≈ |kmin_k(A∪B) ∩ A_sk ∩ B_sk| / |kmin_k(A∪B)|
- intersect    ≈ jaccard · distinct(A∪B)

Scale shape: one distinct on (group, key) then ONE exchange on the
group key; the per-group k-min is a bounded sort (row_number ≤ k).
For hot groups pre-filter with the deterministic threshold trick
(keep u < c·k/n̂ before ranking) — the same escape hatch as
sample_exact_k. Pair comparisons afterwards touch only ≤k-element
arrays per group pair — driver-free array algebra."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sample import hash_uniform


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    *,
    k: int = 64,
    salt: str = "kmv1",
) -> DataFrame:
    """Per-group bottom-k sketch: (group…, sketch array<double> sorted
    ascending, n_exact = distinct count when it fit under k else k)."""
    u = hash_uniform(F.col(key_col), salt)
    distinct = df.select(*group_cols, key_col).distinct()
    # rank over the NAMED column so the md5 evaluates once per row,
    # not once more inside the window's sort key
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_u").asc(), F.col(key_col).asc()
    )
    return (
        distinct.withColumn("_u", u)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("_u")).alias("sketch"))
    )


def _est(sketch, k: int):
    """(k-1)/u_k, or the exact value count when the set fit under k."""
    return F.when(
        F.size(sketch) < k, F.size(sketch).cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.element_at(sketch, k))


def kmv_overlap(
    sketches: DataFrame, group_cols: list[str], *, k: int = 64
) -> DataFrame:
    """All group pairs (lexicographic g1 < g2): estimated union /
    jaccard / intersection sizes plus the raw shared-value count.
    Pure ≤k-element array algebra over the tiny sketch frame."""
    a = sketches.select(
        *[F.col(c).alias(f"{c}_1") for c in group_cols],
        F.col("sketch").alias("sk1"),
    )
    b = sketches.select(
        *[F.col(c).alias(f"{c}_2") for c in group_cols],
        F.col("sketch").alias("sk2"),
    )
    # lexicographic order over the whole group key (same field names on
    # both sides: struct comparison needs identical types)
    g1 = F.struct(*[F.col(f"{c}_1").alias(c) for c in group_cols])
    g2 = F.struct(*[F.col(f"{c}_2").alias(c) for c in group_cols])
    j = a.join(b, g1 < g2)
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat("sk1", "sk2"))), 1, k
    )
    j = j.withColumn("_m", merged)
    shared = F.size(
        F.filter(
            F.col("_m"),
            lambda x: F.array_contains("sk1", x)
            & F.array_contains("sk2", x),
        )
    )
    union_est = _est(F.col("_m"), k)
    jacc = shared.cast("double") / F.size("_m").cast("double")
    return j.select(
        *[F.col(f"{c}_1") for c in group_cols],
        *[F.col(f"{c}_2") for c in group_cols],
        shared.alias("shared"),
        F.round(union_est, 12).alias("union_est"),
        F.round(jacc, 12).alias("jaccard_est"),
        F.round(jacc * union_est, 12).alias("intersect_est"),
    )
