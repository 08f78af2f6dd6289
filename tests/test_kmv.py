"""KMV bottom-k sketches (operators/kmv.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from embulk_spark.operators.kmv import kmv_overlap, kmv_sketch


def test_exact_branch_small_sets(spark):
    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(5, 15)]
    df = spark.createDataFrame(rows, "g string, k long")
    sk = kmv_sketch(df, ["g"], "k", k=64)
    got = kmv_overlap(sk, ["g"], k=64).collect()[0]
    # under k everything is exact: |A∪B| = 15, |A∩B| = 5, J = 1/3
    assert got.union_est == 15.0
    assert got.shared == 5
    assert abs(got.jaccard_est - 5 / 15) < 1e-9
    assert abs(got.intersect_est - 5.0) < 1e-9


def test_sketch_estimates_large_sets(spark):
    n = 4000
    rows = [("a", i) for i in range(n)] + [
        ("b", i) for i in range(n // 2, n + n // 2)
    ]
    df = spark.createDataFrame(rows, "g string, k long")
    sk = kmv_sketch(df, ["g"], "k", k=128)
    got = kmv_overlap(sk, ["g"], k=128).collect()[0]
    # |A∪B| = 6000, |A∩B| = 2000, J = 1/3 — sketch-accuracy tolerances
    assert abs(got.union_est - 6000) / 6000 < 0.25
    assert abs(got.jaccard_est - 1 / 3) < 0.15
    assert abs(got.intersect_est - 2000) / 2000 < 0.45


def test_sketch_partitioning_invariant(spark):
    rows = [("a", i * 7) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, k long")
    s1 = kmv_sketch(df, ["g"], "k", k=32).collect()[0].sketch
    s2 = kmv_sketch(df.repartition(11), ["g"], "k", k=32).collect()[0].sketch
    assert s1 == s2
    assert s1 == sorted(s1) and len(s1) == 32


def test_duplicates_do_not_skew(spark):
    # the sketch is over DISTINCT keys: massive duplication changes nothing
    rows = [("a", i % 50) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, k long")
    sk = kmv_sketch(df, ["g"], "k", k=64).collect()[0].sketch
    assert len(sk) == 50  # exact branch: 50 distinct keys


def test_disjoint_sets(spark):
    rows = [("a", i) for i in range(3000)] + [
        ("b", i + 100000) for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, k long")
    got = kmv_overlap(kmv_sketch(df, ["g"], "k", k=64), ["g"], k=64).collect()[0]
    assert got.shared <= 1  # hash coincidence at most
    assert got.jaccard_est < 0.05


def test_overlap_pairs_lexicographic_over_group_columns(spark):
    # two group columns: every unordered pair appears exactly once, also
    # pairs whose first column ties ((x, 1) vs (x, 2)) or whose columns
    # order disagree ((x, 2) vs (y, 1))
    keys = [("x", 1), ("x", 2), ("y", 1)]
    rows = [(g, h, i) for g, h in keys for i in range(10)]
    df = spark.createDataFrame(rows, "g string, h int, k long")
    got = kmv_overlap(kmv_sketch(df, ["g", "h"], "k", k=64), ["g", "h"], k=64)
    pairs = {((r.g_1, r.h_1), (r.g_2, r.h_2)) for r in got.collect()}
    assert pairs == {
        (("x", 1), ("x", 2)), (("x", 1), ("y", 1)), (("x", 2), ("y", 1)),
    }

