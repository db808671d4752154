"""Tests for the round-4b mining operators: set-similarity join
(prefix filtering), SCD2 build, skyline 2-D/n-D, autocorrelation."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sf_datalake_spark.operators.scd import scd2_build, scd2_snapshot
from sf_datalake_spark.operators.skyline import skyline_2d, skyline_nd
from sf_datalake_spark.operators.ssjoin import set_similarity_join
from sf_datalake_spark.operators.timeseries import autocorrelation


# ---------------------------------------------------------------------------
# set-similarity join
# ---------------------------------------------------------------------------

def brute_force_jaccard_pairs(
    df: DataFrame, id_col: str, tokens_col: str, threshold: float
) -> DataFrame:
    """O(n^2) oracle for ``set_similarity_join`` — same output contract."""
    sets = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(tokens_col)).alias("toks"),
    ).filter(F.size("toks") > 0)
    a = sets.select(F.col("__id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = sets.select(F.col("__id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.alias("inter_size"),
            (F.size("toks_a") + F.size("toks_b") - inter).alias("union_size"),
        )
        .filter(
            F.col("inter_size") * F.lit(1_000_000)
            >= F.col("union_size") * F.lit(int(round(threshold * 1_000_000)))
        )
        .withColumn("jaccard", F.col("inter_size") / F.col("union_size"))
    )


def prefix_length_py(n: int, t: float) -> int:
    """Driver-side twin of ``ssjoin._prefix_len``."""
    return n - math.ceil(t * n) + 1


def _pairs(df):
    return {
        (r.id_a, r.id_b, r.inter_size, r.union_size)
        for r in df.collect()
    }


def test_ssjoin_small_exact(spark):
    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),   # J(1,2) = 3/5 = 0.6
        (3, ["a", "b", "c", "d"]),   # J(1,3) = 1.0
        (4, ["x", "y"]),             # disjoint
        (5, ["a"]),                  # tiny
    ]
    df = spark.createDataFrame(rows, ["id", "toks"])
    got = _pairs(set_similarity_join(df, "id", "toks", 0.6))
    assert got == {(1, 2, 3, 5), (2, 3, 3, 5), (1, 3, 4, 4)}


def test_ssjoin_duplicate_tokens_collapse(spark):
    df = spark.createDataFrame(
        [(1, ["a", "a", "b"]), (2, ["b", "a"])], ["id", "toks"]
    )
    got = _pairs(set_similarity_join(df, "id", "toks", 0.9))
    assert got == {(1, 2, 2, 2)}


@settings(max_examples=25, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=12).map(lambda i: f"t{i}"),
            min_size=0,
            max_size=8,
        ),
        min_size=0,
        max_size=12,
    ),
    t=st.sampled_from([0.3, 0.5, 0.7, 0.9, 1.0]),
)
def test_ssjoin_equals_brute_force(spark, docs, t):
    """Prefix filtering must lose NO pair (the lemma, end to end) and
    invent none (verification is exact)."""
    rows = [(i, toks) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id: long, toks: array<string>")
    fast = _pairs(set_similarity_join(df, "id", "toks", t))
    slow = _pairs(brute_force_jaccard_pairs(df, "id", "toks", t))
    assert fast == slow


def test_prefix_length_bounds():
    # t=1 keeps exactly one token; low t keeps nearly all
    assert prefix_length_py(10, 1.0) == 1
    assert prefix_length_py(10, 0.5) == 6
    assert prefix_length_py(1, 0.5) == 1


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------

def _log(spark):
    d = dt.date
    rows = [
        # key 1: A, A (dup -> compressed), B, A again
        (1, d(2023, 1, 1), 101, "A"),
        (1, d(2023, 2, 1), 102, "A"),
        (1, d(2023, 3, 1), 103, "B"),
        (1, d(2023, 4, 1), 104, "A"),
        # key 2: single version
        (2, d(2023, 1, 15), 201, "X"),
        # key 3: same-day tie broken by seq id
        (3, d(2023, 5, 1), 301, "P"),
        (3, d(2023, 5, 1), 302, "Q"),
    ]
    return spark.createDataFrame(rows, ["k", "ts", "op_id", "status"])


def test_scd2_build_compresses_and_chains(spark):
    dim = scd2_build(_log(spark), ["k"], "ts", ["status"], tiebreak_col="op_id")
    rows = {
        (r.k, r.status, r.valid_from, r.valid_to, r.version_n, r.is_current)
        for r in dim.collect()
    }
    d = dt.date
    assert rows == {
        (1, "A", d(2023, 1, 1), d(2023, 3, 1), 1, False),
        (1, "B", d(2023, 3, 1), d(2023, 4, 1), 2, False),
        (1, "A", d(2023, 4, 1), None, 3, True),
        (2, "X", d(2023, 1, 15), None, 1, True),
        (3, "P", d(2023, 5, 1), d(2023, 5, 1), 1, False),
        (3, "Q", d(2023, 5, 1), None, 2, True),
    }


def test_scd2_snapshot(spark):
    dim = scd2_build(_log(spark), ["k"], "ts", ["status"], tiebreak_col="op_id")
    snap = scd2_snapshot(dim, F.lit(dt.date(2023, 3, 15)))
    got = {(r.k, r.status) for r in snap.collect()}
    # key 1 is in its 'B' window; keys 2 valid; key 3 not yet born
    assert got == {(1, "B"), (2, "X")}


def test_scd2_null_attr_change_detected(spark):
    rows = [
        (1, dt.date(2023, 1, 1), 1, None),
        (1, dt.date(2023, 2, 1), 2, "A"),
        (1, dt.date(2023, 3, 1), 3, None),
    ]
    log = spark.createDataFrame(rows, "k: int, ts: date, op_id: int, status: string")
    dim = scd2_build(log, ["k"], "ts", ["status"], tiebreak_col="op_id")
    assert dim.count() == 3  # NULL -> A -> NULL are three versions


# ---------------------------------------------------------------------------
# skyline
# ---------------------------------------------------------------------------

def _sky_points(spark):
    #      (id, a=max, b=min)
    rows = [
        (1, 10, 5),
        (2, 10, 3),   # dominates 1 (tie on a, better b)
        (3, 8, 3),    # dominated by 2
        (4, 12, 9),   # frontier (largest a)
        (5, 12, 9),   # duplicate point -> also frontier
        (6, 5, 1),    # frontier (cheapest)
        (7, 4, 1),    # dominated by 6
    ]
    return spark.createDataFrame(rows, ["id", "a", "b"])


def test_skyline_2d_with_ties(spark):
    got = {r.id for r in skyline_2d(_sky_points(spark), "a", "b").collect()}
    assert got == {2, 4, 5, 6}


def test_skyline_nd_matches_2d(spark):
    df = _sky_points(spark)
    nd = {r.id for r in skyline_nd(df, ["a", "b"], ["max", "min"]).collect()}
    two = {r.id for r in skyline_2d(df, "a", "b").collect()}
    assert nd == two


@settings(max_examples=15, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=0,
        max_size=20,
    )
)
def test_skyline_nd_equals_naive(spark, pts):
    rows = [(i, *p) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "id: long, x: int, y: int, z: int")
    got = {
        r.id
        for r in skyline_nd(
            df, ["x", "y", "z"], ["max", "min", "min"]
        ).collect()
    }
    want = set()
    for i, p in enumerate(pts):
        dominated = any(
            q[0] >= p[0] and q[1] <= p[1] and q[2] <= p[2] and q != p
            for j, q in enumerate(pts)
            if j != i
        )
        # q != p handles duplicates: equal points never dominate
        if not dominated:
            want.add(i)
    assert got == want


# ---------------------------------------------------------------------------
# autocorrelation
# ---------------------------------------------------------------------------

def test_acf_matches_numpy(spark):
    import numpy as np

    x = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    rows = [("k", i, v) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, ["key", "t", "v"])
    got = autocorrelation(df, ["key"], "t", "v", lags=(1, 2)).collect()[0]
    a = np.array(x, dtype=float)
    mu = a.mean()
    den = ((a - mu) ** 2).sum()
    for k in (1, 2):
        num = ((a[:-k] - mu) * (a[k:] - mu)).sum()
        assert got[f"acf_{k}"] == pytest.approx(num / den, rel=1e-12)
    assert got["n_obs"] == len(x)


def test_acf_short_and_constant_series(spark):
    rows = [("s", 0, 7), ("s", 1, 7), ("c", 0, 1)]
    df = spark.createDataFrame(rows, ["key", "t", "v"])
    out = {r.key: r for r in autocorrelation(df, ["key"], "t", "v").collect()}
    assert out["c"].acf_1 is None          # n <= k
    assert out["s"].acf_1 is None          # constant -> den == 0
    assert out["s"].n_obs == 2


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------

def _kcore_edges(spark):
    # triangle {1,2,3} + pendant 4 + square {5,6,7,8} with a chord
    rows = [
        (1, 2), (1, 3), (2, 3), (3, 4),
        (5, 6), (6, 7), (7, 8), (8, 5), (5, 7),
    ]
    return spark.createDataFrame(rows, ["a", "b"])


def test_k_core_golden(spark):
    from sf_datalake_spark.operators.components import k_core

    got = {
        (r.id, r.core_degree)
        for r in k_core(_kcore_edges(spark), 2, "a", "b").collect()
    }
    # pendant 4 peels; triangle and square (with chord) survive at k=2
    assert got == {
        (1, 2), (2, 2), (3, 2),
        (5, 3), (6, 2), (7, 3), (8, 2),
    }
    # k=3: only the chorded square's {5,7} have degree 3, but removing
    # 6/8 drops them below 3 -> empty 3-core
    assert k_core(_kcore_edges(spark), 3, "a", "b").count() == 0


def test_k_core_driver_equals_distributed(spark):
    from sf_datalake_spark.operators.components import k_core

    edges = _kcore_edges(spark)
    drv = {
        (r.id, r.core_degree)
        for r in k_core(edges, 2, "a", "b").collect()
    }
    dist = {
        (r.id, r.core_degree)
        for r in k_core(edges, 2, "a", "b", driver_threshold=0).collect()
    }
    assert drv == dist


def test_k_core_duplicate_and_reversed_edges_collapse(spark):
    from sf_datalake_spark.operators.components import k_core

    rows = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (1, 1)]
    edges = spark.createDataFrame(rows, ["a", "b"])
    for thr in (0, 10**6):   # both paths
        got = {
            (r.id, r.core_degree)
            for r in k_core(edges, 2, "a", "b", driver_threshold=thr).collect()
        }
        assert got == {(1, 2), (2, 2), (3, 2)}


def test_k_core_cache_hygiene(spark):
    """The explicit edge-list persist is released on exit.  (The
    distributed path's localCheckpoint snapshots are ContextCleaner-
    freed after JVM GC — the same documented lifecycle as
    connected_components — so the strict zero-delta assertion applies
    to the driver path, like the dedup_clusters plan test.)"""
    from sf_datalake_spark.operators.components import k_core

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    k_core(_kcore_edges(spark), 2, "a", "b").collect()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


# ---------------------------------------------------------------------------
# table diff (CDC)
# ---------------------------------------------------------------------------

def test_table_diff_classifies_all_change_types(spark):
    from sf_datalake_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # unchanged -> dropped
         (2, "B", 20),        # update (string)
         (4, None, 41),       # update (value; null attr compares safely)
         (5, "e", 50)],       # insert
        "k int, s string, v int",
    )
    got = {(r.k, r.change_type, r.s, r.v) for r in table_diff(old, new, ["k"]).collect()}
    assert got == {
        (2, "update", "B", 20),
        (3, "delete", "c", 30),
        (4, "update", None, 41),
        (5, "insert", "e", 50),
    }


def test_table_diff_schema_mismatch_raises(spark):
    import pytest as _pytest

    from sf_datalake_spark.operators.diff import table_diff

    a = spark.createDataFrame([(1, 2)], "k int, v int")
    b = spark.createDataFrame([(1, 2)], "k int, w int")
    with _pytest.raises(ValueError):
        table_diff(a, b, ["k"])


# ---------------------------------------------------------------------------
# isotonic (PAVA)
# ---------------------------------------------------------------------------

def test_pava_known_fit():
    from sf_datalake_spark.operators.isotonic import pava_fit_int

    # textbook case: [4, 2, 3, 5] -> pools {4,2,3}->3, {5}
    assert pava_fit_int([4, 2, 3, 5]) == [3.0, 3.0, 3.0, 5.0]
    # already monotone -> identity
    assert pava_fit_int([1, 2, 3]) == [1.0, 2.0, 3.0]
    # strictly decreasing -> global mean
    assert pava_fit_int([3, 2, 1]) == [2.0, 2.0, 2.0]
    assert pava_fit_int([]) == []


@settings(max_examples=60, deadline=None)
@given(ys=st.lists(st.integers(min_value=0, max_value=50), max_size=12))
def test_pava_properties(ys):
    from sf_datalake_spark.operators.isotonic import pava_fit_int

    fit = pava_fit_int(ys)
    # monotone
    assert all(a <= b for a, b in zip(fit, fit[1:]))
    # mean-preserving (PAVA pools preserve the total)
    if ys:
        assert sum(fit) == pytest.approx(sum(ys), abs=1e-9)
    # minimax identity on small inputs
    n = len(ys)
    for i in range(n):
        want = max(
            min(
                sum(ys[j:k + 1]) / (k - j + 1)
                for k in range(i, n)
            )
            for j in range(i + 1)
        )
        assert fit[i] == pytest.approx(want, abs=1e-12)


def test_isotonic_fit_groups(spark):
    from sf_datalake_spark.operators.isotonic import isotonic_fit

    rows = [("a", 1, 4), ("a", 2, 2), ("a", 3, 3), ("a", 4, 5),
            ("b", 1, 7)]
    df = spark.createDataFrame(rows, ["k", "t", "y"])
    got = {
        (r.k, r.t, r.fitted)
        for r in isotonic_fit(df, ["k"], "t", "y").collect()
    }
    assert got == {
        ("a", 1, 3.0), ("a", 2, 3.0), ("a", 3, 3.0), ("a", 4, 5.0),
        ("b", 1, 7.0),
    }


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------

def test_int8_quantize_bounds_and_extremes(spark):
    from sf_datalake_spark.operators.similarity import int8_scalar_quantize

    rows = [
        (1, [0.0, 5.0, -1.0]),
        (2, [10.0, 5.0, 3.0]),
        (3, [5.0, 5.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.codes for r in
           int8_scalar_quantize(df, "vec_id", "embedding", dims=3).collect()}
    # dim 1: min 0 max 10 -> 0, 255, floor(5*25.5)=127
    # dim 2: constant -> 0 everywhere
    # dim 3: min -1 max 3 -> 0, 255, floor(2*63.75)=127
    assert got[1] == [0, 0, 0]
    assert got[2] == [255, 0, 255]
    assert got[3] == [127, 0, 127]
    assert all(0 <= c <= 255 for codes in got.values() for c in codes)


def test_int8_topk_exact_scores(spark):
    from sf_datalake_spark.operators.similarity import int8_topk

    codes = spark.createDataFrame(
        [(1, [255, 0]), (2, [255, 10]), (3, [0, 255]), (4, [200, 200])],
        "vec_id long, codes array<bigint>",
    )
    q = spark.createDataFrame([(1,)], "vec_id long")
    got = [(r.neighbor_id, r.rank, r.score)
           for r in int8_topk(codes, q, k=3).orderBy("rank").collect()]
    assert got == [(2, 1, 255 * 255), (4, 2, 255 * 200), (3, 3, 0)]


# ---------------------------------------------------------------------------
# core numbers
# ---------------------------------------------------------------------------

def test_core_numbers_golden_and_paths_agree(spark):
    from sf_datalake_spark.operators.components import core_numbers

    got_d = {
        (r.id, r.core)
        for r in core_numbers(_kcore_edges(spark), "a", "b").collect()
    }
    # triangle -> core 2; pendant 4 -> core 1; chorded square -> core 2
    assert got_d == {
        (1, 2), (2, 2), (3, 2), (4, 1),
        (5, 2), (6, 2), (7, 2), (8, 2),
    }
    got_h = {
        (r.id, r.core)
        for r in core_numbers(
            _kcore_edges(spark), "a", "b", driver_threshold=0
        ).collect()
    }
    assert got_h == got_d


def test_core_numbers_consistent_with_k_core(spark):
    """Vertices with core >= k are exactly the k-core's members."""
    from sf_datalake_spark.operators.components import core_numbers, k_core

    edges = _kcore_edges(spark)
    cores = {r.id: r.core for r in core_numbers(edges, "a", "b").collect()}
    in_2core = {r.id for r in k_core(edges, 2, "a", "b").collect()}
    assert {n for n, c in cores.items() if c >= 2} == in_2core


# ---------------------------------------------------------------------------
# Kaplan-Meier fold semantics (via the registry query's operator shape)
# ---------------------------------------------------------------------------

def test_km_survival_hand_computed(spark):
    """3 customers, no censoring: S after t=0 events follows the exact
    product; median is the first crossing at or below 0.5."""
    import math

    from sf_datalake_spark.queries_mining import q_km_survival  # noqa: F401

    # exercise the fold directly with a hand-built per-t frame
    from pyspark.sql import functions as F

    per_t = spark.createDataFrame(
        # (segment, t, deaths, censored)
        [("A", 10, 1, 0), ("A", 20, 1, 0), ("A", 30, 0, 1),
         ("B", 5, 2, 0)],
        "c_mktsegment string, t int, d long, c long",
    )
    series = per_t.groupBy("c_mktsegment").agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("v"),
        F.sum(F.col("d") + F.col("c")).alias("n0"),
        F.count("*").alias("n_times"),
    )
    init = F.struct(
        F.col("n0").alias("at_risk"), F.lit(1.0).alias("s"),
        F.lit(None).cast("int").alias("median_t"),
    )

    def step(acc, e):
        s_new = F.when(
            e["d"] > 0,
            acc["s"] * ((acc["at_risk"] - e["d"]).cast("double")
                        / acc["at_risk"].cast("double")),
        ).otherwise(acc["s"])
        return F.struct(
            (acc["at_risk"] - e["d"] - e["c"]).alias("at_risk"),
            s_new.alias("s"),
            F.coalesce(acc["median_t"],
                       F.when(s_new <= 0.5, e["t"].cast("int"))).alias("median_t"),
        )

    out = {r.c_mktsegment: r for r in series.select(
        "c_mktsegment", F.aggregate("v", init, step).alias("st")
    ).select("c_mktsegment", "st.*").collect()}
    # A: n0=3 -> t10: 2/3; t20: 2/3 * 1/2 = 1/3 (median 20); t30 censored
    assert math.isclose(out["A"].s, 1 / 3)
    assert out["A"].median_t == 20
    assert out["A"].at_risk == 0
    # B: n0=2, both die at t5 -> s=0, median 5
    assert out["B"].s == 0.0
    assert out["B"].median_t == 5
