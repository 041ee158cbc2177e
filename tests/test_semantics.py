"""Semantics pinned by the reference's test suite (FIXTURES.md F2/F3/F5):
uniqueness/distinct, value-counts edges, numeric edge families, type inference.
These pin exactly the semantics the reference's Spark backend got WRONG
(n_unique == n_distinct bug, duplicate-count == 0 bug)."""

import datetime
import math

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from pandas_profiling_personal_spark import ProfileConfig, profile
from pandas_profiling_personal_spark.operators import frequencies as FQ
from pandas_profiling_personal_spark.types import (
    VariableType as VT,
    infer_variable_types,
    variable_types,
)


def _num_df(spark, values):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    return spark.createDataFrame([(v,) for v in values], schema)


# F2 uniqueness cases: values, n_distinct, n_unique, is_unique
F2 = [
    ([1.0, 2.0], 2, 2, True),
    ([None], 0, 0, None),
    ([1.0, 2.0, None], 2, 2, True),
    ([1.0, 2.0, 2.0], 2, 1, False),
    ([1.0, None, None], 1, 1, True),
    ([1.0, 2.0, 2.0, None], 2, 1, False),
    ([1.0, 2.0, 2.0, None, None], 2, 1, False),
]


@pytest.mark.parametrize("values,nd,nu,isu", F2)
def test_uniqueness_semantics(spark, values, nd, nu, isu):
    df = _num_df(spark, values)
    scalars, _, _ = FQ.frequency_summary(df, ["x"], 10)
    assert scalars["x"]["n_distinct"] == nd
    assert scalars["x"]["n_unique"] == nu
    r = profile(df, ProfileConfig(exact=True, duplicates=False, correlations=()))
    v = r.variables["x"]
    assert v["n_distinct"] == nd
    assert v["n_unique"] == nu
    assert v["is_unique"] == isu


def test_value_counts_excludes_nulls_and_orders(spark):
    # F3 heavy_tail: one 1 + many 2s; nulls excluded entirely
    df = _num_df(spark, [1.0] + [2.0] * 50 + [None, None])
    _, tops, _ = FQ.frequency_summary(df, ["x"], 10)
    assert tops["x"][0] == ("2.0", 50)
    assert tops["x"][1] == ("1.0", 1)
    assert len(tops["x"]) == 2


def test_numeric_families(spark):
    # F5: inf values, zero-heavy, all-null, constant
    rows = [
        (float("inf"), 0.0, None, 5.0),
        (float("-inf"), 0.0, None, 5.0),
        (1.0, 3.0, None, 5.0),
        (2.0, 0.0, None, 5.0),
    ]
    schema = T.StructType([T.StructField(c, T.DoubleType()) for c in "abcd"])
    df = spark.createDataFrame(rows, schema)
    r = profile(df, ProfileConfig(exact=True, duplicates=False, correlations=()))
    a, b, c, d = (r.variables[k] for k in "abcd")
    assert a["n_infinite"] == 2 and a["p_infinite"] == 0.5
    assert b["n_zeros"] == 3 and b["p_zeros"] == 0.75
    assert c["n_missing"] == 4 and c["count"] == 0
    assert d["n_distinct"] == 1
    kinds = {x["type"] for x in r.alerts}
    assert "INFINITE" in kinds and "ZEROS" in kinds and "CONSTANT" in kinds
    assert any(
        x["type"] == "REJECTED" and x["column"] == "c" for x in r.alerts
    )


def test_mean_matches_known_value(spark):
    # FIXTURES F1 column x: mean 13.375, std 23.688077, skew 1.08516
    vals = [50.0, 50.0, -10.0, 0.0, 0.0, 5.0, 15.0, -3.0, None]
    df = _num_df(spark, vals)
    r = profile(df, ProfileConfig(exact=True, duplicates=False, correlations=()))
    v = r.variables["x"]
    assert v["mean"] == pytest.approx(13.375)
    assert v["std"] == pytest.approx(23.688077169749342)
    assert v["variance"] == pytest.approx(561.125)
    assert v["skewness"] == pytest.approx(1.0851622393567653)
    assert v["kurtosis"] == pytest.approx(-0.5029285892900379)
    assert v["n_zeros"] == 2
    assert v["p_missing"] == pytest.approx(1 / 9)
    assert v["median"] == pytest.approx(2.5)
    assert v["mad"] == pytest.approx(9.0)
    assert v["iqr"] == pytest.approx(24.5)


def test_type_inference(spark):
    rows = [("yes", "1.5", 1), ("no", "2", 2), ("t", "3.25", 1)]
    schema = "b string, n string, lowcard int"
    df = spark.createDataFrame(rows, schema)
    base = variable_types(df)
    assert base == {
        "b": VT.CATEGORICAL,
        "n": VT.CATEGORICAL,
        "lowcard": VT.NUMERIC,
    }
    inferred = infer_variable_types(df, base, low_categorical_threshold=5)
    assert inferred["b"] is VT.BOOLEAN
    assert inferred["n"] is VT.NUMERIC
    assert inferred["lowcard"] is VT.CATEGORICAL


def test_profile_with_inference_ansi_safe(spark):
    # ADVICE r1 (medium): inferred BOOLEAN/NUMERIC string columns must be cast
    # before aggregation — n_true on raw 'yes' strings throws under ANSI (the
    # Spark 4 default this session runs with) and miscounts with ANSI off.
    rows = [
        ("yes", "1.5", 1),
        ("no", "2", 2),
        ("t", "3.25", 1),
        (None, None, 2),
    ]
    df = spark.createDataFrame(rows, "b string, n string, lowcard int")
    r = profile(
        df,
        ProfileConfig(
            exact=True, duplicates=False, correlations=(), infer_types=True
        ),
    )
    b, n_, lc = r.variables["b"], r.variables["n"], r.variables["lowcard"]
    assert b["type"] is VT.BOOLEAN
    assert b["n_true"] == 2 and b["n_false"] == 1
    assert b["n_missing"] == 1
    assert n_["type"] is VT.NUMERIC
    assert n_["mean"] == pytest.approx((1.5 + 2 + 3.25) / 3)
    assert n_["min"] == pytest.approx(1.5) and n_["max"] == pytest.approx(3.25)
    assert lc["type"] is VT.CATEGORICAL
    assert lc["n_distinct"] == 2
    # frequency pass sees the cast values too
    assert {t["value"] for t in lc["top_values"]} == {"1", "2"}


def test_boolean_and_datetime_describe(spark):
    import datetime as dt

    rows = [
        (True, dt.datetime(2020, 1, 1)),
        (False, dt.datetime(2021, 6, 1)),
        (True, None),
        (None, dt.datetime(2020, 1, 1)),
    ]
    schema = T.StructType(
        [
            T.StructField("f", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    r = profile(df, ProfileConfig(exact=True, duplicates=False, correlations=()))
    f, ts = r.variables["f"], r.variables["ts"]
    assert f["n_true"] == 2 and f["n_false"] == 1
    assert f["p_true"] == pytest.approx(2 / 3)
    assert ts["min"] == dt.datetime(2020, 1, 1)
    assert ts["max"] == dt.datetime(2021, 6, 1)
    assert ts["histogram"]["counts"] and sum(ts["histogram"]["counts"]) == 3


def test_duplicates_semantics(spark):
    rows = [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (3, "c")]
    df = spark.createDataFrame(rows, "k int, s string")
    r = profile(df, ProfileConfig(exact=True, correlations=()))
    # pandas duplicated(keep='first'): 2 of the 3 identical rows are duplicates
    assert r.table["n_duplicates"] == 2
    assert r.duplicates[0]["n_dup"] == 3


def test_chi_square_math():
    from pandas_profiling_personal_spark.functions.math_ext import (
        chi2_sf,
        chisquare_uniform,
    )

    # scipy.stats.chisquare([16,18,16,14,12,12]) -> stat=2.0, p=0.84915
    stat, p = chisquare_uniform([16, 18, 16, 14, 12, 12])
    assert stat == pytest.approx(2.0)
    assert p == pytest.approx(0.8491450360846096, abs=1e-9)
    assert chi2_sf(3.841458820694124, 1) == pytest.approx(0.05, abs=1e-9)
    stat, p = chisquare_uniform([10, 10, 10])
    assert stat == 0.0 and p == 1.0


def test_uniform_alert(spark):
    df = _num_df(spark, [float(i % 10) for i in range(1000)])
    r = profile(
        df,
        ProfileConfig(
            exact=True, duplicates=False, correlations=(), histogram_bins=10
        ),
    )
    assert any(a["type"] == "UNIFORM" for a in r.alerts)


def test_monotonicity_operator(spark):
    from pandas_profiling_personal_spark.operators.order_stats import monotonicity

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 2.0), (4, 5.0)], "o int, x double"
    )
    m = monotonicity(df, "x", "o")
    assert m["increasing"] is True
    assert m["strictly_increasing"] is False
    assert m["decreasing"] is False


def test_extreme_observations(spark):
    from pandas_profiling_personal_spark.operators.order_stats import (
        extreme_observations,
    )

    df = _num_df(spark, [5.0, 1.0, 1.0, 9.0, 3.0, None])
    ex = extreme_observations(df, "x", 2)
    assert ex["min"][0] == {"value": 1.0, "count": 2}
    assert ex["max"][0] == {"value": 9.0, "count": 1}


def test_extreme_counts_numeric_nan_and_ties(spark):
    """ADVICE r2: NaN must not rank as a numeric column's max extreme (the
    reference ranks extremes over value_counts_without_nan); ties break on
    value so ranks are deterministic."""
    from pandas_profiling_personal_spark.operators.frequencies import (
        extreme_counts,
        value_counts_all,
    )

    df = spark.createDataFrame(
        [(float("nan"),), (9.0,), (1.0,), (1.0,), (3.0,), (None,)],
        "x double",
    )
    vc = value_counts_all(df, ["x"])
    rows = extreme_counts(vc, 2, ["x"]).collect()
    by_end = {}
    for r in sorted(rows, key=lambda r: (r["end"], r["rank"])):
        by_end.setdefault(r["end"], []).append((r["value"], r["count"]))
    assert by_end["min"] == [("1.0", 2), ("3.0", 1)]
    # NaN would sort above every finite — must be excluded, 9 is the true max
    assert by_end["max"] == [("9.0", 1), ("3.0", 1)]


def test_extreme_counts_datetime_lexical(spark):
    """Datetime columns rank lexically (ISO order == chronological order)."""
    from pandas_profiling_personal_spark.operators.frequencies import (
        extreme_counts,
        value_counts_all,
    )
    import datetime as dt

    df = spark.createDataFrame(
        [
            (dt.date(2021, 5, 1),),
            (dt.date(2019, 1, 9),),
            (dt.date(2023, 12, 31),),
        ],
        "d date",
    )
    vc = value_counts_all(df, ["d"])
    rows = extreme_counts(vc, 1, []).collect()
    ends = {r["end"]: r["value"] for r in rows}
    assert ends["min"] == "2019-01-09"
    assert ends["max"] == "2023-12-31"


def test_frequency_summary_skips_extremes_without_rankable_columns(spark):
    """ADVICE r2: extreme_cols=[] (no numeric/datetime columns) must skip the
    extremes job instead of ranking every categorical column and discarding."""
    from pandas_profiling_personal_spark.operators.frequencies import (
        frequency_summary,
    )

    df = spark.createDataFrame([("a",), ("b",), ("a",)], "c string")
    scalars, tops, extremes = frequency_summary(
        df, ["c"], 5, n_extreme=3, extreme_numeric=[], extreme_cols=[]
    )
    assert extremes == {}
    assert scalars["c"] == {"n_distinct": 2, "n_unique": 1}
    assert tops["c"] == [("a", 2), ("b", 1)]


def test_top_k_with_totals_matches_separate_aggregate(spark):
    """The window-partial distinct/unique totals must equal the plain groupBy
    aggregate for every column, at several salt counts (incl. salt > values)."""
    import random

    from pandas_profiling_personal_spark.operators.frequencies import (
        distinct_unique_counts,
        top_k_with_totals,
        value_counts_all,
    )

    rng = random.Random(7)
    rows = [
        (rng.choice("abcdefgh"), rng.randint(0, 30), rng.choice("xy"))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "s string, n int, t string")
    vc = value_counts_all(df).persist()
    try:
        expected = {
            r["column"]: (r["n_distinct"], r["n_unique"])
            for r in distinct_unique_counts(df).collect()
        }
        for salt in (1, 4, 64):
            got = {}
            for r in top_k_with_totals(vc, 3, salt_buckets=salt).collect():
                got[r["column"]] = (r["n_distinct"], r["n_unique"])
            assert got == expected, f"salt={salt}"
    finally:
        vc.unpersist()


def test_scatter_all_matches_scatter_counts_and_masks_missing(spark):
    """ADVICE r2: scatter_all must (a) reproduce scatter_counts grids on a known
    frame, (b) NOT count NULL/NaN rows in bucket 0 for a constant (min==max)
    column."""
    from pandas_profiling_personal_spark.operators.interactions import (
        scatter_all,
        scatter_counts,
    )

    df = spark.createDataFrame(
        [
            (1.0, 10.0, 5.0),
            (2.0, 20.0, 5.0),
            (None, 30.0, 5.0),
            (4.0, None, None),
            (float("nan"), 40.0, 5.0),
        ],
        "x double, y double, k double",
    )
    ranges = {"x": (1.0, 4.0), "y": (10.0, 40.0), "k": (5.0, 5.0)}
    grids = scatter_all(df, ranges, bins=4)

    # (a) parity with the per-pair operator
    for (a, b), grid in grids.items():
        single = sorted(
            (
                (r["x_bucket"], r["y_bucket"], r["cnt"])
                for r in scatter_counts(
                    df, a, b, ranges[a], ranges[b], bins=4
                ).collect()
            )
        )
        assert [
            (g["x_bucket"], g["y_bucket"], g["cnt"]) for g in grid
        ] == single, (a, b)

    # (b) constant column k: only rows where BOTH sides are present count.
    # x-vs-k has x null once and NaN once, k null once -> 2 surviving rows.
    xk = grids[("x", "k")]
    assert sum(g["cnt"] for g in xk) == 2
    assert all(g["y_bucket"] == 0 for g in xk)


def test_nullity_structure_with_dendrogram(spark):
    from pyspark.sql import types as T

    from pandas_profiling_personal_spark import ProfileConfig, profile

    # x and y missing together (perfectly correlated nullity); z independent
    rows = [
        (1.0, 10.0, None),
        (None, None, 3.0),
        (2.0, 20.0, None),
        (None, None, 4.0),
        (5.0, 50.0, 5.0),
    ]
    schema = T.StructType([T.StructField(c, T.DoubleType()) for c in "xyz"])
    df = spark.createDataFrame(rows, schema)
    r = profile(df, ProfileConfig(correlations=(), duplicates=False))
    nc = r.missing["nullity_correlation"]
    assert nc["x"]["y"] == pytest.approx(1.0)
    d = r.missing["dendrogram"]
    assert d["columns"] == ["x", "y", "z"]
    # first merge must join x (0) and y (1) at distance ~0
    ci, cj, dist = d["merges"][0]
    assert {ci, cj} == {0, 1} and dist == pytest.approx(0.0, abs=1e-9)


def test_minimal_tier(spark):
    from pandas_profiling_personal_spark import profile
    from pandas_profiling_personal_spark.config import MINIMAL

    df = spark.createDataFrame(
        [(i, float(i % 5), f"s{i % 3}") for i in range(100)],
        "k long, x double, s string",
    )
    r = profile(df, MINIMAL)
    assert r.correlations == {}
    assert r.table["n_duplicates"] is None
    assert r.variables["x"]["mean"] is not None
    assert len(r.variables["x"]["histogram"]["counts"]) == 10


def test_phik_bivariate_normal_recovery(spark):
    """phik on genuinely bivariate-normal data must recover |rho| (the defining
    property of the measure); validated without the phik package."""
    import math
    import random

    from pandas_profiling_personal_spark.operators.correlations import phik

    rng = random.Random(7)
    rho = 0.7
    rows = []
    for _ in range(8000):
        z1, z2 = rng.gauss(0, 1), rng.gauss(0, 1)
        rows.append((z1, rho * z1 + math.sqrt(1 - rho**2) * z2))
    df = spark.createDataFrame(rows, "x double, y double")
    v = phik(df, "x", "y")
    assert abs(v - rho) < 0.08


def test_phik_categorical_association(spark):
    from pandas_profiling_personal_spark.operators.correlations import phik

    # F4 recoding fixture: perfectly associated categoricals -> phik ~ 1
    rows = [("chien", "dog")] * 4 + [("chat", "cat")] * 2 + [("chameaux", "camel")] * 2
    df = spark.createDataFrame(rows * 10, "x string, y string")
    v = phik(df, "x", "y", a_numeric=False, b_numeric=False)
    assert v > 0.99


def test_phik_independent_pair_reads_zero(spark):
    """VERDICT r2 #8: with the sample-noise pedestal subtracted, a genuinely
    independent pair must read ~0 (the uncorrected inversion picks up
    E[chi2]=dof of fluctuation and reads small samples high)."""
    import random

    from pandas_profiling_personal_spark.operators.correlations import phik

    rng = random.Random(13)
    rows = [(rng.gauss(0, 1), rng.gauss(0, 1)) for _ in range(2000)]
    df = spark.createDataFrame(rows, "x double, y double")
    v = phik(df, "x", "y")
    assert v < 0.05
    # and the correction must not disturb a genuine signal: uncorrected is
    # strictly >= corrected by construction
    v_raw = phik(df, "x", "y", noise_correction=False)
    assert v_raw >= v


def test_cramers_v_perfect_association(spark):
    from pandas_profiling_personal_spark.operators.correlations import cramers_v

    rows = [("chien", "dog")] * 4 + [("chat", "cat")] * 2 + [("chameaux", "camel")] * 2
    df = spark.createDataFrame(rows, "x string, y string")
    # F4: Cramer's V = 1.0 for perfect association (bias-corrected slightly less)
    v = cramers_v(df, "x", "y", bias_correction=False)
    assert v == pytest.approx(1.0)


def test_cramers_matrix_matches_per_pair(spark):
    """The batched one-shuffle matrix must agree with the per-pair path."""
    from pandas_profiling_personal_spark.operators.correlations import (
        cramers_v,
        cramers_v_matrix,
    )

    rows = [
        ("a", "x", "p", None),
        ("a", "y", "q", "m"),
        ("b", "x", "p", "m"),
        ("b", "y", "q", "n"),
        ("a", "x", "q", "n"),
        ("b", "y", "p", "m"),
    ] * 5
    df = spark.createDataFrame(rows, "c1 string, c2 string, c3 string, c4 string")
    cols = ["c1", "c2", "c3", "c4"]
    m = cramers_v_matrix(df, cols)
    from itertools import combinations as _cb

    for a, b in _cb(cols, 2):
        assert m[(a, b)] == pytest.approx(cramers_v(df, a, b), abs=1e-12)


def test_phik_mixed_types(spark):
    """Mixed interval x categorical φk — the reference's semantics: strong
    association must read high, independence low, in one batched pass."""
    import random

    from pandas_profiling_personal_spark.operators.correlations import phik_matrix

    rng = random.Random(11)
    rows = []
    for _ in range(4000):
        x = rng.gauss(0, 1)
        dep = "lo" if x < -0.4 else ("mid" if x < 0.4 else "hi")
        indep = rng.choice(["r", "s", "t"])
        rows.append((x, dep, indep))
    df = spark.createDataFrame(rows, "x double, dep string, ind string")
    m = phik_matrix(df, ["x"], ["dep", "ind"])
    assert m[("x", "dep")] > 0.85
    assert m[("x", "ind")] < 0.25
    assert m[("dep", "ind")] < 0.25


def test_kendall_distributed_matches_kernel(spark):
    """VERDICT r2 #5: the distributed bucketed tau-b must equal the O(n log n)
    single-node kernel exactly (D is an integer decomposition, not an
    approximation), across continuous, heavily tied, and NaN-laced columns —
    and regardless of bucket count."""
    import math
    import random

    from pandas_profiling_personal_spark.operators.correlations import (
        kendall_matrix_distributed,
        kendall_tau_b,
    )

    rng = random.Random(9)
    rows = []
    for i in range(1500):
        x = rng.gauss(0, 1)
        rows.append(
            (
                x,
                0.6 * x + rng.gauss(0, 0.8),
                float(rng.randint(0, 3)),
                float("nan") if i % 5 == 0 else float(i % 11),
            )
        )
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    cols = ["x", "y", "z", "w"]
    data = list(zip(*rows))
    from itertools import combinations as comb

    for n_buckets in (4, 16):
        m = kendall_matrix_distributed(df, cols, n_buckets=n_buckets)
        for i, j in comb(range(4), 2):
            expect = kendall_tau_b(data[i], data[j])
            got = m[(cols[i], cols[j])]
            if math.isnan(expect):
                assert got is None
            else:
                assert got is not None and abs(got - expect) < 1e-9, (
                    cols[i], cols[j], n_buckets, got, expect,
                )


def test_kendall_constant_column_short_circuit_and_heavy_value_isolation(spark):
    """ADVICE r3 (closed r4): a constant column must not funnel the whole
    pair into one applyInPandas group — its pairs short-circuit to None
    (tau-b denominator is zero) straight from the edge pass. A heavily tied
    (collapsed-bucketing) column is handled by singleton-VALUE buckets: each
    heavy value is isolated, its all-tied groups are skipped before the
    kernels, and the result stays EXACT with no warning."""
    import warnings

    from pandas_profiling_personal_spark.operators.correlations import (
        kendall_matrix_distributed,
        kendall_tau_b,
    )

    # skew: one value covers 97.5% of rows; multi: two heavy values plus a
    # continuous tail, interleaved so heavy mass spans every partition
    rows = [
        (
            5.0,
            float(i % 7),
            0.0 if i % 40 else float(i),
            3.0 if i % 3 == 0 else (8.0 if i % 3 == 1 else float(i) / 7.0),
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "const double, v double, skew double, multi double"
    )
    cols = ["const", "v", "skew", "multi"]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        m = kendall_matrix_distributed(df, cols, n_buckets=16)
    assert m[("const", "v")] is None
    assert m[("const", "skew")] is None
    assert m[("const", "multi")] is None
    # heavy-tied columns stay EXACT — the singleton-bucket path is not an
    # approximation — and no collapse warning fires anymore
    data = list(zip(*rows))
    for i, j in [(1, 2), (1, 3), (2, 3)]:
        expect = kendall_tau_b(data[i], data[j])
        assert abs(m[(cols[i], cols[j])] - expect) < 1e-9, (cols[i], cols[j])
    assert not any(
        isinstance(w.message, RuntimeWarning) and "kendall" in str(w.message)
        for w in caught
    ), [str(w.message) for w in caught]


def test_kendall_single_group_escape_hatch_retired():
    """No all-data-on-one-executor path remains in the Kendall stack."""
    import inspect

    from pandas_profiling_personal_spark.operators import correlations as C

    src = inspect.getsource(C.kendall_matrix_df) + inspect.getsource(
        C.kendall_matrix
    ) + inspect.getsource(C.kendall_matrix_distributed)
    assert 'groupBy("__g")' not in src and '"__g"' not in src
    assert "kendall_matrix_distributed" in inspect.getsource(C.kendall_matrix_df)


def test_kendall_two_action_budget(spark):
    """VERDICT r4 #3: the Kendall matrix runs TWO actions — the edge sketch
    and ONE tagged-union collect of contingency + tie terms + inversions.
    AQE splits each action into several jobs, so the gate is a job budget
    well under what the old 4-action form produced."""
    import random

    from pandas_profiling_personal_spark.operators.correlations import (
        kendall_matrix_distributed,
        kendall_tau_b,
    )

    rng = random.Random(7)
    data = [[rng.gauss(0, 1) for _ in range(400)] for _ in range(3)]
    rows = list(zip(*data))
    df = spark.createDataFrame(rows, "a double, b double, c double")
    sc = spark.sparkContext
    sc.setJobGroup("kendall-budget", "kendall job budget")
    try:
        m = kendall_matrix_distributed(df, ["a", "b", "c"], n_buckets=8)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("kendall-budget")
    # AQE materializes each exchange as its own job (~19 for the matrix), so
    # raw job count is a weak action proxy — the bound only has to catch a
    # regression to per-pair scheduling (O(pairs) actions, 30+ jobs here)
    assert len(jobs) <= 24, f"kendall exceeded job budget: {len(jobs)}"
    # the hard action gate: exactly TWO collect sites in the source — the
    # edge sketch and the tagged-union (contingency+ties+inversions) collect.
    # Measured on 30k rows x 3 cols: 2.80 s -> 1.98 s steady-state vs the
    # 4-action r4 form, byte-identical taus.
    import inspect

    src = inspect.getsource(kendall_matrix_distributed)
    assert src.count(".collect()") == 2, src.count(".collect()")
    # and it must still be exact
    expect = kendall_tau_b(data[0], data[1])
    assert abs(m[("a", "b")] - expect) < 1e-12


def test_profile_correlations_constant_job_count(spark):
    """VERDICT r1 #2: cramers+phik over many categorical columns must run a
    CONSTANT number of Spark jobs (batched contingency), not one per pair."""
    import random

    from pandas_profiling_personal_spark import ProfileConfig, profile

    rng = random.Random(3)
    n_cols = 12  # 66 pairs — the old per-pair path would run >130 jobs
    rows = [
        tuple(rng.choice("abc") for _ in range(n_cols)) for _ in range(200)
    ]
    df = spark.createDataFrame(
        rows, ", ".join(f"c{i} string" for i in range(n_cols))
    )
    sc = spark.sparkContext
    sc.setJobGroup("corr-job-count", "profile with batched correlations")
    try:
        r = profile(
            df,
            ProfileConfig(
                exact=True, duplicates=False, correlations=("cramers", "phik")
            ),
        )
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("corr-job-count")
    assert len(r.correlations["cramers"]) == n_cols
    assert len(r.correlations["phik"]) == n_cols
    # Derived budget (measured per-action with AQE job splits, r3):
    #   pass 1 wide agg (+ persist materialization)            ~4 jobs
    #   pass 2 value-counts + top-K-with-totals (one action;
    #          AQE materializes each window exchange)          ~5 jobs
    #   extremes: SKIPPED (no numeric/datetime columns)         0 jobs
    #   phik contingency (one batched action)                  ~2 jobs
    #   cramers contingency (one batched action)               ~2 jobs
    #   samples: head 1 + seeded random 2 (count job elided —
    #            pass 1's n is reused)                          3 jobs
    # = 16 observed; bound at 20 to absorb AQE variance. Far under the ~132
    # the per-pair correlation loops would issue.
    assert len(jobs) <= 20, f"expected O(1) jobs, got {len(jobs)}"


def test_drift_profile_psi_semantics(spark):
    """PSI drift: identical snapshots read ~0; a shifted candidate reads
    large on the shifted column only; a constant column collapses to bucket
    0 on both sides (hi==lo guard) and reads ~0."""
    import random

    from pandas_profiling_personal_spark.operators.drift import drift_profile

    rng = random.Random(3)
    rows = [
        (rng.gauss(0, 1), rng.uniform(0, 10), 5.0) for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, "x double, u double, k double")
    same = {r["column"]: r for r in drift_profile(df, df, ["x", "u", "k"]).collect()}
    for c in ("x", "u", "k"):
        assert abs(same[c]["psi"]) < 1e-9, (c, same[c]["psi"])
        assert same[c]["n_a"] == same[c]["n_b"] == 4000

    shifted = spark.createDataFrame(
        [(x + 2.0, u, 5.0) for x, u, _ in rows], "x double, u double, k double"
    )
    d = {r["column"]: r for r in drift_profile(df, shifted, ["x", "u", "k"]).collect()}
    assert d["x"]["psi"] > 0.5, d["x"]["psi"]           # 2-sigma mean shift
    assert abs(d["u"]["psi"]) < 0.05, d["u"]["psi"]      # unshifted
    assert abs(d["k"]["psi"]) < 1e-9                      # constant column


def test_embedding_drift_semantics(spark):
    """Embedding drift: identical snapshots read zero on every signal; a
    shifted copy moves norm-PSI, centroid cosine and the per-dimension shift;
    invalid vectors (null / ragged / non-finite) are excluded from both
    sides; an empty side yields an explicit null-signal row."""
    import random

    from pandas_profiling_personal_spark.operators.drift import embedding_drift

    rng = random.Random(5)
    vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(800)]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")

    same = embedding_drift(df, df, "v", dim=8).collect()[0]
    assert same["n_a"] == same["n_b"] == 800
    assert abs(same["norm_psi"]) < 1e-6
    assert same["centroid_cosine"] == 1.0
    assert same["mean_shift_l2"] == 0.0
    assert same["max_mean_shift"] == 0.0

    # shift dimension 3 by +2 sigma: it must win max_shift_dim and move PSI
    shifted = spark.createDataFrame(
        [([x + 2.0 if i == 3 else x for i, x in enumerate(v)],) for v in vecs],
        "v array<double>",
    )
    d = embedding_drift(df, shifted, "v", dim=8).collect()[0]
    assert d["max_shift_dim"] == 3
    assert d["max_mean_shift"] > 1.5
    assert d["norm_psi"] > 0.1          # norms grow with the shifted dim
    assert d["centroid_cosine"] < 0.9   # direction moved toward dim 3

    # invalid vectors excluded: null, ragged, NaN component — listed FIRST
    # so dim inference must not trust the first physical row (review r7:
    # dim comes from the median size, so the ragged minority can't hijack)
    dirty = spark.createDataFrame(
        [(None,), ([1.0, 2.0],), ([float("nan")] * 8,)]
        + [(v,) for v in vecs],
        "v array<double>",
    )
    d2 = embedding_drift(dirty, dirty, "v", dim=8).collect()[0]
    assert d2["n_a"] == d2["n_b"] == 800
    d2i = embedding_drift(dirty, dirty, "v").collect()[0]  # inferred dim
    assert d2i["n_a"] == 800 and d2i["centroid_cosine"] == 1.0

    # empty candidate side: explicit null-signal row, not a crash
    empty = spark.createDataFrame([], "v array<double>")
    d3 = embedding_drift(df, empty, "v", dim=8).collect()[0]
    assert d3["n_b"] == 0 and d3["norm_psi"] is None


def test_drift_alerts_classification(spark):
    """drift_alerts: the two-frame alert classifier — PSI bands for
    numeric/categorical rows, embedding norm/direction/dimension rules —
    over REAL operator outputs, thresholds crossing where planted."""
    import random

    from pandas_profiling_personal_spark.operators.drift import (
        drift_alerts,
        drift_profile,
        embedding_drift,
    )

    rng = random.Random(9)
    rows = [(rng.gauss(0, 1), rng.uniform(0, 10)) for _ in range(3000)]
    a = spark.createDataFrame(rows, "x double, u double")
    b = spark.createDataFrame(
        [(x + 2.0, u) for x, u in rows], "x double, u double"
    )
    num = drift_profile(a, b, ["x", "u"]).collect()
    alerts = drift_alerts(numeric_rows=num)
    kinds = {al["column"]: al["type"] for al in alerts}
    assert kinds.get("x") == "DRIFT_SIGNIFICANT"  # 2-sigma shift
    assert "u" not in kinds                       # unshifted: no alert

    vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(500)]
    va = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    vb = spark.createDataFrame(
        [([x + 4.0 if i == 2 else x for i, x in enumerate(v)],) for v in vecs],
        "v array<double>",
    )
    erow = embedding_drift(va, vb, "v", dim=8).collect()[0]
    ealerts = {al["type"]: al for al in drift_alerts(embedding_row=erow)}
    assert "EMBEDDING_NORM_DRIFT" in ealerts
    assert "EMBEDDING_DIRECTION_DRIFT" in ealerts
    assert ealerts["EMBEDDING_DIM_SHIFT"]["dim"] == 2

    # identical snapshots: silence
    assert drift_alerts(
        numeric_rows=drift_profile(a, a, ["x", "u"]).collect(),
        embedding_row=embedding_drift(va, va, "v", dim=8).collect()[0],
    ) == []

    # the one-pager renders the tables + the alert banner
    from pandas_profiling_personal_spark.operators.drift import (
        drift_report_html,
    )

    page = drift_report_html(
        numeric_rows=num, embedding_row=erow, title="crawl 1 vs crawl 2"
    )
    assert "crawl 1 vs crawl 2" in page
    assert "DRIFT_SIGNIFICANT" in page and "Numeric PSI" in page
    assert "EMBEDDING_DIM_SHIFT" in page and "centroid_cosine" in page


def test_drift_profile_all_null_columns(spark):
    """Columns all-null/NaN on both sides get an explicit (psi=null, n=0)
    row instead of vanishing, and an all-columns-all-null call returns a
    well-typed frame instead of raising (F.array() over zero structs is
    VOID-typed)."""
    from pandas_profiling_personal_spark.operators.drift import drift_profile

    df = spark.createDataFrame(
        [(1.0, None, float("nan")) for _ in range(10)],
        "x double, dead double, nan_col double",
    )
    out = {
        r["column"]: r
        for r in drift_profile(df, df, ["x", "dead", "nan_col"]).collect()
    }
    assert set(out) == {"x", "dead", "nan_col"}
    for c in ("dead", "nan_col"):
        assert out[c]["psi"] is None
        assert out[c]["n_a"] == out[c]["n_b"] == 0
        assert out[c]["max_shift_bucket"] is None
    assert out["x"]["n_a"] == 10

    only_null = drift_profile(df, df, ["dead", "nan_col"]).collect()
    assert [r["column"] for r in only_null] == ["dead", "nan_col"]
    assert all(r["psi"] is None for r in only_null)


def test_drift_profile_categorical_semantics(spark):
    """Categorical PSI: identical snapshots read ~0; removing a category
    reads large on that column only; values beyond top_n fold into
    __other__; all-null columns get an explicit null-psi row."""
    from pandas_profiling_personal_spark.operators.drift import (
        drift_profile_categorical,
    )

    rows = [
        (["en", "de", "fr", "es", "zh"][i % 5], f"src{i % 12}", None)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "lang string, source string, dead string")
    cols = ["lang", "source", "dead"]

    same = {
        r["column"]: r
        for r in drift_profile_categorical(df, df, cols, top_n=8).collect()
    }
    assert abs(same["lang"]["psi"]) < 1e-9
    assert abs(same["source"]["psi"]) < 1e-9
    assert same["dead"]["psi"] is None and same["dead"]["n_a"] == 0
    assert same["lang"]["n_a"] == same["lang"]["n_b"] == 600

    cand = df.where("lang <> 'de'")
    d = {
        r["column"]: r
        for r in drift_profile_categorical(df, cand, cols, top_n=8).collect()
    }
    assert d["lang"]["psi"] > 0.2, d["lang"]["psi"]
    assert d["lang"]["max_shift_value"] == "de"
    assert abs(d["source"]["psi"]) < 0.01, d["source"]["psi"]

    # top_n=3 on a 12-value column: the fold must conserve counts (n_a is
    # the total non-null count, not just the top-3 mass)
    folded = {
        r["column"]: r
        for r in drift_profile_categorical(df, cand, ["source"], top_n=3).collect()
    }
    assert folded["source"]["n_a"] == 600


def test_key_skew_profile(spark):
    """key_skew_profile: hand-checked skew metrics, composite + null keys,
    deterministic top string."""
    from pandas_profiling_personal_spark.operators.frequencies import (
        key_skew_profile,
    )

    rows = [("a", 1)] * 6 + [("b", 1)] * 2 + [("b", 2)] * 1 + [(None, 1)] * 3
    df = spark.createDataFrame(rows, "k string, j int")
    r = key_skew_profile(df, ["k"], top_n=2).collect()[0]
    # groups: a=6, b=3, null=3 -> n_rows 12, n_keys 3
    assert (r["n_rows"], r["n_keys"], r["max_count"]) == (12, 3, 6)
    assert r["mean_count"] == 4.0
    assert r["skew_ratio"] == 1.5          # 6 / 4
    assert r["top_share"] == 0.5           # 6 / 12
    assert r["p50_count"] == 3.0
    assert r["top_keys"] == "a:6,b:3"      # count desc, key asc; n=2 cut

    # composite key: (k, j) -> a|1=6, b|1=2, b|2=1, null|1=3
    r2 = key_skew_profile(df, ["k", "j"], top_n=10).collect()[0]
    assert (r2["n_rows"], r2["n_keys"], r2["max_count"]) == (12, 4, 6)
    assert r2["top_keys"] == "a|1:6,null|1:3,b|1:2,b|2:1"

    # uniform key -> skew_ratio exactly 1
    uni = spark.createDataFrame([(i % 4,) for i in range(20)], "k int")
    r3 = key_skew_profile(uni, ["k"]).collect()[0]
    assert r3["skew_ratio"] == 1.0 and r3["n_keys"] == 4


def test_join_fanout_profile(spark):
    """join_fanout_profile: exact inner-join size and fanout from the two
    key-count tables — hand-checked, plus cross-check against the real
    join's count; null keys MATCH here (documented: distribution overlap,
    not SQL null semantics)."""
    from pandas_profiling_personal_spark.operators.frequencies import (
        join_fanout_profile,
    )

    left = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (3, "w"), (None, "n")],
        "k int, v string",
    )
    right = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (3, 13), (4, 14), (None, 15)],
        "k int, u int",
    )
    r = join_fanout_profile(left, right, ["k"]).collect()[0]
    assert (r["left_rows"], r["right_rows"]) == (5, 6)
    assert (r["n_left_keys"], r["n_right_keys"]) == (4, 4)
    # matched keys: 1, 3, and the null-sentinel
    assert r["n_matched_keys"] == 3
    # inner rows: k=1 -> 2*3=6, k=3 -> 1*1=1, null -> 1*1=1
    assert r["inner_rows"] == 8 and r["max_fanout"] == 6
    assert r["fanout_ratio"] == 1.6           # 8 / 5
    assert r["left_match_share"] == 0.8       # 4 of 5 rows (k=2 unmatched)
    # cross-check the non-null part against the REAL join
    real = left.where("k is not null").join(
        right.where("k is not null"), "k"
    ).count()
    assert real == 7 == r["inner_rows"] - 1   # minus the null-sentinel pair


def test_stratified_sample(spark):
    """stratified_sample: exact N per group, deterministic, nested —
    the m-row sample is a superset of the k<m one; small groups whole."""
    from pandas_profiling_personal_spark.operators.sampling import (
        stratified_sample,
    )

    rows = [(f"g{i % 3}", i) for i in range(40)] + [("tiny", 100)]
    df = spark.createDataFrame(rows, "grp string, k bigint")
    s5 = stratified_sample(df, "grp", 5, "k")
    got = {}
    for r in s5.collect():
        got.setdefault(r["grp"], set()).add(r["k"])
    assert {g: len(v) for g, v in got.items()} == {
        "g0": 5, "g1": 5, "g2": 5, "tiny": 1
    }
    # deterministic across invocations
    again = {}
    for r in stratified_sample(df, "grp", 5, "k").collect():
        again.setdefault(r["grp"], set()).add(r["k"])
    assert again == got
    # nested: the 2-per-group sample is a subset of the 5-per-group one
    s2 = {}
    for r in stratified_sample(df, "grp", 2, "k").collect():
        s2.setdefault(r["grp"], set()).add(r["k"])
    for g, v in s2.items():
        assert v <= got[g]


def test_target_relevance_ranking(spark):
    """Feature-vs-target association: a determining categorical scores
    eta^2 ~1, a correlated numeric |pearson| ~1, noise ~0; categorical
    targets use Cramer's V + swapped eta^2; high-cardinality features
    skip with a reason; ranking is score-desc."""
    import random

    from pandas_profiling_personal_spark.operators.correlations import (
        target_relevance,
    )

    rng = random.Random(7)
    rows = []
    for i in range(2000):
        grp = "abc"[i % 3]
        y = {"a": 10.0, "b": 50.0, "c": 90.0}[grp] + rng.gauss(0, 1)
        rows.append((y, 2.0 * y + rng.gauss(0, 1), rng.gauss(0, 5),
                     grp, f"u{i}", "xy"[i % 2]))
    df = spark.createDataFrame(
        rows, "y double, lin double, noise double, grp string,"
        " uniq string, coin string")

    rel = target_relevance(df, "y", max_categories=100)
    by = {r["feature"]: r for r in rel}
    assert by["lin"]["method"] == "pearson_abs" and by["lin"]["score"] > 0.99
    assert by["grp"]["method"] == "eta_squared" and by["grp"]["score"] > 0.99
    assert by["noise"]["score"] < 0.1
    assert by["coin"]["score"] < 0.1
    assert by["uniq"]["method"] == "skipped" and "categories" in by["uniq"]["reason"]
    # ranked: the two strong features lead
    assert {rel[0]["feature"], rel[1]["feature"]} == {"lin", "grp"}

    # categorical target: grp vs numeric y -> eta^2; grp vs coin -> Cramer's V
    rel2 = target_relevance(
        df, "grp", numeric_cols=["y", "noise"], categorical_cols=["coin"])
    b2 = {r["feature"]: r for r in rel2}
    assert b2["y"]["method"] == "eta_squared" and b2["y"]["score"] > 0.99
    assert b2["coin"]["method"] == "cramers_v" and b2["coin"]["score"] < 0.1

    import pytest as _pt
    with _pt.raises(ValueError, match="no features"):
        target_relevance(df.select("y"), "y")

    # r11 ADVICE (medium): the TARGET itself is cardinality-gated — an
    # id-like categorical target would make eta^2 degenerate toward 1
    # (group per row) and the contingency collect unbounded
    with _pt.raises(ValueError, match="id-like target"):
        target_relevance(
            df, "uniq", numeric_cols=["y"], categorical_cols=["coin"],
            max_categories=100)
    # temporal targets are rejected by type, not routed to the
    # categorical path
    df_ts = df.selectExpr(
        "y", "lin", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,"
        " cast(y as int)) as t")
    with _pt.raises(ValueError, match="temporal type"):
        target_relevance(df_ts, "t", numeric_cols=["y", "lin"])


def test_relevance_target_profile_section(spark):
    """relevance_target= attaches the ranking to the result and report;
    redact skips it; an unknown target refuses by name."""
    import pytest as _pt

    from pandas_profiling_personal_spark import ProfileConfig, profile
    from pandas_profiling_personal_spark.report.html import render_html

    rows = [(float(i), 2.0 * i, "ab"[i % 2]) for i in range(200)]
    df = spark.createDataFrame(rows, "y double, lin double, c string")
    r = profile(df, ProfileConfig(
        exact=True, relevance_target="y",
        correlations=(), duplicates=False))
    by = {x["feature"]: x for x in r.relevance}
    assert by["lin"]["score"] > 0.99 and by["lin"]["method"] == "pearson_abs"
    assert by["c"]["method"] == "eta_squared"
    page = render_html(r)
    assert "Target relevance" in page and "pearson_abs" in page
    import json as _json
    assert _json.loads(r.to_json())["relevance"][0]["feature"] == "lin"

    r2 = profile(df, ProfileConfig(
        exact=True, relevance_target="y", redact=True,
        correlations=(), duplicates=False))
    assert r2.relevance == []
    with _pt.raises(ValueError, match="relevance_target"):
        profile(df, ProfileConfig(relevance_target="ghost",
                                  correlations=(), duplicates=False))

    # r11 ADVICE (low): config typos fail BEFORE any Spark pass — a typo'd
    # target or unknown theme must not waste a multi-pass profile run
    tracker = df.sparkSession.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    with _pt.raises(ValueError, match="relevance_target"):
        profile(df, ProfileConfig(relevance_target="ghost"))
    with _pt.raises(ValueError, match="unknown html theme"):
        profile(df, ProfileConfig(html_theme="solarized"))
    # a subset profile that drops the target also refuses up front
    with _pt.raises(ValueError, match="relevance_target"):
        profile(df, ProfileConfig(relevance_target="y"), columns=["lin"])
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "fail-fast validation ran Spark jobs"

    # r12 ADVICE (low): a temporal target refuses BEFORE any pass too —
    # the type check needs only the schema
    df_ts = df.selectExpr(
        "y", "lin", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,"
        " cast(y as int)) as t")
    before2 = len(tracker.getJobIdsForGroup(None) or [])
    with _pt.raises(ValueError, match="temporal type"):
        profile(df_ts, ProfileConfig(relevance_target="t"))
    assert len(tracker.getJobIdsForGroup(None) or []) == before2

    # r12 ADVICE (low): an id-like categorical target (cardinality gate
    # needs a scan, so it can only fire late) degrades to a recorded
    # skip instead of throwing away the whole multi-pass profile
    df_id = df.selectExpr("y", "lin", "uuid() as uid")
    r3 = profile(df_id, ProfileConfig(
        exact=True, relevance_target="uid",
        correlations=(), duplicates=False,
        categorical_maximum_correlation_distinct=50))
    assert len(r3.relevance) == 1
    skip = r3.relevance[0]
    assert skip["method"] == "skipped" and skip["score"] is None
    assert "id-like target" in skip["reason"]
    assert r3.variables  # the rest of the profile survived


def _pass2_both(vc, k, n, num, ext, salt_buckets=64):
    """(reference, linear) pass-2 outputs as sorted ``(top rows, extreme
    rows)``: the two-job reference is :func:`FQ.top_k_with_totals` plus
    :func:`FQ.extreme_counts` on the extreme columns."""
    ref_top = sorted(
        (r["column"], r["rank"], r["value"], r["count"],
         r["n_distinct"], r["n_unique"])
        for r in FQ.top_k_with_totals(vc, k, salt_buckets).collect()
    )
    ref_ext = sorted(
        (r["column"], r["end"], r["rank"], r["value"], r["count"])
        for r in FQ.extreme_counts(
            vc.where(F.col("column").isin(*ext)), n, num, salt_buckets
        ).collect()
    ) if ext else []
    rows = FQ._topk_extremes_linear(
        vc, k, n, num, ext, salt_buckets
    ).collect()
    new_top = sorted(
        (r["column"], r["rank"], r["value"], r["count"],
         r["n_distinct"], r["n_unique"])
        for r in rows if r["rank"] is not None
    )
    new_ext = sorted(
        (r["column"], end, r[end + "_rank"], r["value"], r["count"])
        for r in rows
        for end in ("min", "max")
        if r[end + "_rank"] is not None
    )
    return (ref_top, ref_ext), (new_top, new_ext)


def test_fused_pass2_matches_two_job_path(spark):
    """Pass 2 runs top-k/totals and extremes as ONE linear plan (three
    exchanges, no branches). It must reproduce the two-job path
    bit-for-bit on NaN, nulls, count ties and datetimes — including NaN
    exclusion from numeric extremes, and a non-extreme column (``s``)
    whose rows must never rank as extremes."""
    import datetime as dt

    rows = [
        (float("nan"), "a", dt.date(2021, 1, 1)),
        (1.0, "b", dt.date(2021, 1, 2)),
        (1.0, "b", None),
        (2.0, None, dt.date(2020, 6, 1)),
        (None, "c", dt.date(2021, 1, 2)),
        (3.0, "c", dt.date(2022, 3, 1)),
        (float("nan"), "d", dt.date(2021, 1, 1)),
        (-1.5, "d", dt.date(2021, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "x double, s string, d date")
    vc = FQ.value_counts_all(df, ["x", "s", "d"])
    num, ext = ["x"], ["x", "d"]
    for k, n in ((1, 1), (2, 2), (3, 1), (10, 10)):
        ref, new = _pass2_both(vc, k, n, num, ext)
        assert new == ref, (k, n)
        # NaN must not surface as a numeric extreme in either path
        assert not any("nan" in str(v).lower() for _, _, _, v, _ in new[1])
        assert {c for c, *_ in new[1]} <= set(ext)


_P2_DATES = [None] + [datetime.date(2020, m, 1) for m in (1, 2, 3, 6, 12)]


@st.composite
def _pass2_cases(draw):
    """Small frames built for count ties: few distinct values per column,
    NaN and nulls in the numeric columns, an optionally all-NaN column."""
    n_rows = draw(st.integers(0, 24))
    x_vals = st.sampled_from(
        [None, float("nan"), -1.5, 0.0, 1.0, 2.0, 3.0, 1e9]
    )
    all_nan = draw(st.booleans())
    rows = [
        (
            draw(x_vals),
            float("nan") if all_nan else draw(x_vals),
            draw(st.sampled_from([None, "", "a", "b", "c", "d"])),
            draw(st.sampled_from(_P2_DATES)),
            draw(st.integers(-3, 3)),
        )
        for _ in range(n_rows)
    ]
    ext = draw(
        st.lists(st.sampled_from(["x", "y", "d", "i"]), unique=True)
    )
    return (
        rows,
        draw(st.integers(1, 6)),
        draw(st.integers(1, 5)),
        ext,
        draw(st.sampled_from([1, 2, 3, 64])),
    )


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_pass2_cases())
# every value of every column is both a top-K and an extreme row
@example(case=([(1.0, 2.0, "a", _P2_DATES[1], 1),
                (2.0, 2.0, "b", _P2_DATES[2], 1)], 3, 3, ["x", "d"], 1))
# all-NaN numeric extreme column: top-K rows, no extremes
@example(case=([(float("nan"), float("nan"), "a", None, 0)] * 3
               + [(1.0, float("nan"), "b", None, 2)], 2, 2, ["y", "x"], 2))
# no extreme columns at all
@example(case=([(1.0, None, "a", _P2_DATES[3], 1)] * 2, 2, 2, [], 64))
def test_pass2_linear_matches_two_job_path_property(spark, case):
    """Property twin of test_fused_pass2_matches_two_job_path: over random
    small frames and random ``k``, ``n_extreme``, extreme columns and salt
    bucket counts (1 included), the linear pass 2 is bit-equal to the
    two-job reference."""
    rows, k, n, ext, salt = case
    df = spark.createDataFrame(
        rows, "x double, y double, s string, d date, i int"
    )
    vc = FQ.value_counts_all(df, ["x", "y", "s", "d", "i"])
    ref, new = _pass2_both(vc, k, n, ["x", "y", "i"], ext, salt)
    assert new == ref


def test_fused_pass2_fallback_without_reuse(spark):
    """frequency_summary's output does not depend on
    spark.sql.exchange.reuse: pass 2 is one linear exchange chain with no
    exchange to reuse, so disabling reuse must give bit-equal output."""
    import datetime as dt

    rows = [
        (float("nan"), "a", dt.date(2021, 1, 1)),
        (1.0, "b", dt.date(2021, 1, 2)),
        (1.0, "b", None),
        (2.0, None, dt.date(2020, 6, 1)),
        (None, "c", dt.date(2021, 1, 2)),
        (3.0, "c", dt.date(2022, 3, 1)),
    ]
    df = spark.createDataFrame(rows, "x double, s string, d date")
    args = dict(
        columns=["x", "s", "d"], k=2, n_extreme=2,
        extreme_numeric=["x"], extreme_cols=["x", "d"],
    )
    fused_out = FQ.frequency_summary(df, **args)
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        fallback_out = FQ.frequency_summary(df, **args)
    finally:
        spark.conf.unset("spark.sql.exchange.reuse")
    assert fallback_out == fused_out


def test_batched_pass1_matches_single_action(spark):
    """r15 (VERDICT r14 #3): above _WIDE_AGG_FIELD_CAP fragments the
    approx-tier pass-1 aggregate splits into fixed concurrent batches —
    the same fragments, partitioned; every stat must be bit-equal to the
    single-action shape (here forced by leaving the input unpersisted)."""
    import datetime as dt
    import random

    from pyspark import StorageLevel

    from pandas_profiling_personal_spark.operators import summary as SU

    rng = random.Random(42)
    n_num = 38  # 1 + 38*9 + ... fragments > _WIDE_AGG_FIELD_CAP
    rows = []
    for i in range(300):
        vals = [
            float("nan") if i == 7 and j == 0 else rng.uniform(-5, 5)
            for j in range(n_num)
        ]
        rows.append(
            tuple(vals)
            + (f"s{i % 11}" if i % 13 else None,
               dt.date(2021, 1 + i % 12, 1 + i % 28))
        )
    schema = (
        ", ".join(f"n{j} double" for j in range(n_num))
        + ", s string, d date"
    )
    df = spark.createDataFrame(rows, schema)

    single = SU.scalar_summary(df)  # unpersisted -> single action
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        assert len(SU._agg_batches(
            cached, ["x"] * (SU._WIDE_AGG_FIELD_CAP + 1)
        )) == SU._WIDE_AGG_BATCHES
        batched = SU.scalar_summary(cached)  # persisted + wide -> batched
    finally:
        cached.unpersist()

    assert single.keys() == batched.keys()
    for col in single:
        a, b = single[col], batched[col]
        assert a.keys() == b.keys(), col
        for k in a:
            va, vb = a[k], b[k]
            if isinstance(va, float) and math.isnan(va):
                assert isinstance(vb, float) and math.isnan(vb), (col, k)
            else:
                assert va == vb, (col, k, va, vb)
