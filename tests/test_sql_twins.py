"""SQL-text twins of the Column builders.

The hot aggregate builders (batch pass 1, ``partial_profile``,
``histogram_all``) emit SQL fragment strings applied with one ``selectExpr``
per action instead of Column objects, because every ``F.*`` call costs
several Py4J round-trips. These tests pin each SQL twin to the Column
builder it replaces, bit for bit, on the inputs where the two could drift:
literal round-trips, bucket boundaries, NULL/NaN, key-encoding escapes and
quoting hazards in column names."""

import datetime as dt
import math
import struct

from pyspark.sql import functions as F

from pandas_profiling_personal_spark.functions import stats as S


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_sql_double_round_trips_bit_exact(spark):
    vals = [
        0.1 + 0.2, -0.0, 0.0, 5e-324, -5e-324, 1e300, -1e300,
        1.7976931348623157e308, -1.5, 1e6, 123456789.123456789,
    ]
    row = spark.range(1).selectExpr(
        *[f"{S.sql_double(v)} AS v{i}" for i, v in enumerate(vals)],
        f"{S.sql_double(float('nan'))} AS nan",
        f"{S.sql_double(float('inf'))} AS pinf",
        f"{S.sql_double(float('-inf'))} AS ninf",
        # a negative literal after a minus must not turn into a comment
        f"1.0D - {S.sql_double(-0.5)} AS after_minus",
    )
    assert {f.dataType.typeName() for f in row.schema.fields} == {"double"}
    got = row.collect()[0]
    for i, v in enumerate(vals):
        assert _bits(got[f"v{i}"]) == _bits(v), (v, got[f"v{i}"])
    assert math.isnan(got["nan"])
    assert got["pinf"] == math.inf and got["ninf"] == -math.inf
    assert got["after_minus"] == 1.5


def _assert_bucket_twins(df, x_col, x_sql, specs):
    """Compare S.bucket_index (Column) with S.bucket_index_sql (text) on
    every row of ``df`` for every (bins, lo, hi) spec."""
    cols, frags = [], []
    for k, (bins, lo, hi) in enumerate(specs):
        cols.append(
            S.bucket_index(x_col, F.lit(float(lo)), F.lit(float(hi)), bins)
            .alias(f"col{k}")
        )
        frags.append(
            S.bucket_index_sql(
                x_sql, S.sql_double(lo), S.sql_double(hi), bins
            ) + f" AS sql{k}"
        )
    by_col = df.select("id", *cols)
    by_sql = df.selectExpr("id", *frags)
    assert [f.dataType for f in by_col.schema.fields[1:]] == [
        f.dataType for f in by_sql.schema.fields[1:]
    ]
    a = sorted(tuple(r) for r in by_col.collect())
    b = sorted(tuple(r) for r in by_sql.collect())
    assert a == b
    return a


def test_bucket_index_sql_matches_column_double(spark):
    lo, hi = -1.25, 3.5
    xs = [lo, hi, lo - 10.0, hi + 10.0, 0.0, 1.1, hi - 1e-12,
          float("nan"), float("inf"), float("-inf"), None]
    df = spark.createDataFrame(list(enumerate(xs)), "id long, x double")
    specs = [(7, lo, hi), (1, lo, hi), (4, 2.0, 2.0), (10, 0.1, 0.1 + 0.2)]
    rows = _assert_bucket_twins(df, F.col("x"), "x", specs)
    # non-vacuous: the boundary rows hit both end buckets
    by_id = {r[0]: r[1:] for r in rows}
    assert by_id[0][0] == 0 and by_id[1][0] == 6  # x = lo / x = hi
    assert by_id[2][0] == 0 and by_id[3][0] == 6  # clamped both sides
    assert by_id[4][2] == 0  # lo == hi collapses to bucket 0
    # null x lands in bucket 0 on both sides (greatest() skips nulls), which
    # is why callers guard the bucket with IS NOT NULL
    assert by_id[10] == (0, 0, 0, 0)


def test_bucket_index_sql_matches_column_timestamp(spark):
    def ep(t):
        return t.replace(tzinfo=dt.timezone.utc).timestamp()

    t0, t1 = dt.datetime(2021, 1, 1), dt.datetime(2022, 1, 1)
    ts = [t0, t1, dt.datetime(1969, 12, 31, 23, 59, 59),
          dt.datetime(2030, 6, 1), dt.datetime(2021, 7, 2, 12, 30), None]
    df = spark.createDataFrame(list(enumerate(ts)), "id long, ts timestamp")
    # epoch conversion twins first, then bucketing over epoch edges
    e_col = df.select("id", S.epoch_seconds(F.col("ts")).alias("e"))
    e_sql = df.selectExpr("id", f"{S.epoch_seconds_sql('ts')} AS e")
    assert sorted(e_col.collect()) == sorted(e_sql.collect())
    specs = [(12, ep(t0), ep(t1)), (3, ep(t0), ep(t0))]
    rows = _assert_bucket_twins(
        df, S.epoch_seconds(F.col("ts")), S.epoch_seconds_sql("ts"), specs
    )
    by_id = {r[0]: r[1:] for r in rows}
    assert by_id[0][0] == 0 and by_id[1][0] == 11 and by_id[4][0] == 6


def test_key_sql_matches_key_expr(spark):
    from pandas_profiling_personal_spark.operators.checks import (
        KEY_ESC,
        KEY_SEP,
        NULL_SENTINEL,
        _key_expr,
        _key_sql,
    )

    rows = [
        ("a", 1, 1.5, True, dt.datetime(2021, 1, 1)),
        (None, None, None, None, None),
        (f"x{KEY_SEP}y", 2, float("nan"), False, dt.datetime(2021, 1, 2)),
        (f"{KEY_ESC}{KEY_ESC}", 2, -0.0, None, None),
        (NULL_SENTINEL, None, float("inf"), True, None),
        (f"{KEY_ESC}{KEY_SEP}", 3, 2.0, False, dt.datetime(2021, 1, 1)),
        ("", 0, 0.0, True, dt.datetime(2021, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "s string, i int, d double, b boolean, ts timestamp"
    )
    for cols in [("s",), ("s", "i"), ("i", "s", "d"), ("b", "ts"),
                 ("d", "b", "s", "ts", "i")]:
        got = df.select(
            _key_expr(cols).alias("c"), F.expr(_key_sql(cols)).alias("q")
        ).collect()
        assert all(r["c"] == r["q"] for r in got), (cols, got)
        # the encoding stays injective through the twin
        assert len({r["q"] for r in got}) == len(
            {tuple(x[df.columns.index(c)] for c in cols) for x in rows}
        ), cols


_HAZARD_SCHEMA = (
    "`dotted.name` double, `with space` double, `x``q` int, "
    "`tick``y` string, `b.o.o.l` boolean, `t s` timestamp"
)
_HAZARD_ROWS = [
    (1.5, float("nan"), 4, "a", True, dt.datetime(2021, 1, 1, 12)),
    (-2.0, float("inf"), 0, "", False, dt.datetime(2022, 6, 1)),
    (0.0, 2.25, None, "b`b", None, None),
    (None, float("-inf"), 7, None, True, dt.datetime(2021, 1, 1, 12)),
    (3.0, None, 6, "a", False, dt.datetime(2020, 2, 29)),
    (0.5, 4.0, 2, "a", True, dt.datetime(2023, 3, 1)),
    (2.0, 1.0, 5, "c.d", None, dt.datetime(2021, 5, 5)),
]


def test_partial_profile_quoting_hazards_match_batch(spark):
    """Column names with a dot, a space and a backtick on a shard with NaN,
    ±inf and nulls: every field of the SQL-built shard state matches the
    batch operators on the same frame."""
    from pandas_profiling_personal_spark.config import ProfileConfig
    from pandas_profiling_personal_spark.operators.correlations import (
        pearson_matrix,
    )
    from pandas_profiling_personal_spark.operators.histogram import (
        histogram_all,
    )
    from pandas_profiling_personal_spark.operators.summary import (
        scalar_summary,
    )
    from pandas_profiling_personal_spark.plans.incremental import (
        finalize_partial,
        partial_profile,
        pearson_of,
    )

    df = spark.createDataFrame(_HAZARD_ROWS, _HAZARD_SCHEMA)
    nums = ["dotted.name", "with space", "x`q"]
    specs = {"dotted.name": (4, -2.0, 3.0), "with space": (3, 1.0, 4.0),
             "x`q": (2, 0.0, 7.0), "t s": (5, 1.5e9, 1.7e9)}
    part = partial_profile(
        df, top_m=10, histograms=specs, correlations=True,
        categorical_pairs=[("tick`y", "b.o.o.l")],
        group_pairs=[("tick`y", "dotted.name")],
        fd_pairs=[("tick`y", "dotted.name")],
    )
    fin = finalize_partial(part, spark)["variables"]
    batch = scalar_summary(df, ProfileConfig(exact=True))
    for c in df.columns:
        st, bv = part.columns[c], batch[c]
        assert st.count == bv["count"] and st.n_missing == bv["n_missing"], c
        # tiny inputs: the HLL sketch is in its exact list mode. Datasketches
        # drops empty strings from HLL updates, so the shard sketch misses
        # the one '' value of `tick`y` (a known gap of the state format)
        undercount = 1 if c == "tick`y" else 0
        assert fin[c]["n_distinct_approx"] == bv["n_distinct"] - undercount, c
    for c in nums:
        st, bv = part.columns[c], batch[c]
        assert (st.n_zeros, st.n_infinite, st.n_nan) == (
            bv["n_zeros"], bv.get("n_infinite", 0), bv.get("n_nan", 0)
        ), c
        for k in ("min", "max", "mean", "variance", "skewness"):
            a, b = fin[c].get(k), bv[k]
            assert (a is None and b is None) or (
                math.isnan(a) and math.isnan(b)
            ) or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12), (c, k, a, b)
        # KLL compared through its item count (the sketch bytes are not
        # reproducible): it holds exactly the finite values
        n_kll = spark.range(1).select(
            F.kll_sketch_get_n_double(F.lit(st.kll))
        ).collect()[0][0]
        assert n_kll == bv["count"] - st.n_nan - st.n_infinite
    # non-vacuous: one finite column, one contaminated by NaN/±inf
    assert fin["dotted.name"]["variance"] > 0
    assert math.isnan(fin["with space"]["variance"])
    dmin, dmax = part.columns["t s"].min, part.columns["t s"].max
    assert (dmin, dmax) == (batch["t s"]["min"], batch["t s"]["max"])

    hist = histogram_all(df, specs)
    for c in specs:
        assert part.columns[c].hist_counts == hist[c]["counts"], c
    assert sum(part.columns["t s"].hist_counts) == 6

    pb = pearson_matrix(df, nums)
    pi = pearson_of(part)
    for k, b in pb.items():
        a = pi[k]
        assert (a is None and b is None) or (
            math.isnan(a) and math.isnan(b)
        ) or math.isclose(a, b, rel_tol=1e-12), (k, a, b)
    assert pi[("dotted.name", "x`q")] > 0.9

    assert part.columns["tick`y"].top_values == {
        "a": 3, "": 1, "b`b": 1, "c.d": 1
    }
    assert part.columns["b.o.o.l"].top_values == {"true": 3, "false": 2}
    assert part.cat_pairs[("tick`y", "b.o.o.l")].cells == {
        ("a", "true"): 2, ("a", "false"): 1, ("", "false"): 1
    }
    assert part.group_pairs[("tick`y", "dotted.name")].cells == {
        "a": (3, 5.0, 11.5), "": (1, -2.0, 4.0), "b`b": (1, 0.0, 0.0),
        "c.d": (1, 2.0, 4.0),
    }
    # the pair sketch counts distinct (tick`y, dotted.name) tuples, the
    # all-NULL tuple included as a sentinel value
    pair_hll = part.pair_hlls[("dotted.name", "tick`y")]
    assert spark.range(1).select(
        F.hll_sketch_estimate(F.lit(pair_hll))
    ).collect()[0][0] == 7
