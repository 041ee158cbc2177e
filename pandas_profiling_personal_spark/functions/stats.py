"""Canonical aggregate-expression builders.

Every scalar statistic the engine reports is defined ONCE here as a Spark Column
expression, so the profiler (plans/profile.py), the operators, and the oracle-parity
queries (__spark_entry__.py) all compute the identical quantity.

Estimator parity notes (reference: SURVEY.md §2.4 A6/A7):
  * pandas/DuckDB ``skew``/``kurtosis`` are the *sample* (bias-corrected, Fisher)
    estimators; Spark's ``F.skewness``/``F.kurtosis`` are *population* estimators
    (reference computes the pandas flavor on pandas and the population flavor on
    Spark and the two silently disagree — summary_algorithms.py:166-197 vs :132-146).
    ``skewness_sample`` / ``kurtosis_sample`` below apply the standard corrections
    so one definition holds everywhere:
        G1 = g1 * sqrt(n(n-1)) / (n-2)
        G2 = (n-1)/((n-2)(n-3)) * ((n+1) g2 + 6)
  * ``sum`` over doubles is order-dependent; ``stable_sum`` aggregates an exact
    DECIMAL and casts back to double, making the result partitioning-independent
    (and bit-identical to any other engine doing the same decimal sum).
  * quantiles: exact ``percentile`` (linear interpolation, matches
    numpy/DuckDB ``quantile_cont``) when ``exact``, else ``percentile_approx``
    (Greenwald-Khhanna; reference uses approxQuantile with eps=0.05,
    summary_algorithms.py:567-580).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def col(name: str) -> Column:
    """Column reference tolerant of dots/spaces/backticks in names."""
    return F.col(sq(name))


# --- SQL-text twins ------------------------------------------------------------------
# Hot aggregate builders (pass 1, the incremental tier, histogram_all) emit SQL
# fragment strings applied with ONE ``df.selectExpr(*frags)``: every ``F.*`` call
# costs several Py4J round-trips (call-site capture, conf lookups), so a
# Column-built aggregate over a few hundred expressions spends seconds of pure
# driver time. These helpers keep the text bit-exact with the Column builders.


def sq(name: str) -> str:
    """SQL identifier quoting tolerant of dots/spaces/backticks — the SQL-text
    twin of :func:`col`."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """DOUBLE literal that round-trips ``x`` bit-exactly (``repr`` is the
    shortest exact decimal form; the ``D`` suffix keeps Spark from reading it
    as a DECIMAL). Non-finite values become ``double('NaN')`` /
    ``double('Infinity')`` casts; negatives are parenthesized so the text is
    safe after any operator (``x - -1.0D`` would be fine, ``x--1.0D`` a
    comment)."""
    x = float(x)
    if math.isnan(x):
        return "double('NaN')"
    if math.isinf(x):
        return "double('Infinity')" if x > 0 else "double('-Infinity')"
    lit = f"{x!r}D"
    return f"({lit})" if lit.startswith("-") else lit


# --- counting ----------------------------------------------------------------------


def n_rows() -> Column:
    return F.count(F.lit(1))


def n_non_null(c: Column) -> Column:
    return F.count(c)


def n_missing(c: Column) -> Column:
    """Null count (reference: dataframe_wrappers.py:552-571 one-pass form)."""
    return F.count(F.lit(1)) - F.count(c)


def n_zeros(c: Column) -> Column:
    """Count of exact zeros (reference: summary_algorithms.py:561)."""
    return F.coalesce(F.sum(F.when(c == 0, 1).otherwise(0)), F.lit(0))


def n_negative(c: Column) -> Column:
    return F.coalesce(F.sum(F.when(c < 0, 1).otherwise(0)), F.lit(0))


def n_infinite(c: Column) -> Column:
    """Count of +/-inf (reference: summary_algorithms.py:556-559). Only meaningful
    for float/double columns; harmless 0 elsewhere."""
    return F.coalesce(
        F.sum(F.when(c == float("inf"), 1).when(c == float("-inf"), 1).otherwise(0)),
        F.lit(0),
    )


def n_nan(c: Column) -> Column:
    """NaN count — Spark distinguishes NaN from null in float columns; pandas
    conflates them (SURVEY.md §7 'what's hard' #3). Reported separately."""
    return F.coalesce(F.sum(F.when(F.isnan(c), 1).otherwise(0)), F.lit(0))


def n_distinct(c: Column, exact: bool, rsd: float = 0.05) -> Column:
    """Exact or HLL++ distinct count. rsd below ~0.04 blows up the HLL sketch size
    (measured 18x slower at 0.01); the profile pipeline only uses the approx value
    as a pre-estimate and replaces it with the exact count from the frequency pass."""
    return F.count_distinct(c) if exact else F.approx_count_distinct(c, rsd)


def n_true(c: Column) -> Column:
    return F.coalesce(F.sum(c.cast("int")), F.lit(0))


def n_empty(c: Column) -> Column:
    """Empty-string count for categorical columns."""
    return F.coalesce(F.sum(F.when(c == "", 1).otherwise(0)), F.lit(0))


# --- moments -----------------------------------------------------------------------


def mean(c: Column) -> Column:
    return F.avg(c)


def stddev(c: Column) -> Column:
    return F.stddev_samp(c)


def variance(c: Column) -> Column:
    return F.var_samp(c)


def stable_sum(c: Column, scale: int = 4) -> Column:
    """Order-independent sum: exact decimal accumulation cast back to double."""
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double")


def skewness_sample(c: Column) -> Column:
    """Bias-corrected (sample) skewness G1 from Spark's population g1."""
    n = F.count(c).cast("double")
    g1 = F.skewness(c)
    return F.when(n > 2, g1 * F.sqrt(n * (n - 1)) / (n - 2))


def kurtosis_sample(c: Column) -> Column:
    """Bias-corrected (sample) excess kurtosis G2 from Spark's population g2."""
    n = F.count(c).cast("double")
    g2 = F.kurtosis(c)
    return F.when(n > 3, (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g2 + 6))


def quantile(c: Column, q: float, exact: bool, relative_error: float = 0.05) -> Column:
    if exact:
        return F.percentile(c, F.lit(q))
    accuracy = max(1, int(round(1.0 / max(relative_error, 1e-6))))
    return F.percentile_approx(c, F.lit(q), F.lit(accuracy)).cast("double")


def quantile_array(
    c: Column, qs: tuple[float, ...], exact: bool, relative_error: float = 0.05
) -> Column:
    """All requested quantiles of a column as ONE aggregate returning an array.

    3x faster than one percentile aggregate per quantile point (each separate
    aggregate maintains its own value buffer; the array form shares one). Index the
    result with ``[i]`` — Catalyst dedups the repeated aggregate by semantic
    equality, so building the array Column once per column suffices."""
    if exact:
        return F.percentile(c, F.lit(list(qs)))
    accuracy = max(1, int(round(1.0 / max(relative_error, 1e-6))))
    return F.percentile_approx(c, F.lit(list(qs)), F.lit(accuracy)).cast(
        "array<double>"
    )


def safe_corr(a: Column, b: Column) -> Column:
    """Pearson correlation that returns null (not DIVIDE_BY_ZERO under ANSI
    mode) when either side has zero variance: covar_samp / (std·std) with
    try_divide. Identical to F.corr on non-degenerate inputs."""
    return F.try_divide(
        F.covar_samp(a, b), F.stddev_samp(a) * F.stddev_samp(b)
    )


def coef_variation(c: Column) -> Column:
    """CV = std/mean (reference: summary_algorithms.py:246-256); null when mean=0."""
    return F.try_divide(F.stddev_samp(c), F.avg(c))


def value_range(c: Column) -> Column:
    return F.max(c) - F.min(c)


# --- strings -----------------------------------------------------------------------


def length_stats(c: Column) -> dict[str, Column]:
    """Min/mean/max length (reference: summary_helpers.py:49-75 named_aggregate_summary
    on F.length). The reference samples 10k values for the length *histogram*; scalar
    length stats here are exact and folded into the single pass."""
    ln = F.length(c)
    return {
        "min_length": F.min(ln),
        "mean_length": F.avg(ln),
        "max_length": F.max(ln),
    }


def epoch_seconds(c: Column) -> Column:
    """Timestamp/date -> epoch seconds as double, ANSI-safe (a plain
    ``cast(ts as double)`` is a DATATYPE_MISMATCH under ANSI mode, which is the
    Spark 4 default)."""
    return F.unix_micros(c.cast("timestamp")).cast("double") / F.lit(1e6)


def epoch_seconds_sql(q: str) -> str:
    """SQL-text twin of :func:`epoch_seconds` over the SQL expression ``q``."""
    return f"(cast(unix_micros(cast({q} as timestamp)) as double) / {sql_double(1e6)})"


# --- histogram bucketing -------------------------------------------------------------


def bucket_index(c: Column, lo: Column, hi: Column, bins: int) -> Column:
    """0-based histogram bucket with numpy semantics (right edge closed on the last
    bin). Written as explicit IEEE arithmetic — floor((x-lo)/((hi-lo)/bins)) — rather
    than ``width_bucket`` so an oracle engine evaluating the same expression gets
    bit-identical buckets. Degenerate lo==hi collapses to bucket 0."""
    width = (hi - lo) / F.lit(float(bins))
    raw = F.floor((c - lo) / width)
    return (
        F.when(hi == lo, F.lit(0))
        .otherwise(F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)))
        .cast("long")
    )


def bucket_index_sql(x: str, lo: str, hi: str, bins: int) -> str:
    """SQL-text twin of :func:`bucket_index` over SQL expressions ``x``,
    ``lo`` and ``hi`` (pass literals from :func:`sql_double` so the edges
    stay bit-exact)."""
    raw = f"floor(({x} - {lo}) / (({hi} - {lo}) / {sql_double(bins)}))"
    return (
        f"cast(CASE WHEN {hi} = {lo} THEN 0 "
        f"ELSE least(greatest({raw}, 0), {bins - 1}) END as bigint)"
    )
