"""Single-pass scalar column summaries — the heart of the engine.

The reference computes per-column statistics with several Spark actions *per column*
(reference: src/pandas_profiling/model/summary_algorithms.py:166-197 one agg per
column; :512-535 counts per column; series_wrappers.py:69-71 a persist+count per
column; summary.py:155-188 a ThreadPool to paper over the job storm). This engine
builds ONE wide ``df.agg(...)`` containing every scalar statistic for every column:
Catalyst compiles it to a single partial+final hash aggregation over one scan, so
cost is one table pass regardless of column count — the design that survives 100 TB.

Pass 1 issues up to three actions over the (persisted) input, each shaped for
codegen: 1a the declarative wide agg, 1b the typed-imperative percentile agg
(kept separate — mixing forces interpreted evaluation), 1c mean-shifted power
sums from which std/variance/skew/kurt are reconstructed driver-side (Spark's
CentralMomentAgg degrades ~quadratically with aggregate count on 100+-column
tables; see :func:`_moment_pass`).

A further (optional, numeric-only) pass computes MAD, which needs the median
from pass 1 (reference: summary_algorithms.py:584-591, minus its int-cast bug).
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame, functions as F

from pandas_profiling_personal_spark.config import ProfileConfig
from pandas_profiling_personal_spark.functions import stats as S
from pandas_profiling_personal_spark.types import (
    VariableType as VT,
    is_float_type,
    variable_types,
)

#: stats whose values are timestamps/dates rather than numbers
_DATETIME_STATS = {"min", "max"}

#: Pass-1 batching (VERDICT r14 #3, guide §2.6): a single declarative
#: aggregate with many hundreds of fragments cannot WholeStageCodegen
#: (above spark.sql.codegen.maxFields) and its per-row interpreted update
#: cost degrades superlinearly with operator width — measured on the
#: sf0.1 wide100 frame (651 fragments, 32 cores, interleaved min-of-5):
#: one action 5.17 s; the same fragments as 4 sequential batches 2.91 s;
#: 4 batches from a driver thread pool 0.93 s; with codegen.maxFields=320
#: so each ~163-fragment batch codegens, 0.80 s (6.5x). Above this
#: fragment count the aggregate splits into _WIDE_AGG_BATCHES near-equal
#: batches submitted concurrently (FIFO scheduling back-fills each job's
#: task tail — guide §2.6); the batch count is FIXED, so the profile's
#: job count stays O(1) in column count (the invariant
#: test_wide_profile_constant_job_count pins). Batching requires a
#: persisted input: each batch is a separate action, and an uncached
#: lineage would recompute once per batch (profile() persists by
#: default; unpersisted callers keep the single-action shape).
_WIDE_AGG_FIELD_CAP = 320  # = session codegen.maxFields
_WIDE_AGG_BATCHES = 4


def _agg_batches(df: DataFrame, frags: "list[str]") -> "list[list[str]]":
    from pyspark import StorageLevel

    if (
        len(frags) <= _WIDE_AGG_FIELD_CAP
        or df.storageLevel == StorageLevel.NONE
    ):
        return [frags]
    nb = _WIDE_AGG_BATCHES
    size = (len(frags) + nb - 1) // nb
    return [frags[i : i + size] for i in range(0, len(frags), size)]


def _collect_agg_groups(
    df: DataFrame, groups: "list[list[str]]"
) -> "dict[str, Any]":
    """Collect each fragment group's one-row aggregate; >1 group runs from
    a small thread pool (independent jobs over the same persisted input —
    concurrent actions are safe, and the BlockManager's per-block write
    lock means racing jobs do not duplicate cache materialization)."""
    row: "dict[str, Any]" = {}
    if len(groups) == 1:
        return df.selectExpr(*groups[0]).collect()[0].asDict()
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def run(fs: "list[str]") -> "dict[str, Any]":
        return df.selectExpr(*fs).collect()[0].asDict()

    # job group, description, cancel flag and tags are thread-local: the
    # pool threads take the caller's, so the batch jobs stay attributable
    # and cancelJobGroup reaches them. Wrapped once per task: the wrapper
    # copies the properties once, and each concurrent query writes its own
    # SQL execution id into them, so tasks must not share one copy.
    with ThreadPoolExecutor(max_workers=len(groups)) as ex:
        futs = [
            ex.submit(inheritable_thread_target(df.sparkSession)(run), fs)
            for fs in groups
        ]
        for f in futs:
            row.update(f.result())
    return row


def _sq(name: str) -> str:
    """SQL identifier quoting tolerant of dots/spaces/backticks — the SQL-text
    twin of :func:`stats.col` (equivalence asserted in
    tests/test_plan_quality.py::test_scalar_summary_sql_matches_column_builders)."""
    return "`" + name.replace("`", "``") + "`"


def scalar_summary(
    df: DataFrame,
    config: ProfileConfig | None = None,
    types: dict[str, VT] | None = None,
    extra_exprs: "dict[str, Any] | None" = None,
) -> dict[str, dict[str, Any]] | tuple[dict[str, dict[str, Any]], dict[str, Any]]:
    """All scalar per-column stats in one aggregation pass (+1 for MAD).

    Returns ``{column: {stat: value, ...}, ..., "__table__": {...}}`` — and,
    when ``extra_exprs`` (alias -> aggregate SQL fragment string, or a Column
    for legacy callers) is given, a second dict of those results: the caller
    can fold e.g. the whole Pearson pair list into the SAME pass, keeping the
    profile at one scan for all scalar statistics.

    The aggregate is BUILT as SQL fragment strings applied with
    ``df.selectExpr(*frags)`` rather than per-stat Column objects: a
    100-column profile needs ~1100 aggregate expressions, and building them
    through the Python Column API costs ~6 Py4J round-trips each — a measured
    4.2 s of pure driver time per profile call (the same lesson as the LSH
    literal plan-build, PERFORMANCE.md). selectExpr parses them in one Py4J
    call, yields the identical analyzed plan, and — unlike
    ``spark.sql("... FROM {df}")`` — keeps the DataFrame lineage so the
    profile's persisted input actually caches (CacheManager does not match
    the {df}-substituted plan; measured +3.2 s on EVERY later pass).
    """
    config = config or ProfileConfig()
    types = types or variable_types(df)
    float_cols = {
        f.name for f in df.schema.fields if is_float_type(f.dataType)
    }
    rsd = 0.05  # stats.n_distinct default; <0.04 blows up HLL sketch size

    frags = ["count(1) AS __n"]
    # percentile/percentile_approx are TypedImperativeAggregates: mixing them
    # with declarative aggregates forces the whole ObjectHashAggregate to
    # interpreted evaluation (~2x wall-clock). They run as a second aggregation
    # over the (persisted) input instead.
    pct_frags: list[str] = []
    # approx_count_distinct (HLL++) is an ImperativeAggregate with the same
    # mixing disease (r14 measurement on the 100-col frame at sf0.1:
    # declarative-only 1.6 s + HLL-only 3.6 s run separately vs 7.5 s
    # combined — the combined operator pays ~30% on top of the parts, and
    # the HLLs drag every declarative update to interpreted dispatch). In
    # the approx tier they ride the SKETCH aggregation shared with the
    # percentile sketches (imperative families mix without penalty:
    # combined 2.6 s vs 3.7 s as two actions) — bit-identical results,
    # job count CONSTANT in column count, one less full pass at scale.
    # The exact tier keeps count(DISTINCT) in the main agg (declarative
    # expand plan, oracle-tier shape untouched).
    hll_frags: list[str] = []
    qlist = "array(" + ", ".join(repr(float(q)) for q in config.quantiles) + ")"
    acc = max(1, int(round(1.0 / max(config.quantile_relative_error, 1e-6))))
    for i, (name, vt) in enumerate(types.items()):
        q = _sq(name)
        p = f"c{i}"
        frags.append(f"count({q}) AS {p}__count")
        if vt in (VT.ARRAY, VT.MAP, VT.STRUCT):
            # maps/structs aren't hashable by approx_count_distinct; profile opaquely
            # via their string form (reference converts maps to array(keys, values)
            # before grouping — dataframe_wrappers.py:520-531; casting is simpler
            # and equally distributed)
            (frags if config.exact else hll_frags).append(
                f"approx_count_distinct(cast({q} as string), {rsd}) AS {p}__approx_distinct"
            )
            continue
        if config.exact:
            frags.append(f"count(DISTINCT {q}) AS {p}__n_distinct")
        else:
            hll_frags.append(
                f"approx_count_distinct({q}, {rsd}) AS {p}__n_distinct"
            )
        if vt is VT.NUMERIC:
            # std/variance/skew/kurt deliberately absent here: Spark's
            # CentralMomentAgg update code degrades ~quadratically with the
            # number of such aggregates in one operator (measured at sf0.1/4:
            # 90 columns of skew+kurt = 44 s warm vs 2 s for the equivalent
            # shifted power sums below), which is the one cliff that breaks
            # the wide-agg thesis at 100+ columns. They are reconstructed
            # from pass 1c's mean-shifted power sums instead.
            frags += [
                f"avg({q}) AS {p}__mean",
                f"min({q}) AS {p}__min",
                f"max({q}) AS {p}__max",
                f"sum({q}) AS {p}__sum",
                f"coalesce(sum(CASE WHEN {q} = 0 THEN 1 ELSE 0 END), 0) AS {p}__n_zeros",
                f"coalesce(sum(CASE WHEN {q} < 0 THEN 1 ELSE 0 END), 0) AS {p}__n_negative",
            ]
            if name in float_cols:
                frags += [
                    f"coalesce(sum(CASE WHEN {q} = double('Infinity') THEN 1 "
                    f"WHEN {q} = double('-Infinity') THEN 1 ELSE 0 END), 0) AS {p}__n_infinite",
                    f"coalesce(sum(CASE WHEN isnan({q}) THEN 1 ELSE 0 END), 0) AS {p}__n_nan",
                ]
            if config.exact:
                arr = f"percentile({q}, {qlist})"
            else:
                arr = f"cast(percentile_approx({q}, {qlist}, {acc}) as array<double>)"
            for j, qq in enumerate(config.quantiles):
                pct_frags.append(f"{arr}[{j}] AS {p}__q_{_qkey(qq)}")
        elif vt is VT.BOOLEAN:
            frags.append(f"coalesce(sum(cast({q} as int)), 0) AS {p}__n_true")
        elif vt is VT.DATETIME:
            frags += [
                f"min({q}) AS {p}__min",
                f"max({q}) AS {p}__max",
                # epoch-seconds bounds for the date histogram (A16) — avoids
                # driver-side timezone round-trips
                f"min(cast(unix_micros(cast({q} as timestamp)) as double) / 1e6) AS {p}__min_epoch",
                f"max(cast(unix_micros(cast({q} as timestamp)) as double) / 1e6) AS {p}__max_epoch",
            ]
        elif vt is VT.CATEGORICAL:
            frags.append(
                f"coalesce(sum(CASE WHEN {q} = '' THEN 1 ELSE 0 END), 0) AS {p}__n_empty"
            )
            if config.length_stats:
                frags += [
                    f"min(length({q})) AS {p}__min_length",
                    f"avg(length({q})) AS {p}__mean_length",
                    f"max(length({q})) AS {p}__max_length",
                ]

    extra = dict(extra_exprs or {})
    extra_cols = []  # legacy Column extras ride a Column-built agg
    for k, e in extra.items():
        if isinstance(e, str):
            # imperative extras (the FD-rider pair HLLs) ride the HLL
            # action for the same mixing reason as the per-column sketches
            target = (
                hll_frags if "approx_count_distinct(" in e else frags
            )
            target.append(f"({e}) AS __x_{k}")
        else:
            extra_cols.append(e.alias(f"__x_{k}"))
    # selectExpr, NOT spark.sql("... FROM {df}"): the {df} substitution
    # produces a plan the CacheManager does not match against the persisted
    # frame, so the cache never materializes and EVERY pass of the profile
    # recomputes the input from source — measured as a flat +3.2 s on every
    # later action of a wide profile (CI-pinned in
    # test_plan_quality.py::test_scalar_summary_hits_cache). selectExpr
    # parses the same fragments in ONE Py4J call but keeps the DataFrame
    # lineage, so both the cheap build and the cache hit hold.
    # ONE shared sketch action for the imperative families: HLL distinct
    # sketches and percentile sketches mix without penalty (r14 measured
    # on the 100-col frame: combined 2.6 s vs 3.7 s as two actions) and
    # sharing the action saves a full table pass at 100 TB scale
    sketch_frags = hll_frags + pct_frags
    # approx tier, very wide tables: split the declarative aggregate into
    # a fixed number of concurrent batches (see _WIDE_AGG_BATCHES above).
    # The exact tier keeps the single action — its count(DISTINCT) Expand
    # is the oracle-tier shape, deliberately untouched.
    groups = _agg_batches(df, frags) if not config.exact else [frags]
    sketch_groups = _agg_batches(df, sketch_frags) if sketch_frags else []
    if len(groups) > 1 or len(sketch_groups) > 1:
        # the sketch action is independent of the declarative batches —
        # it joins the same pool instead of serializing after them, and
        # very wide sketch lists split the same way, also when the
        # declarative list alone stays under the cap (the one-operator
        # imperative update cost degrades with width exactly like the
        # declarative agg: wide100 sketch action 4.2 s as one job,
        # 1.9-2.1 s as 4 concurrent batches)
        row = _collect_agg_groups(df, groups + sketch_groups)
    else:
        row = _collect_agg_groups(df, groups)
        for fs in sketch_groups:
            row.update(df.selectExpr(*fs).collect()[0].asDict())
    if extra_cols:
        row.update(df.agg(*extra_cols).collect()[0].asDict())
    _moment_pass(df, types, row)
    n = row.pop("__n")
    extras = {k: row.pop(f"__x_{k}") for k in extra}

    out: dict[str, dict[str, Any]] = {"__table__": {"n": n, "n_var": len(types)}}
    for i, (name, vt) in enumerate(types.items()):
        p = f"c{i}"
        stats = {
            k[len(p) + 2 :]: v for k, v in row.items() if k.startswith(p + "__")
        }
        stats["type"] = vt
        stats["n"] = n
        stats["n_missing"] = n - stats["count"]
        stats["p_missing"] = stats["n_missing"] / n if n else 0.0
        _derive(stats, vt, n)
        out[name] = stats
    if extra_exprs is not None:
        return out, extras
    return out


def _moment_pass(
    df: DataFrame, types: "dict[str, VT]", row: "dict[str, Any]"
) -> None:
    """Pass 1c: fill ``{p}__std/__variance/__g1/__g2`` for numeric columns
    from ONE aggregation of mean-shifted power sums Σ(x-m̄)^k, k=1..4.

    Spark's stddev/variance/skewness/kurtosis are CentralMomentAgg
    expressions whose generated update path scales ~quadratically with the
    count of such aggregates in a single operator — a 90-numeric-column
    pass 1 spent 44 s in them where the equivalent four plain ``F.sum``
    power sums take 2 s. Shifting by the exact pass-1a mean keeps the sums
    cancellation-free, so the driver-side reconstruction matches Spark's
    own estimators to ~1e-14 (unit-asserted), far inside oracle rounding.
    Runs as its own declarative action over the (persisted) input — mixing
    it into the percentile action would push that ObjectHashAggregate to
    interpreted mode (see pass-1 comment)."""
    mexprs = []
    targets: "list[tuple[str, str]]" = []  # (prefix, name) needing sums
    for i, (name, vt) in enumerate(types.items()):
        if vt is not VT.NUMERIC:
            continue
        p = f"c{i}"
        mean = row.get(f"{p}__mean")
        if mean is None:
            for k in ("std", "variance", "g1", "g2"):
                row[f"{p}__{k}"] = None
            continue
        mean = float(mean)
        if math.isnan(mean) or math.isinf(mean):
            # NaN/inf contaminate every moment, exactly as Spark's own
            # estimators would report
            for k in ("std", "variance", "g1", "g2"):
                row[f"{p}__{k}"] = float("nan")
            continue
        # SQL-text build for the same Py4J-chatter reason as pass 1a; repr()
        # round-trips the mean literal bit-exactly
        d = f"(cast({_sq(name)} as double) - ({mean!r}))"
        mexprs += [
            f"sum({d}) AS {p}__ms1",
            f"sum({d} * {d}) AS {p}__ms2",
            f"sum({d} * {d} * {d}) AS {p}__ms3",
            f"sum({d} * {d} * {d} * {d}) AS {p}__ms4",
        ]
        targets.append((p, name))
    if not mexprs:
        return
    # selectExpr keeps the cache-hitting lineage (see scalar_summary);
    # very wide tables batch the power sums exactly like pass 1a (4 sums
    # per numeric column crosses the codegen cap at ~80 numerics)
    mrow = _collect_agg_groups(df, _agg_batches(df, mexprs))
    for p, name in targets:
        cnt = row[f"{p}__count"]
        s1 = float(mrow[f"{p}__ms1"])
        s2 = float(mrow[f"{p}__ms2"])
        s3 = float(mrow[f"{p}__ms3"])
        s4 = float(mrow[f"{p}__ms4"])
        md = s1 / cnt
        # exact central moments via the shift identities (s is the pass-1a
        # mean, md its residual fp error — usually ~1e-16 relative)
        mu2 = max(0.0, s2 / cnt - md * md)
        mu3 = s3 / cnt - 3 * md * (s2 / cnt) + 2 * md**3
        mu4 = s4 / cnt - 4 * md * (s3 / cnt) + 6 * md * md * (s2 / cnt) - 3 * md**4
        if cnt > 1:
            variance = max(0.0, (s2 - cnt * md * md) / (cnt - 1))
            std = math.sqrt(variance)
        else:
            # sample estimators are undefined at n=1; Spark reports NaN
            variance = std = float("nan")
        if math.isnan(mu2) or mu2 <= 0.0:
            g1 = g2 = float("nan")  # zero-variance column: 0/0, as Spark
        else:
            g1 = mu3 / mu2**1.5
            g2 = mu4 / (mu2 * mu2) - 3.0
        row[f"{p}__std"] = std
        row[f"{p}__variance"] = variance
        row[f"{p}__g1"] = g1
        row[f"{p}__g2"] = g2


def mad_summary(
    df: DataFrame,
    medians: dict[str, float],
    config: ProfileConfig | None = None,
    extra_exprs: "dict[str, Any] | None" = None,
) -> dict[str, float | None] | tuple[dict[str, float | None], dict[str, Any]]:
    """Median absolute deviation for numeric columns, one aggregation pass.

    Needs the per-column median from :func:`scalar_summary`. The reference computes
    approxQuantile(0.5) of ``abs(col - median)`` but first casts the column to int —
    a bug we do not reproduce (reference: summary_algorithms.py:584-591).

    ``extra_exprs`` (alias -> aggregate Column) piggybacks additional aggregates
    (e.g. nullity correlations for the columns pass 1 found nulls in) on the same
    scan; their values come back in a second dict."""
    config = config or ProfileConfig()
    exprs = []
    names = []
    for i, (name, med) in enumerate(medians.items()):
        if med is None or (isinstance(med, float) and math.isnan(med)):
            continue
        c = F.abs(S.col(name) - F.lit(float(med)))
        exprs.append(
            S.quantile(c, 0.5, config.exact, config.quantile_relative_error).alias(
                f"c{i}__mad"
            )
        )
        names.append((f"c{i}__mad", name))
    extra = dict(extra_exprs or {})
    extra_aliased = [e.alias(f"__x_{k}") for k, e in extra.items()]
    if not exprs and not extra_aliased:
        return ({}, {}) if extra_exprs is not None else {}
    # run percentile (typed-imperative) and declarative extras as separate
    # aggregations — mixing them de-optimizes the whole aggregate (see pass 1)
    row: dict = {}
    if exprs:
        row.update(df.agg(*exprs).collect()[0].asDict())
    if extra_aliased:
        row.update(df.agg(*extra_aliased).collect()[0].asDict())
    mads = {name: row[alias] for alias, name in names}
    if extra_exprs is not None:
        return mads, {k: row[f"__x_{k}"] for k in extra}
    return mads


def _qkey(q: float) -> str:
    return str(q).replace(".", "_")


def _derive(stats: dict[str, Any], vt: VT, n: int) -> None:
    """Driver-side derived scalars (reference: summary_algorithms.py:246-256)."""
    cnt = stats["count"]
    if vt is VT.NUMERIC:
        # bias-corrected (sample) skew/kurt from the population estimators,
        # same arithmetic as functions/stats.skewness_sample/kurtosis_sample
        g1, g2 = stats.pop("g1", None), stats.pop("g2", None)
        nn = float(cnt)
        stats["skewness"] = (
            g1 * math.sqrt(nn * (nn - 1)) / (nn - 2)
            if g1 is not None and cnt > 2
            else None
        )
        stats["kurtosis"] = (
            (nn - 1) / ((nn - 2) * (nn - 3)) * ((nn + 1) * g2 + 6)
            if g2 is not None and cnt > 3
            else None
        )
        mn, mx = stats.get("min"), stats.get("max")
        if mn is not None and mx is not None:
            stats["range"] = mx - mn
        q25 = stats.get("q_0_25")
        q75 = stats.get("q_0_75")
        if q25 is not None and q75 is not None:
            stats["iqr"] = q75 - q25
        stats["median"] = stats.get("q_0_5")
        mean = stats.get("mean")
        std = stats.get("std")
        stats["cv"] = (std / mean) if (mean not in (None, 0) and std is not None) else None
        stats["p_zeros"] = stats["n_zeros"] / cnt if cnt else 0.0
        if "n_infinite" in stats:
            stats["p_infinite"] = stats["n_infinite"] / cnt if cnt else 0.0
        stats["p_negative"] = stats["n_negative"] / cnt if cnt else 0.0
        # reference: no row order on Spark => monotonicity unsupported
        # (summary_algorithms.py:600-606); we report None, not a fake False
        stats["monotonic"] = None
    elif vt is VT.BOOLEAN:
        stats["n_false"] = cnt - stats["n_true"] if cnt else 0
        stats["p_true"] = stats["n_true"] / cnt if cnt else None
    elif vt is VT.DATETIME:
        mn, mx = stats.get("min"), stats.get("max")
        if mn is not None and mx is not None:
            stats["range"] = mx - mn
    if "n_distinct" in stats:
        stats["p_distinct"] = stats["n_distinct"] / cnt if cnt else None
        stats["is_unique_approx"] = stats["n_distinct"] == cnt if cnt else None


def grouped_summary(
    df: DataFrame,
    group_col: str,
    columns: list[str],
    round_to: int = 4,
) -> DataFrame:
    """Segment-wise numeric summaries — per-(group, column) count / nulls /
    mean / std / min / max / sum in ONE melt + ONE groupBy exchange, however
    many columns are profiled.

    The per-segment view a corpus pipeline reads daily (stats per language /
    source / shard); the reference profiles one frame globally and has no
    group-by surface at all. The melt emits one (group, column, value) row
    per cell of the selected columns; the aggregation is combine-friendly,
    so the exchange carries |groups| x |columns| partial rows per map task —
    never the data. Values round to ``round_to`` (the parity convention:
    absorbs partition-order float drift so any engine reproduces the
    result bit-for-bit).
    """
    if not columns:
        raise ValueError("columns must name at least one column")
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            S.col(c).cast("double").alias("v"),
        )
        for c in columns
    ]
    melted = df.select(
        S.col(group_col).alias("group"),
        F.explode(F.array(*structs)).alias("kv"),
    ).select("group", "kv.column", "kv.v")
    return (
        melted.groupBy("group", "column")
        .agg(
            F.count("v").alias("count"),
            (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
            F.round(F.avg("v"), round_to).alias("mean"),
            F.round(F.stddev_samp("v"), round_to).alias("std"),
            F.round(F.min("v"), round_to).alias("min"),
            F.round(F.max("v"), round_to).alias("max"),
            F.round(F.sum("v"), round_to).alias("sum"),
        )
        .orderBy("group", "column")
    )
