"""Frequency tables, distinct/unique counts, top-K values.

The reference runs ``dropna.groupBy(col).count()`` + ``orderBy.limit(250).toPandas()``
once per column (reference: series_wrappers.py:104-131, summary_algorithms.py:449-480)
— N shuffles for N columns. This engine *melts* all requested columns into
``(column, value)`` pairs with one ``explode`` and aggregates them in ONE shuffle:
map-side partial aggregation compresses each partition to its distinct values before
the exchange, so the explode factor never hits the wire. Per-column helpers are also
provided for single-column use.

The profile's pass 2 (:func:`frequency_summary`) is one linear plan of three
exchanges: the ``(column, value)`` counts, one salted ``(column, __salt)``
window phase and one ``(column)`` window phase, which rank the top-K and both
extreme ends side by side (:func:`_topk_extremes_linear`).

Unique-value semantics: ``n_unique`` = number of values occurring exactly once —
the reference's Spark backend gets this wrong (``dropDuplicates().count()``, which
is just distinct count; reference: series_wrappers.py:170-171). We implement the
documented pandas semantics (summary_algorithms.py:93-94).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pandas_profiling_personal_spark.functions import stats as S


def melt(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long form ``(column, value)`` with values cast to string, nulls dropped.

    One narrow projection + explode; no shuffle by itself.

    ``columns=None`` melts every column; an explicit ``[]`` yields an EMPTY
    result (never a silent all-columns fallback — the near-unique gate made
    "gate everything -> [] -> full-table melt" a reachable bug)."""
    columns = df.columns if columns is None else columns
    if not columns:
        return df.sparkSession.createDataFrame(
            [], "column string, value string"
        )
    structs = [
        F.struct(
            F.lit(c).alias("column"), S.col(c).cast("string").alias("value")
        )
        for c in columns
    ]
    return (
        df.select(F.explode(F.array(*structs)).alias("kv"))
        .select("kv.column", "kv.value")
        .where(F.col("value").isNotNull())
    )


def value_counts(df: DataFrame, column: str) -> DataFrame:
    """Per-column frequency table (NaN/null excluded), native value type.

    reference: series_wrappers.py:104-131."""
    c = S.col(column)
    return df.where(c.isNotNull()).groupBy(c.alias("value")).agg(
        F.count(F.lit(1)).alias("count")
    )


def value_counts_all(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Frequency tables for ALL columns in one shuffle: (column, value, count)."""
    return melt(df, columns).groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("count")
    )


def distinct_unique_counts(
    df: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Exact ``(column, n_distinct, n_unique)`` for all columns in one shuffle."""
    vc = value_counts_all(df, columns)
    return vc.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.coalesce(
            F.sum(F.when(F.col("count") == 1, 1).otherwise(0)), F.lit(0)
        ).alias("n_unique"),
    )


def top_k_counts(vc: DataFrame, k: int, salt_buckets: int = 64) -> DataFrame:
    """Top-K rows of a (column, value, count) frequency table per column, with a
    deterministic tie-break (count desc, value asc).

    Two-phase to avoid the single-partition sort a plain
    ``Window.partitionBy(column)`` would do for a high-cardinality column: first
    top-K within (column, salt) — ``salt_buckets``-way parallel — then top-K of the
    ≤ k*salt_buckets survivors per column."""
    salted = Window.partitionBy("column", "__salt").orderBy(
        F.desc("count"), F.asc("value")
    )
    final = Window.partitionBy("column").orderBy(F.desc("count"), F.asc("value"))
    return (
        vc.withColumn("__salt", F.abs(F.hash("value")) % salt_buckets)
        .withColumn("__r1", F.row_number().over(salted))
        .where(F.col("__r1") <= k)
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= k)
        .drop("__salt", "__r1")
    )


def top_k_all(
    df: DataFrame, k: int, columns: list[str] | None = None
) -> DataFrame:
    """Top-K most frequent values per column (column, value, count, rank).

    One shuffle for the counts + the salted two-phase top-K (reference transfers
    top-250 per column — K1, summary_algorithms.py:462-468)."""
    return top_k_counts(value_counts_all(df, columns), k)


def top_k_with_totals(vc: DataFrame, k: int, salt_buckets: int = 64) -> DataFrame:
    """:func:`top_k_counts` plus exact per-column ``n_distinct``/``n_unique``
    riding the SAME two shuffles — no separate groupBy job.

    Phase 1 computes, per (column, salt) group, partial distinct/unique totals
    as unbounded window aggregates over the same partitioning the ranking
    window already shuffled by; phase 2 sums the partials of each group's
    rank-1 survivor (every non-empty salt group keeps its rank-1 row for any
    k ≥ 1, so the sum over survivors is the exact column total)."""
    salted = Window.partitionBy("column", "__salt").orderBy(
        F.desc("count"), F.asc("value")
    )
    salted_all = Window.partitionBy("column", "__salt")
    final = Window.partitionBy("column").orderBy(F.desc("count"), F.asc("value"))
    final_all = Window.partitionBy("column")
    return (
        vc.withColumn("__salt", F.abs(F.hash("value")) % salt_buckets)
        .withColumn("__r1", F.row_number().over(salted))
        .withColumn("__pd", F.count(F.lit(1)).over(salted_all))
        .withColumn(
            "__pu",
            F.sum(F.when(F.col("count") == 1, 1).otherwise(0)).over(salted_all),
        )
        .where(F.col("__r1") <= k)
        .withColumn("rank", F.row_number().over(final))
        .withColumn(
            "n_distinct",
            F.sum(F.when(F.col("__r1") == 1, F.col("__pd"))).over(final_all),
        )
        .withColumn(
            "n_unique",
            F.coalesce(
                F.sum(F.when(F.col("__r1") == 1, F.col("__pu"))).over(final_all),
                F.lit(0),
            ),
        )
        .where(F.col("rank") <= k)
        .drop("__salt", "__r1", "__pd", "__pu")
    )


def extreme_counts(
    vc: DataFrame, n: int, numeric_columns: list[str], salt_buckets: int = 64
) -> DataFrame:
    """Bottom-N / top-N values *by value* per column from a (column, value, count)
    frequency table (K5 — reference: frequency_table_utils.py:82-117 slices the
    sorted value_counts index).

    ``numeric_columns`` are ranked on ``cast(value as double)``; everything else
    ranks lexically (ISO dates/timestamps sort chronologically as strings). NaN
    is excluded from numeric ranking — Spark sorts NaN above every finite, so it
    would otherwise surface as the rank-1 "max"; the reference computes extremes
    from value_counts_without_nan. Same salted two-phase shape as
    :func:`top_k_counts` so no column ever funnels its whole frequency table
    through one partition. Output: (column, value, count, end ∈ {'min','max'},
    rank)."""
    num_set = set(numeric_columns)
    if num_set:
        # values are strings post-melt; try_cast is NaN for 'NaN' and null for
        # non-numeric strings (isnan(null) -> false, so other columns pass)
        vc = vc.where(
            ~(
                F.col("column").isin(*num_set)
                & F.coalesce(
                    F.isnan(F.col("value").try_cast("double")), F.lit(False)
                )
            )
        )
    sort_key = F.when(
        F.col("column").isin(*num_set) if num_set else F.lit(False),
        F.col("value").cast("double"),
    )
    ranked = vc.withColumn("__num", sort_key).withColumn(
        "__salt", F.abs(F.hash("value")) % salt_buckets
    )
    # BOTH ends from ONE ascending pass per phase: over a total order the
    # descending rank is cnt - rn + 1, so the min-end (rn <= n) and max-end
    # (rn > cnt - n) survivors come out of a single window shuffle — this
    # halves the salted window passes over the (potentially huge) frequency
    # table. Null-ordering note: within one column partition __num is either
    # uniformly null (lexical ranking) or uniformly non-null (numeric), so
    # asc-nulls-first vs desc-nulls-last never reorders across the null
    # boundary and the reversal identity is exact.
    order = [F.asc("__num"), F.asc("value")]
    salted_w = Window.partitionBy("column", "__salt").orderBy(*order)
    salted_all = Window.partitionBy("column", "__salt")
    phase1 = (
        ranked.withColumn("__r1", F.row_number().over(salted_w))
        .withColumn("__c1", F.count(F.lit(1)).over(salted_all))
        .where((F.col("__r1") <= n) | (F.col("__r1") > F.col("__c1") - n))
    )
    final_w = Window.partitionBy("column").orderBy(*order)
    final_all = Window.partitionBy("column")
    both = phase1.withColumn("__r2", F.row_number().over(final_w)).withColumn(
        "__c2", F.count(F.lit(1)).over(final_all)
    )
    mins = both.where(F.col("__r2") <= n).select(
        "column", "value", "count", F.lit("min").alias("end"),
        F.col("__r2").alias("rank"),
    )
    maxs = both.where(F.col("__r2") > F.col("__c2") - n).select(
        "column", "value", "count", F.lit("max").alias("end"),
        (F.col("__c2") - F.col("__r2") + 1).alias("rank"),
    )
    return mins.unionByName(maxs)


def _topk_extremes_linear(
    vc: DataFrame,
    k: int,
    n: int,
    numeric_cols: list[str],
    ext_cols: list[str],
    salt_buckets: int = 64,
) -> DataFrame:
    """:func:`top_k_with_totals` and :func:`extreme_counts` as ONE linear
    plan without branches: after the ``(column, value)`` count exchange
    come one salted ``(column, __salt)`` exchange and one ``(column)``
    exchange, three shuffles in all whatever ``spark.sql.exchange.reuse``
    says (plan-gated in
    test_plan_quality.py::test_pass2_one_linear_exchange_chain).

    Each phase stacks two Window operators on the SAME partitioning, so
    the second costs a sort and no exchange: ``count desc, value asc`` for
    the top-K plus the distinct/unique totals, and value order for the
    extremes. Rows that may not rank as extremes (a column outside
    ``ext_cols``, NaN in a numeric column) sort after every rankable row,
    so the rankable rows take ranks ``1..c_ok`` exactly as after
    :func:`extreme_counts`' pre-filter, and the max end is the reversal
    ``c_ok - r + 1`` of the same ascending pass.

    Phase 1 keeps the rows inside any of the three bounds of their salt
    group. A row's rank in its group never exceeds its rank in the column,
    so the survivors hold every true top-K and extreme row, and every row
    ranked above a kept row is kept too: the phase-2 ranks over the
    survivors are exact for the rows emitted (pinned against the two-job
    reference in test_semantics.py::test_fused_pass2_matches_two_job_path
    and its Hypothesis twin).

    Output: ``(column, value, count, rank, n_distinct, n_unique, min_rank,
    max_rank)`` for the rows inside any bound; a rank is null outside its
    bound, and every row carries its column's exact totals.
    """
    ext_set = set(ext_cols) if n > 0 else set()
    whole = (Window.unboundedPreceding, Window.unboundedFollowing)
    s = vc.withColumn("__salt", F.pmod(F.hash("value"), F.lit(salt_buckets)))
    if ext_set:
        num_set = set(numeric_cols)
        as_double = F.col("value").try_cast("double")
        in_num = F.col("column").isin(*num_set) if num_set else F.lit(False)
        s = s.withColumn("__num", F.when(in_num, as_double)).withColumn(
            "__ok",
            F.col("column").isin(*ext_set)
            & ~(in_num & F.coalesce(F.isnan(as_double), F.lit(False))),
        )

    def ranks(part: list[str], r: str, e: str, c: str):
        """Top-order row number ``r`` and, with extremes, value-order row
        number ``e`` and rankable-row count ``c`` over ``part``. Every
        whole-partition aggregate shares its ranking spec, so one select
        plans one Window operator (one sort) per order."""
        top = Window.partitionBy(*part).orderBy(
            F.desc("count"), F.asc("value")
        )
        cols = [F.row_number().over(top).alias(r)]
        if ext_set:
            ext = Window.partitionBy(*part).orderBy(
                F.desc("__ok"), F.asc("__num"), F.asc("value")
            )
            cols += [
                F.row_number().over(ext).alias(e),
                F.sum(F.col("__ok").cast("int"))
                .over(ext.rowsBetween(*whole))
                .alias(c),
            ]
        return top.rowsBetween(*whole), cols

    # phase 1: per (column, salt) group, with partial distinct/unique totals
    top_all, cols = ranks(["column", "__salt"], "__r1", "__e1", "__c1")
    s = s.select(
        "*",
        *cols,
        F.count(F.lit(1)).over(top_all).alias("__pd"),
        F.sum((F.col("count") == 1).cast("int")).over(top_all).alias("__pu"),
    )
    keep = F.col("__r1") <= k
    if ext_set:
        keep = keep | (
            F.col("__ok")
            & ((F.col("__e1") <= n) | (F.col("__e1") > F.col("__c1") - n))
        )
    # phase 2: per column over the survivors. Every non-empty salt group
    # keeps its top-order rank-1 row (k >= 1), so summing those rows'
    # partials gives the exact column totals.
    top_all, cols = ranks(["column"], "__r2", "__e2", "__c2")
    first = F.col("__r1") == 1
    s = s.where(keep).select(
        "*",
        *cols,
        F.sum(F.when(first, F.col("__pd"))).over(top_all).alias("n_distinct"),
        F.coalesce(
            F.sum(F.when(first, F.col("__pu"))).over(top_all), F.lit(0)
        ).alias("n_unique"),
    )
    rank = F.when(F.col("__r2") <= k, F.col("__r2"))
    if ext_set:
        min_rank = F.when(F.col("__ok") & (F.col("__e2") <= n), F.col("__e2"))
        max_rank = F.when(
            F.col("__ok") & (F.col("__e2") > F.col("__c2") - n),
            (F.col("__c2") - F.col("__e2") + 1).cast("int"),
        )
    else:
        min_rank = max_rank = F.lit(None).cast("int")
    return s.select(
        "column", "value", "count", rank.alias("rank"), "n_distinct",
        "n_unique", min_rank.alias("min_rank"), max_rank.alias("max_rank"),
    ).where(
        F.col("rank").isNotNull()
        | F.col("min_rank").isNotNull()
        | F.col("max_rank").isNotNull()
    )


def _by_rank(
    ranked: list[tuple[int, tuple[str, int]]],
) -> list[tuple[str, int]]:
    return [pair for _, pair in sorted(ranked, key=lambda t: t[0])]


def frequency_summary(
    df: DataFrame,
    columns: list[str] | None = None,
    k: int = 10,
    n_extreme: int = 0,
    extreme_numeric: list[str] | None = None,
    extreme_cols: list[str] | None = None,
) -> tuple[
    dict[str, dict],
    dict[str, list[tuple[str, int]]],
    dict[str, dict[str, list[tuple[str, int]]]],
]:
    """Driver-side convenience: per column, exact ``n_distinct``/``n_unique``,
    the top-K value list, and (when ``n_extreme`` > 0) the bottom/top-``n_extreme``
    values by magnitude — all off ONE raw-table scan, in ONE action whose
    plan is a single chain of three exchanges: the melted ``(column,
    value)`` counts, the salted ``(column, __salt)`` phase and the
    ``(column)`` phase (:func:`_topk_extremes_linear`). The frequency
    table is shuffled once, with no branch that would need exchange reuse
    or a persist to avoid recomputing it.

    ``extreme_cols`` semantics: ``None`` means rank every column; an empty list
    means the caller has no rankable (numeric/datetime) columns, so no
    extreme ranking runs at all rather than ranking every categorical
    column and discarding the result.

    Returns ``({column: {n_distinct, n_unique}},
    {column: [(value, count), ...]},
    {column: {'min': [(value, count), ...], 'max': [...]}})``.
    """
    columns = df.columns if columns is None else columns
    ext_cols = columns if extreme_cols is None else extreme_cols
    rows = _topk_extremes_linear(
        value_counts_all(df, columns), k, n_extreme, extreme_numeric or [],
        ext_cols,
    ).collect()
    scalars: dict[str, dict] = {
        c: {"n_distinct": 0, "n_unique": 0} for c in columns
    }
    ranked_tops: dict[str, list] = {c: [] for c in columns}
    ranked_ext: dict[str, dict[str, list]] = {}
    for r in sorted(rows, key=lambda r: r["column"]):
        c, pair = r["column"], (r["value"], r["count"])
        if r["rank"] is not None:
            ranked_tops[c].append((r["rank"], pair))
            scalars[c] = {
                "n_distinct": r["n_distinct"],
                "n_unique": r["n_unique"],
            }
        for end in ("min", "max"):
            if r[end + "_rank"] is not None:
                ranked_ext.setdefault(c, {"min": [], "max": []})[end].append(
                    (r[end + "_rank"], pair)
                )
    tops = {c: _by_rank(ranked) for c, ranked in ranked_tops.items()}
    extremes = {
        c: {end: _by_rank(ranked) for end, ranked in ends.items()}
        for c, ends in ranked_ext.items()
    }
    return scalars, tops, extremes


def grouped_top_k(
    df: DataFrame,
    group_col: str,
    columns: list[str],
    k: int = 5,
    salt_buckets: int = 64,
) -> DataFrame:
    """Top-K frequent values per (group, column) — the segment twin of
    :func:`top_k_all`: what are the most common event types per source, the
    dominant languages per domain, the top licenses per crawl snapshot.

    Shape: ONE melt + ONE (group, column, value) count exchange (map-side
    combined), then the same salted two-phase top-K as the global operator —
    first within (group, column, salt) so a hot segment cannot serialize on
    one partition, then among the ≤ k x salt_buckets survivors. Deterministic
    tie-break (count desc, value asc). Returns
    ``(group, column, value, count, rank)``."""
    if not columns:
        raise ValueError("columns must name at least one column")
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            S.col(c).cast("string").alias("value"),
        )
        for c in columns
    ]
    vc = (
        df.select(
            S.col(group_col).alias("group"),
            F.explode(F.array(*structs)).alias("kv"),
        )
        .select("group", "kv.column", "kv.value")
        .where(F.col("value").isNotNull())
        .groupBy("group", "column", "value")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    salted = Window.partitionBy("group", "column", "__salt").orderBy(
        F.desc("count"), F.asc("value")
    )
    final = Window.partitionBy("group", "column").orderBy(
        F.desc("count"), F.asc("value")
    )
    return (
        vc.withColumn("__salt", F.abs(F.hash("value")) % salt_buckets)
        .withColumn("__r1", F.row_number().over(salted))
        .where(F.col("__r1") <= k)
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= k)
        .drop("__salt", "__r1")
        .orderBy("group", "column", "rank")
    )


def _key_string(key_cols: list[str]):
    """The ONE key-canonicalization rule the shuffle diagnostics share
    (and their oracle SQL mirrors): cast to string, nulls render as the
    literal ``"null"``, composite keys join on ``"|"``."""
    return F.concat_ws(
        "|",
        *[
            F.coalesce(S.col(c).cast("string"), F.lit("null"))
            for c in key_cols
        ],
    )


def key_skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
    exact_quantiles: bool = True,
) -> DataFrame:
    """ONE-row shuffle-key diagnostics — the question every 100 TB
    join/groupBy plan should answer first: is this key skewed, and by how
    much? ``(n_rows, n_keys, max_count, p50_count, p95_count, mean_count,
    skew_ratio, top_share, top_keys)`` where ``skew_ratio`` =
    max group size / mean group size (1.0 = perfectly uniform; the
    factor by which the hottest task outweighs the average under hash
    partitioning), ``top_share`` = the hottest key's row fraction, and
    ``top_keys`` the ``top_n`` heaviest keys as a deterministic
    ``"key:count,..."`` string (string-typed so the driver's sort-based
    canonicalizer can hash it; nulls render as ``"null"``).

    Shape: one combine-friendly (key) count exchange — the same exchange
    the diagnosed groupBy would pay — then a 1-row stats collapse and a
    distributed top-N (TakeOrderedAndProject), crossJoined as two 1-row
    frames. ``exact_quantiles=False`` switches the group-size percentiles
    to GK sketches for corpora where |keys| itself is huge (the
    engine-wide exact/approx tier convention)."""
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    counts = (
        df.groupBy(_key_string(key_cols).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if exact_quantiles:
        p50 = F.expr("percentile(__c, 0.5)")
        p95 = F.expr("percentile(__c, 0.95)")
    else:
        p50 = F.expr("approx_percentile(__c, 0.5, 10000)").cast("double")
        p95 = F.expr("approx_percentile(__c, 0.95, 10000)").cast("double")
    stats = counts.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("max_count"),
        F.round(p50, 4).alias("p50_count"),
        F.round(p95, 4).alias("p95_count"),
    )
    # deterministic top-N string: per-partition heads + one driver merge
    # (limit after orderBy = TakeOrderedAndProject, never a global sort),
    # then a sort_array fold so the rendering order is (count desc, key
    # asc) regardless of collect_list's partition order
    top = (
        counts.orderBy(F.desc("__c"), F.asc("__k"))
        .limit(top_n)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-F.col("__c")).alias("nc"),
                                F.col("__k").alias("k"),
                                F.col("__c").alias("c"),
                            )
                        )
                    ),
                    lambda s: F.concat_ws(
                        ":", s["k"], s["c"].cast("string")
                    ),
                ),
                ",",
            ).alias("top_keys")
        )
    )
    return stats.crossJoin(top).select(
        "n_rows",
        "n_keys",
        "max_count",
        "p50_count",
        "p95_count",
        F.round(F.col("n_rows") / F.col("n_keys"), 4).alias("mean_count"),
        # divide BEFORE multiplying: max_count * n_keys as long*long
        # overflows exactly on the pathological corpora this diagnostic
        # exists for (ANSI throws, legacy wraps negative); division first
        # moves the arithmetic to double
        F.round(
            F.col("max_count") / F.col("n_rows") * F.col("n_keys"), 4
        ).alias("skew_ratio"),
        F.round(F.col("max_count") / F.col("n_rows"), 4).alias("top_share"),
        "top_keys",
    )


def join_fanout_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: list[str],
    right_key: list[str] | None = None,
) -> DataFrame:
    """ONE-row pre-join diagnostics — the other question a 100 TB join
    plan should answer first: how many rows will this join PRODUCE, and
    is any key explosive? ``(left_rows, right_rows, n_left_keys,
    n_right_keys, n_matched_keys, left_match_share, right_match_share,
    inner_rows, max_fanout, fanout_ratio)`` where ``inner_rows`` is the
    EXACT inner-join output size (Σ over matched keys of
    left_count × right_count — computed from the two bounded key-count
    tables, never by running the join), ``max_fanout`` the largest
    single-key contribution, and ``fanout_ratio`` = inner_rows /
    left_rows (how much the join multiplies the probe side; > 1 means
    row explosion).

    Shape: one combine-friendly count exchange per side — each the same
    exchange the real join would pay — then a key-count × key-count
    equi-join (cardinality = |keys|, not |rows|) collapsed to one row.
    Nulls render as the literal key ``"null"`` and therefore MATCH each
    other here, unlike a SQL equi-join — this operator reports key
    distribution overlap; a null-keyed row never matching in the real
    join is the first thing ``left_match_share`` tells you to check."""
    if not left_key:
        raise ValueError("left_key must name at least one column")
    if right_key is not None and not right_key:
        raise ValueError(
            "right_key must name at least one column (or None to reuse "
            "left_key)"
        )
    right_key = right_key or left_key

    def kc(df: DataFrame, keys: list[str], cname: str) -> DataFrame:
        return df.groupBy(_key_string(keys).alias("__k")).agg(
            F.count(F.lit(1)).alias(cname)
        )

    lc, rc = kc(left, left_key, "__cl"), kc(right, right_key, "__cr")
    j = lc.join(rc, "__k", "full_outer")
    both = F.col("__cl").isNotNull() & F.col("__cr").isNotNull()
    # products in DOUBLE: a 4B-row hot key on each side puts cl*cr past
    # Long.MAX (ANSI throws, legacy wraps negative) — exactly the
    # explosive join this diagnostic exists to catch. Double is exact to
    # 2^53 and degrades gracefully past it.
    prod = F.col("__cl").cast("double") * F.col("__cr")
    return j.agg(
        F.sum("__cl").alias("left_rows"),
        F.sum("__cr").alias("right_rows"),
        F.count("__cl").alias("n_left_keys"),
        F.count("__cr").alias("n_right_keys"),
        F.sum(both.cast("long")).alias("n_matched_keys"),
        F.sum(F.when(both, F.col("__cl")).otherwise(0)).alias(
            "__l_matched"
        ),
        F.sum(F.when(both, F.col("__cr")).otherwise(0)).alias(
            "__r_matched"
        ),
        F.round(
            F.coalesce(F.sum(F.when(both, prod)), F.lit(0.0)), 4
        ).alias("inner_rows"),
        F.round(
            F.coalesce(F.max(F.when(both, prod)), F.lit(0.0)), 4
        ).alias("max_fanout"),
    ).select(
        "left_rows",
        "right_rows",
        "n_left_keys",
        "n_right_keys",
        "n_matched_keys",
        F.round(F.col("__l_matched") / F.col("left_rows"), 4).alias(
            "left_match_share"
        ),
        F.round(F.col("__r_matched") / F.col("right_rows"), 4).alias(
            "right_match_share"
        ),
        "inner_rows",
        "max_fanout",
        F.round(F.col("inner_rows") / F.col("left_rows"), 4).alias(
            "fanout_ratio"
        ),
    )
