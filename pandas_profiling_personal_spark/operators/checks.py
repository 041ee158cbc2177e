"""Declarative data-quality constraint suite — the validation (CI-gate) surface.

The reference only *reports* after profiling (``model/messages.py:102`` —
``check_table_messages`` turns computed stats into advisory messages); it has no
way to DECLARE an expectation up front and fail a pipeline when data breaks it.
At 100 TB that forward contract is the operation that matters: "yesterday's
corpus had o_custkey 100% complete and o_orderkey unique — refuse today's load
if that stopped being true". This module adds it, Spark-first, with the check /
metric decomposition popularized by Schelter et al., *Automating Large-Scale
Data Quality Verification* (VLDB 2018) — the implementation here is original
and built entirely on ``pyspark.sql`` built-ins.

Execution shape (the scale contract):

* ALL scalar constraints (completeness / compliance ratios / aggregate-metric
  bounds) over one table compile into ONE conditional-aggregate pass — a single
  scan, whole-stage-codegen'd, no Python in the plan. Quantile bounds ride a
  separate percentile aggregation joined 1-row x 1-row (the numeric_summary
  split: mixing TypedImperativeAggregate with declarative aggs forces the whole
  aggregate interpreted).
* ALL uniqueness-family constraints (uniqueness / distinctness / primary_key)
  share ONE melt -> groupBy shuffle regardless of how many key subsets are
  declared (the contingency_all_pairs pattern from correlations.py).
* ALL functional dependencies share ONE melt -> two-level groupBy shuffle.
* Each foreign-key containment is ONE left join against the DISTINCT parent
  keys with total + miss counts in the same conditional aggregate (a single
  child scan — the anti-join formulation needs a second scan for the total);
  the parent side collapses to its key cardinality before the join, so AQE
  broadcasts real dimension tables; child rows with any NULL key column pass
  vacuously (ANSI FK semantics).

Null semantics (documented, both engines): column-predicate compliance is
measured over NON-NULL rows only — missing data is ``completeness``'s job, not
``in_range``'s. Uniqueness keys treat NULL as a regular (sentinel) value.
Empty-input ratios are NULL and pass vacuously.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Mapping

from pyspark.sql import Column, DataFrame, functions as F

from pandas_profiling_personal_spark.functions import stats as S

ROUND = 4

# Composite-key encoding: components are escaped (ESC doubled, SEP prefixed
# with ESC) then joined on the raw unit separator, so the raw SEP appears
# ONLY at component boundaries; the NULL sentinel is ESC+'N' — a sequence no
# escaped value can produce (ESC in escaped output is always followed by ESC
# or SEP). The encoding is injective for ANY string values, control
# characters included — two distinct key tuples can never merge, and a value
# equal to the sentinel can never alias a NULL. The DuckDB oracles group by
# the actual columns, so exact tuple equality is precisely the contract.
KEY_SEP = "\x1f"
KEY_ESC = "\x1e"
NULL_SENTINEL = KEY_ESC + "N"

RESULT_COLUMNS = [
    "check_name",
    "kind",
    "column",
    "metric",
    "value",
    "lower",
    "upper",
    "passed",
]


@dataclass(frozen=True)
class Check:
    """One declared constraint. Build via the constructor functions below."""

    kind: str
    columns: tuple[str, ...]
    name: str
    params: Mapping[str, Any] = field(default_factory=dict)

    def display_column(self) -> str:
        return ",".join(self.columns)


# ---------------------------------------------------------------------------
# constructors — the declarative surface
# ---------------------------------------------------------------------------


def completeness(col: str, min_ratio: float = 1.0, name: str | None = None) -> Check:
    """Fraction of rows where ``col`` is not NULL must be >= min_ratio."""
    return Check("completeness", (col,), name or f"completeness({col})",
                 {"min_ratio": float(min_ratio)})


def satisfies(predicate_sql: str, name: str, min_ratio: float = 1.0,
              columns: tuple[str, ...] = ()) -> Check:
    """Fraction of ALL rows satisfying an arbitrary SQL predicate.

    The predicate is evaluated row-wise over the whole frame (NULL counts as
    not satisfied); use the typed constructors for per-column semantics.
    """
    return Check("satisfies", tuple(columns), name,
                 {"predicate": predicate_sql, "min_ratio": float(min_ratio)})


def in_range(col: str, lo: float, hi: float, min_ratio: float = 1.0,
             name: str | None = None) -> Check:
    """Fraction of NON-NULL values inside [lo, hi] must be >= min_ratio."""
    return Check("in_range", (col,), name or f"in_range({col})",
                 {"lo": float(lo), "hi": float(hi), "min_ratio": float(min_ratio)})


def non_negative(col: str, min_ratio: float = 1.0, name: str | None = None) -> Check:
    return Check("non_negative", (col,), name or f"non_negative({col})",
                 {"min_ratio": float(min_ratio)})


def is_in_set(col: str, values: list, min_ratio: float = 1.0,
              name: str | None = None) -> Check:
    """Fraction of NON-NULL values inside the allowed set must be >= min_ratio."""
    return Check("is_in_set", (col,), name or f"is_in_set({col})",
                 {"values": tuple(values), "min_ratio": float(min_ratio)})


def matches(col: str, pattern: str, min_ratio: float = 1.0,
            name: str | None = None) -> Check:
    """Fraction of NON-NULL values fully matching an RE2-safe regex.

    Keep the pattern to the common-subset syntax (char classes, anchors,
    bounded repetition) so Spark's ``rlike`` and the DuckDB oracle's
    ``regexp_matches`` agree.
    """
    return Check("matches", (col,), name or f"matches({col})",
                 {"pattern": pattern, "min_ratio": float(min_ratio)})


def _metric_bound(kind: str, col: str, lo, hi, name: str | None) -> Check:
    return Check(kind, (col,), name or f"{kind}({col})",
                 {"lo": None if lo is None else float(lo),
                  "hi": None if hi is None else float(hi)})


def mean_between(col: str, lo=None, hi=None, name: str | None = None) -> Check:
    return _metric_bound("mean_between", col, lo, hi, name)


def sum_between(col: str, lo=None, hi=None, name: str | None = None) -> Check:
    return _metric_bound("sum_between", col, lo, hi, name)


def min_between(col: str, lo=None, hi=None, name: str | None = None) -> Check:
    return _metric_bound("min_between", col, lo, hi, name)


def max_between(col: str, lo=None, hi=None, name: str | None = None) -> Check:
    return _metric_bound("max_between", col, lo, hi, name)


def stddev_between(col: str, lo=None, hi=None, name: str | None = None) -> Check:
    return _metric_bound("stddev_between", col, lo, hi, name)


def quantile_between(col: str, q: float, lo=None, hi=None,
                     name: str | None = None) -> Check:
    c = Check("quantile_between", (col,),
              name or f"quantile_between({col},{q})",
              {"q": float(q),
               "lo": None if lo is None else float(lo),
               "hi": None if hi is None else float(hi)})
    return c


def row_count_between(lo=None, hi=None, name: str = "row_count") -> Check:
    return Check("row_count_between", (), name,
                 {"lo": None if lo is None else float(lo),
                  "hi": None if hi is None else float(hi)})


def approx_distinct_between(col: str, lo=None, hi=None, rsd: float = 0.05,
                            name: str | None = None) -> Check:
    """HLL-estimated distinct count within bounds (±rsd relative error).

    The approximate member of the scalar family: one declarative aggregate,
    so it runs in the single-scan batch pass, the windowed STREAMING tier,
    and from a saved state's HLL sketch alike — size the bounds with the
    rsd slack in mind (a bound tighter than ±rsd of the truth will flap).
    Deliberately NOT oracle-backed: DuckDB's approx_count_distinct is a
    different HLL implementation; the pytest pin is tolerance vs the exact
    count. For an exact distinctness contract use :func:`distinctness`.
    """
    return Check("approx_distinct_between", (col,),
                 name or f"approx_distinct_between({col})",
                 {"lo": None if lo is None else float(lo),
                  "hi": None if hi is None else float(hi),
                  "rsd": float(rsd)})


def uniqueness(cols: list[str] | str, min_ratio: float = 1.0,
               name: str | None = None) -> Check:
    """Fraction of rows whose key value occurs exactly once (NULL = a value)."""
    cols = (cols,) if isinstance(cols, str) else tuple(cols)
    return Check("uniqueness", cols, name or f"uniqueness({','.join(cols)})",
                 {"min_ratio": float(min_ratio)})


def distinctness(cols: list[str] | str, min_ratio: float = 0.0,
                 name: str | None = None) -> Check:
    """n_distinct(key) / n_rows (NULL = a value)."""
    cols = (cols,) if isinstance(cols, str) else tuple(cols)
    return Check("distinctness", cols, name or f"distinctness({','.join(cols)})",
                 {"min_ratio": float(min_ratio)})


def primary_key(cols: list[str] | str, name: str | None = None) -> Check:
    """Uniqueness == 1 AND no NULL key components (reported as one row)."""
    cols = (cols,) if isinstance(cols, str) else tuple(cols)
    return Check("primary_key", cols, name or f"primary_key({','.join(cols)})", {})


def schema_matches(columns: Mapping[str, str], allow_extra: bool = True,
                   name: str | None = None) -> Check:
    """Declared schema contract: every expected column present with the
    expected Spark SQL type (``simpleString`` form: ``bigint``, ``double``,
    ``string``, ``array<double>``, ...); ``allow_extra=False`` also fails
    when UNEXPECTED columns appear. Evaluated from ``df.schema`` — zero
    Spark jobs, so it belongs at the top of every suite: a renamed or
    re-typed column fails here by name before any data-dependent check
    reads garbage through it (the batch complement of the state-mode
    ``schema_drift_between_partials``)."""
    cols = tuple(sorted((str(k), str(v).strip().lower())
                        for k, v in columns.items()))
    if not cols:
        raise ValueError("schema_matches: empty column map")
    return Check("schema", tuple(k for k, _ in cols), name or "schema",
                 {"columns": cols, "allow_extra": bool(allow_extra)})


def foreign_key(cols: list[str] | str, ref: str, ref_cols: list[str] | str,
                max_violation_ratio: float = 0.0, name: str | None = None) -> Check:
    """Child keys must exist in the parent: violation_ratio <= bound.

    ``ref`` names a frame in ``check_suite(refs={...})``. Child rows with any
    NULL key column pass vacuously (ANSI FK semantics). The violation ratio is
    violations / fully-non-null child rows.
    """
    cols = (cols,) if isinstance(cols, str) else tuple(cols)
    ref_cols = (ref_cols,) if isinstance(ref_cols, str) else tuple(ref_cols)
    if len(cols) != len(ref_cols):
        raise ValueError(
            f"foreign_key: child key {cols} and parent key {ref_cols} "
            "have different lengths"
        )
    return Check("foreign_key", cols,
                 name or f"foreign_key({','.join(cols)}->{ref})",
                 {"ref": ref, "ref_cols": ref_cols,
                  "max_violation_ratio": float(max_violation_ratio)})


def functional_dependency(determinant: list[str] | str, dependent: str,
                          min_ratio: float = 1.0, name: str | None = None) -> Check:
    """Determinant groups with exactly one dependent value / all groups.

    ratio == 1.0 means ``determinant -> dependent`` holds exactly. NULL
    dependents count as a value (a group with {NULL, 'x'} violates).
    """
    det = (determinant,) if isinstance(determinant, str) else tuple(determinant)
    return Check("functional_dependency", det + (dependent,),
                 name or f"fd({','.join(det)}->{dependent})",
                 {"n_det": len(det), "min_ratio": float(min_ratio)})


def _score_fd_pairs(df: DataFrame, pairs: "list[tuple[tuple, str]]"):
    """Exact FD verification for ``[(determinant_tuple, dependent)]``
    pairs — the shared one-melt two-level-groupBy kernel (composite
    determinants through the declared check's escaped key expression).
    Returns the lazy result frame; determinant renders comma-joined."""
    structs = [
        F.struct(
            F.lit(i).alias("fid"),
            _key_expr(list(det)).alias("det"),
            F.coalesce(_esc_component(F.col(dep)),
                       F.lit(NULL_SENTINEL)).alias("dep"),
        )
        for i, (det, dep) in enumerate(pairs)
    ]
    melted = df.select(
        F.explode(F.array(*structs)).alias("kv")
    ).select("kv.*")
    marker = df.sparkSession.createDataFrame(
        [(i, None, None) for i in range(len(pairs))],
        "fid int, det string, dep string",
    )
    per_group = melted.unionByName(marker).groupBy("fid", "det").agg(
        F.count_distinct(F.col("dep")).alias("ndep")
    )
    per_fd = per_group.groupBy("fid").agg(
        F.sum(F.when(F.col("ndep") > 0, 1).otherwise(0)).alias("n_groups"),
        F.sum(F.when(F.col("ndep") > 1, 1).otherwise(0)).alias(
            "n_violating"
        ),
    )
    det_map, dep_map = None, None
    for i, (det, dep) in enumerate(pairs):
        dname = ",".join(det)
        det_map = (F.when(F.col("fid") == i, dname) if det_map is None
                   else det_map.when(F.col("fid") == i, dname))
        dep_map = (F.when(F.col("fid") == i, dep) if dep_map is None
                   else dep_map.when(F.col("fid") == i, dep))
    ratio = F.round(
        F.try_divide(F.col("n_groups") - F.col("n_violating"),
                     F.col("n_groups")),
        ROUND,
    )
    return per_fd.select(
        det_map.alias("determinant"),
        dep_map.alias("dependent"),
        ratio.alias("dependency_ratio"),
        (F.col("n_violating") == 0).alias("holds"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n_violating").cast("long").alias("n_violating"),
        F.lit(True).alias("exact"),
    )


_FD_OUT_SCHEMA = (
    "determinant string, dependent string, dependency_ratio double,"
    " holds boolean, n_groups long, n_violating long, exact boolean"
)


def discover_fds(
    df: DataFrame,
    columns: list[str] | None = None,
    candidates: "list[tuple] | None" = None,
    max_determinant_distinct: int = 100_000,
    prune: bool = True,
    max_arity: int = 1,
    max_level2_candidates: int = 2000,
    precomputed: "Mapping[str, Any] | None" = None,
    screen_margin: float = 1.15,
) -> DataFrame:
    """DISCOVER functional dependencies — the step before
    :func:`functional_dependency` declares one (the reference only turns
    computed stats into messages after the fact; classical FD discovery à
    la TANE/Metanome is profiling's relationship surface). One row per
    candidate ``determinant -> dependent`` pair with the SAME metric the
    declared check gates on: ``dependency_ratio`` = determinant groups
    with exactly one dependent value / all groups (1.0 = holds exactly),
    plus group/violation counts, ordered (ratio desc, determinant,
    dependent). Composite determinants render comma-joined.

    Scale shape, three tiers:

    * tier 1 (``prune=True``): ONE cardinality aggregate (HLL per column)
      prunes the quadratic candidate space — a near-unique determinant
      (``> max_determinant_distinct`` distinct) is dropped (every FD from
      a key holds trivially and the groupBy would shuffle a group per
      row), and exact FDs require ``n_distinct(det) >= n_distinct(dep)``
      (0.9 HLL slack); ``prune=False`` scores everything, e.g. for
      approximate-FD mining.
    * tier 2: an HLL SCREEN — FD ``a -> b`` holds exactly iff
      ``n_distinct(a, b) == n_distinct(a)``, so ONE scan of per-pair
      ``approx_count_distinct(struct(...))`` (struct on BOTH sides so
      NULL determinants count as groups, matching the melt kernel's
      sentinel) proves most violating pairs violate before the melt pays
      for them. ``screen_margin`` (default 1.15 — rsd 0.05 on both
      sides) is the screen's pass band: APPROXIMATE-FD mining must widen
      it to ``~1 + 2*(1 - min_ratio)`` so pairs holding at ratio >=
      min_ratio still reach the melt (each violating group adds at least
      one extra (det, dep) combination; a single many-valued violating
      group can still exceed the widened band — the CLI documents that
      prune=False scores everything when the miss matters). Screened-out pairs keep a row (``holds=NULL`` —
      "not verified", NEVER "refuted": the screen is probabilistic and a
      ~3-sigma HLL deviation can screen a true FD — ``exact=False``,
      NULL ratio/counts) so the output covers the candidate space.
      Consumers must treat only ``holds AND exact`` as a verified hold
      (the CLI does). Measured on lineitem (7 columns, 21 surviving
      pairs, 6.0M rows): screen+verify cut the all-melt cost ~6x.
    * tier 3: survivors share ONE melt -> two-level groupBy — the
      :func:`_fd_rows` kernel with pair ids; the exchange carries
      (pair, determinant value) groups, never raw rows x pairs beyond
      the melt.

    ``max_arity=2`` adds the composite-determinant lattice level (TANE's
    level 2), pruned the classical way: ``{a, b} -> c`` is generated only
    when NEITHER ``a -> c`` nor ``b -> c`` held exactly at level 1 (an
    implied composite is noise), both components pass the determinant
    gate, and the COMBINED key survives the same near-unique gate and
    HLL screen (tier-2 struct cardinalities, one extra scan) before one
    extra melt. The level-2 lattice is capped at
    ``max_level2_candidates`` and refuses loudly above it — narrow
    ``columns`` rather than silently sampling the lattice.

    Explicit ``candidates`` (``(det, dep)`` with ``det`` a name or a
    tuple of names) are scored verbatim — the deterministic oracle tier.
    NULL determinants are their own group (the declared check's
    NULL-sentinel semantics); NULL dependents count as a value.

    ``precomputed`` (enumeration path, level 1 only) replaces BOTH
    screen scans with cardinalities a caller already holds — the
    in-profile rider: ``profile(discover_fds=True)`` folds the pair-
    struct ``approx_count_distinct`` expressions into its existing
    pass-1 wide aggregate, so discovery pays only the survivors' melt
    (VERDICT r12 #8). Shape: ``{"nd": {col: distinct_non_null},
    "has_null": {col: bool}, "pair_nd": {(a, b) sorted: distinct
    struct count}}``; a pair missing from ``pair_nd`` is VERIFIED
    rather than screened (the safe direction)."""
    if max_arity not in (1, 2):
        raise ValueError("discover_fds: max_arity must be 1 or 2")
    screened_out: "list[tuple[str, str]]" = []
    nd: "dict[str, int]" = {}
    cols: list[str] = []
    if candidates is None:
        cols = list(columns if columns is not None else df.columns)
        missing = sorted(set(cols) - set(df.columns))
        if missing:
            raise ValueError(f"discover_fds: columns not in frame: {missing}")
        if len(cols) < 2:
            raise ValueError("discover_fds: need at least 2 columns")
        pairs = [((a,), b) for a in cols for b in cols if a != b]
        if prune:
            if precomputed is not None:
                nd = dict(precomputed["nd"])
                missing_nd = sorted(set(cols) - set(nd))
                if missing_nd:
                    raise ValueError(
                        "discover_fds: precomputed cardinalities missing "
                        f"for columns: {missing_nd}"
                    )
            else:
                card = df.agg(*[
                    F.approx_count_distinct(F.col(c)).alias(f"c{i}")
                    for i, c in enumerate(cols)
                ]).collect()[0]
                nd = {c: card[f"c{i}"] for i, c in enumerate(cols)}
            pairs = [
                (det, b) for det, b in pairs
                if 2 <= nd[det[0]] <= max_determinant_distinct
                and nd[det[0]] >= 0.9 * nd[b]
            ]
            if precomputed is not None:
                # screen from the caller's pair-struct cardinalities —
                # zero scans here; the unary det struct cardinality is
                # exactly distinct-non-null + (1 if the column has NULLs)
                has_null = precomputed.get("has_null") or {}
                pair_nd = precomputed.get("pair_nd") or {}
                survivors = []
                for det, b in pairs:
                    a = det[0]
                    pnd = pair_nd.get((a, b) if a <= b else (b, a))
                    det_nd = nd[a] + (1 if has_null.get(a) else 0)
                    if pnd is None or pnd <= screen_margin * det_nd:
                        survivors.append((det, b))
                    else:
                        screened_out.append((a, b))
                pairs = survivors
            else:
                pairs, scr = _fd_screen(df, pairs, margin=screen_margin)
                screened_out.extend(scr)
        if not pairs and not screened_out:
            raise ValueError(
                "discover_fds: no candidate pairs survive the cardinality "
                "prune — every determinant is constant or above "
                f"max_determinant_distinct={max_determinant_distinct}; "
                "pass candidates=[...] or prune=False to score anyway"
            )
    else:
        pairs = []
        for det, dep in candidates:
            det_t = (det,) if isinstance(det, str) else tuple(det)
            pairs.append((det_t, dep))
        missing = sorted(
            {c for det, dep in pairs for c in (*det, dep)}
            - set(df.columns)
        )
        if missing:
            raise ValueError(
                f"discover_fds: candidate columns not in frame: {missing}"
            )
        if any(dep in det for det, dep in pairs):
            raise ValueError("discover_fds: self-pair candidate")

    if max_arity == 1 or candidates is not None:
        out = _score_fd_pairs(df, pairs) if pairs else None
        if screened_out:
            screened_df = df.sparkSession.createDataFrame(
                [(d, b, None, None, None, None, False)
                 for d, b in screened_out],
                _FD_OUT_SCHEMA,
            )
            out = (screened_df if out is None
                   else out.unionByName(screened_df))
        return out.orderBy(
            F.desc_nulls_last("dependency_ratio"), F.col("determinant"),
            F.col("dependent"),
        )

    # ---- max_arity == 2, enumeration path: eager level-by-level ----------
    rows: list[tuple] = []
    unary_holds: "set[tuple[str, str]]" = set()
    if pairs:
        for r in _score_fd_pairs(df, pairs).collect():
            rows.append(tuple(r))
            if r["holds"]:
                unary_holds.add((r["determinant"], r["dependent"]))
    if not nd:  # prune=False still needs cardinalities for the det gate
        card = df.agg(*[
            F.approx_count_distinct(F.col(c)).alias(f"c{i}")
            for i, c in enumerate(cols)
        ]).collect()[0]
        nd = {c: card[f"c{i}"] for i, c in enumerate(cols)}
    from itertools import combinations as _comb

    elig = sorted(
        c for c in cols if 2 <= nd[c] <= max_determinant_distinct
    )
    lvl2 = [
        ((a, b), dep)
        for a, b in _comb(elig, 2)
        for dep in cols
        if dep not in (a, b)
        and (a, dep) not in unary_holds      # TANE: implied by a -> dep
        and (b, dep) not in unary_holds
    ]
    if len(lvl2) > max_level2_candidates:
        raise ValueError(
            f"discover_fds: {len(lvl2)} level-2 candidates exceed "
            f"max_level2_candidates={max_level2_candidates} — narrow "
            "columns= (or raise the cap deliberately); the lattice is "
            "never silently sampled"
        )
    if lvl2:
        # combined-key near-unique gate + screen in ONE scan: the det
        # struct cardinality is both the triviality gate and the screen
        # baseline
        lvl2, scr2, dropped = _fd_screen(
            df, lvl2, max_det=max_determinant_distinct,
            return_dropped=True, margin=screen_margin,
        )
        screened_out.extend(scr2)
        del dropped  # near-unique composites: dropped like tier 1
        for r in (_score_fd_pairs(df, lvl2).collect() if lvl2 else []):
            rows.append(tuple(r))
    all_rows = rows + [
        (d, b, None, None, None, None, False) for d, b in screened_out
    ]
    return df.sparkSession.createDataFrame(
        all_rows, _FD_OUT_SCHEMA
    ).orderBy(
        F.desc_nulls_last("dependency_ratio"), F.col("determinant"),
        F.col("dependent"),
    )


def _fd_screen(
    df: DataFrame,
    pairs: "list[tuple[tuple, str]]",
    max_det: int | None = None,
    return_dropped: bool = False,
    margin: float = 1.15,
):
    """Tier-2 HLL screen shared by both lattice levels: ONE scan of
    ``approx_count_distinct(struct(det...))`` and ``struct(det..., dep)``
    per pair; survivors satisfy ``nd(det, dep) <= 1.15 * nd(det)``
    (default rsd 0.05 on both sides). With ``max_det``, determinants
    whose combined key reads near-unique (``> max_det``) or constant are
    DROPPED (trivial, like tier 1), not screened. Returns
    ``(survivors, screened_names[, dropped])``."""
    if not pairs:
        return ([], [], []) if return_dropped else ([], [])
    dets = sorted({det for det, _ in pairs})
    det_aggs = [
        F.approx_count_distinct(
            F.struct(*[F.col(c) for c in det])
        ).alias(f"d{di}")
        for di, det in enumerate(dets)
    ]
    pair_aggs = [
        F.approx_count_distinct(
            F.struct(*[F.col(c) for c in det], F.col(dep))
        ).alias(f"p{k}")
        for k, (det, dep) in enumerate(pairs)
    ]
    cardrow = df.agg(*det_aggs, *pair_aggs).collect()[0]
    det_card = {det: cardrow[f"d{di}"] for di, det in enumerate(dets)}
    survivors, screened, dropped = [], [], []
    for k, (det, dep) in enumerate(pairs):
        dc = det_card[det]
        if max_det is not None and not (2 <= dc <= max_det):
            dropped.append((det, dep))
        elif cardrow[f"p{k}"] <= margin * dc:
            survivors.append((det, dep))
        else:
            screened.append((",".join(det), dep))
    if return_dropped:
        return survivors, screened, dropped
    return survivors, screened


_UCC_OUT_SCHEMA = (
    "key string, arity int, n_rows long, n_groups long,"
    " uniqueness_ratio double, null_free boolean, is_key boolean,"
    " exact boolean"
)


def _score_uccs(df: DataFrame, keysets: "list[tuple[str, ...]]"):
    """Exact unique-column-combination verification for a list of column
    tuples — the declared ``uniqueness``/``primary_key`` checks' one-melt
    two-level-groupBy kernel (:func:`_key_rows`) returning discovery rows
    instead of gate rows. NULL key components are sentinel values (a
    {NULL} group is a group); ``null_free`` rides the melt so a verified
    key is primary-key-eligible without a second scan."""
    structs = [
        F.struct(
            F.lit(i).alias("sid"),
            _key_expr(ks).alias("key"),
            sum(
                (F.col(c).isNull().cast("int") for c in ks),
                F.lit(0),
            ).alias("null_parts"),
        )
        for i, ks in enumerate(keysets)
    ]
    melted = df.select(
        F.explode(F.array(*structs)).alias("kv")
    ).select("kv.*")
    marker = df.sparkSession.createDataFrame(
        [(i, None, 0) for i in range(len(keysets))],
        "sid int, key string, null_parts int",
    )
    per_key = melted.unionByName(marker).groupBy("sid", "key").agg(
        F.count("key").alias("cnt"),
        F.sum("null_parts").alias("null_parts"),
    )
    per_sid = per_key.groupBy("sid").agg(
        F.sum("cnt").alias("rows"),
        F.sum(F.when(F.col("cnt") > 0, 1).otherwise(0)).alias("groups"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias(
            "singletons"
        ),
        F.sum("null_parts").alias("null_parts"),
    )
    kmap, amap = None, None
    for i, ks in enumerate(keysets):
        nm = ",".join(ks)
        kmap = (F.when(F.col("sid") == i, nm) if kmap is None
                else kmap.when(F.col("sid") == i, nm))
        amap = (F.when(F.col("sid") == i, len(ks)) if amap is None
                else amap.when(F.col("sid") == i, len(ks)))
    empty = F.col("rows") == 0
    return per_sid.select(
        kmap.alias("key"),
        amap.cast("int").alias("arity"),
        F.col("rows").cast("long").alias("n_rows"),
        F.col("groups").cast("long").alias("n_groups"),
        F.round(
            F.try_divide(F.col("singletons"), F.col("rows")), ROUND
        ).alias("uniqueness_ratio"),
        (F.col("null_parts") == 0).alias("null_free"),
        F.when(empty, F.lit(None).cast("boolean")).otherwise(
            F.col("groups") == F.col("rows")
        ).alias("is_key"),
        F.lit(True).alias("exact"),
    )


def discover_keys(
    df: DataFrame,
    columns: list[str] | None = None,
    candidates: "list | None" = None,
    max_arity: int = 2,
    max_candidates: int = 2000,
    prune: bool = True,
) -> DataFrame:
    """DISCOVER unique column combinations (candidate keys) — the third
    member of the relationship-mining triad next to :func:`discover_fds`
    and :func:`discover_inclusions` (TANE/HyUCC's UCC tier, bounded to
    arity 2; the reference only alerts per-column UNIQUE after the fact,
    ``model/messages.py:204-257``). One row per candidate column set with
    ``is_key`` (every key tuple occurs exactly once; NULLs are sentinel
    values, the declared :func:`uniqueness` semantics),
    ``uniqueness_ratio`` (the declared check's metric: rows whose key
    occurs exactly once / all rows), ``null_free`` (primary-key
    eligible), ordered (ratio desc, arity, key).

    Scale shape, three tiers like FD discovery:

    * tier 1 (``prune=True``): ONE scan — ``count(*)`` + NULL-adjusted
      HLL per column — screens every column whose cardinality reads
      below ``0.85 * n_rows`` (~3 sigma under the default rsd 0.05: a
      true key essentially never screens out). Screened rows are kept
      with ``is_key=NULL`` ("not verified", NEVER "refuted" — the screen
      is probabilistic) and ``exact=False``.
    * level 2 (``max_arity=2``): pairs are generated TANE-style — a pair
      containing an exactly-verified unary key is a non-minimal
      superset, never generated — then pruned arithmetically (the
      product bound ``nd(a) * nd(b) < 0.85 * n`` cannot be a key; zero
      extra cost, the per-column HLLs are already in hand) and screened
      by ONE extra scan of pair-struct HLLs. The lattice is capped at
      ``max_candidates`` and refuses loudly above it — narrow
      ``columns`` rather than silently sampling.
    * tier 3: surviving sets score through :func:`_score_uccs` (the
      declared uniqueness check's melt -> two-level groupBy kernel):
      the exchange carries (set, key value) groups, never rows x sets
      beyond the melt. Explicit ``candidates`` / ``max_arity=1`` share
      ONE melt for every set; the ``max_arity=2`` enumeration path pays
      one melt per lattice LEVEL (the unary melt's exact results must
      land before level 2 can be TANE-pruned).

    Explicit ``candidates`` (names or tuples of names) are scored
    verbatim — the deterministic oracle tier. Verified keys feed
    ``suggest_checks`` as declared :func:`primary_key` /
    :func:`uniqueness` contracts (CLI ``--discover-keys``)."""
    if max_arity not in (1, 2):
        raise ValueError("discover_keys: max_arity must be 1 or 2")
    screened: "list[tuple[str, ...]]" = []
    if candidates is not None:
        keysets = [
            (ks,) if isinstance(ks, str) else tuple(ks) for ks in candidates
        ]
        if not keysets:
            raise ValueError("discover_keys: empty candidates")
        missing = sorted(
            {c for ks in keysets for c in ks} - set(df.columns)
        )
        if missing:
            raise ValueError(
                f"discover_keys: candidate columns not in frame: {missing}"
            )
        if any(len(set(ks)) != len(ks) for ks in keysets):
            raise ValueError("discover_keys: duplicate column in candidate")
        verify = keysets
    else:
        cols = list(columns if columns is not None else df.columns)
        missing = sorted(set(cols) - set(df.columns))
        if missing:
            raise ValueError(
                f"discover_keys: columns not in frame: {missing}"
            )
        if not cols:
            raise ValueError("discover_keys: need at least 1 column")
        MARGIN = 0.85
        # ONE scan: row count + NULL-adjusted HLL per column (HLL drops
        # NULLs but uniqueness counts NULL as a sentinel value, so a
        # has-null column gets +1)
        aggs = [F.count(F.lit(1)).alias("n")]
        for i, c in enumerate(cols):
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"c{i}"))
            aggs.append(
                F.max(F.col(c).isNull().cast("int")).alias(f"h{i}")
            )
        row = df.agg(*aggs).collect()[0]
        n = row["n"]
        nd = {
            c: row[f"c{i}"] + (row[f"h{i}"] or 0)
            for i, c in enumerate(cols)
        }
        unary = []
        if not prune or n == 0:
            unary = [(c,) for c in cols]
        else:
            for c in cols:
                (unary if nd[c] >= MARGIN * n else screened).append((c,))
        if max_arity == 1:
            verify = unary
        else:
            # eager level-by-level (the discover_fds arity-2 shape):
            # exact unary keys prune their supersets from the lattice
            # (TANE minimality — a superset of a key is non-minimal noise)
            rows: list[tuple] = []
            unary_keys: "set[str]" = set()
            if unary:
                for r in _score_uccs(df, unary).collect():
                    rows.append(tuple(r))
                    if r["is_key"]:
                        unary_keys.add(r["key"])
            from itertools import combinations as _comb

            lvl2 = [
                (a, b) for a, b in _comb(sorted(cols), 2)
                if a not in unary_keys and b not in unary_keys
            ] if n > 0 else []
            if len(lvl2) > max_candidates:
                raise ValueError(
                    f"discover_keys: {len(lvl2)} level-2 candidates "
                    f"exceed max_candidates={max_candidates} — narrow "
                    "columns= (or raise the cap deliberately); the "
                    "lattice is never silently sampled"
                )
            lvl2_verify: "list[tuple[str, ...]]" = []
            if prune:
                # arithmetic product bound from the HLLs already in
                # hand: nd(a) * nd(b) < margin * n cannot be a key
                arith = [
                    p for p in lvl2 if nd[p[0]] * nd[p[1]] >= MARGIN * n
                ]
                arith_set = set(arith)
                screened.extend(p for p in lvl2 if p not in arith_set)
                if arith:
                    # ONE extra scan: pair-struct HLL screen (struct is
                    # never NULL, so NULL tuples count — the sentinel
                    # semantics for free)
                    prow = df.agg(*[
                        F.approx_count_distinct(
                            F.struct(F.col(a), F.col(b))
                        ).alias(f"p{k}")
                        for k, (a, b) in enumerate(arith)
                    ]).collect()[0]
                    for k, p in enumerate(arith):
                        (lvl2_verify if prow[f"p{k}"] >= MARGIN * n
                         else screened).append(p)
            else:
                lvl2_verify = lvl2
            if lvl2_verify:
                rows += [
                    tuple(r) for r in _score_uccs(df, lvl2_verify).collect()
                ]
            all_rows = rows + [
                (",".join(ks), len(ks), None, None, None, None, None,
                 False)
                for ks in screened
            ]
            if not all_rows:
                raise ValueError("discover_keys: nothing to score")
            return df.sparkSession.createDataFrame(
                all_rows, _UCC_OUT_SCHEMA
            ).orderBy(
                F.desc_nulls_last("uniqueness_ratio"), F.col("arity"),
                F.col("key"),
            )

    out = _score_uccs(df, verify) if verify else None
    if screened:
        screened_df = df.sparkSession.createDataFrame(
            [(",".join(ks), len(ks), None, None, None, None, None, False)
             for ks in screened],
            _UCC_OUT_SCHEMA,
        )
        out = screened_df if out is None else out.unionByName(screened_df)
    if out is None:
        raise ValueError("discover_keys: nothing to score")
    return out.orderBy(
        F.desc_nulls_last("uniqueness_ratio"), F.col("arity"), F.col("key")
    )


def _inclusion_family(dt) -> "str | None":
    """Type family for inclusion candidate pairing: numerics pool, the
    three time types pool, everything else pairs on its exact type.
    Returns ``None`` for types that cannot be mined at all (anything
    containing a MapType: not hashable, not orderable — min/max and
    approx_count_distinct both raise), so callers skip them instead of
    crashing the whole sweep (ADVICE r13)."""
    from pyspark.sql import types as T

    def _has_map(t) -> bool:
        if isinstance(t, T.MapType):
            return True
        if isinstance(t, T.ArrayType):
            return _has_map(t.elementType)
        if isinstance(t, T.StructType):
            return any(_has_map(f.dataType) for f in t.fields)
        return False

    if _has_map(dt):
        return None
    if isinstance(dt, T.NumericType):
        return "num"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "time"
    return dt.simpleString()


def _inclusion_stats(
    df: DataFrame, cols: list[str], tolerant: bool = False
) -> dict:
    """ONE aggregate: ``{col: (approx_nd, min, max)}`` — the inclusion
    necessary-condition screen's per-table inputs (shared by the
    two-frame miner and the catalog sweep, which computes it once per
    TABLE rather than once per table pair). With ``tolerant=True`` a
    failing aggregate degrades per column — failures record
    ``(None, None, None)`` ("cannot screen, verify exactly") instead of
    killing the caller's N-table hunt (ADVICE r13)."""

    def _one_agg(sub: list[str]) -> dict:
        aggs = []
        for i, c in enumerate(sub):
            col = F.col(c)
            aggs += [
                F.approx_count_distinct(col).alias(f"s{i}_nd"),
                F.min(col).alias(f"s{i}_mn"),
                F.max(col).alias(f"s{i}_mx"),
            ]
        row = df.agg(*aggs).collect()[0]
        return {
            c: (row[f"s{i}_nd"], row[f"s{i}_mn"], row[f"s{i}_mx"])
            for i, c in enumerate(sub)
        }

    if not cols:
        return {}
    if not tolerant:
        return _one_agg(cols)
    try:
        return _one_agg(cols)
    except Exception:
        out: dict = {}
        for c in cols:
            try:
                out.update(_one_agg([c]))
            except Exception:
                out[c] = (None, None, None)
        return out


def discover_inclusions_catalog(
    tables: "Mapping[str, DataFrame]",
    prune: bool = True,
) -> DataFrame:
    """Catalog-level inclusion/FK mining over N tables (the warehouse
    hunt: :func:`discover_inclusions` generalized from one (child,
    parent) frame pair to every ordered pair of a table map). One row
    per candidate ``child_table.child_column ⊆ parent_table.
    parent_column``, ordered (ratio desc, child table/column, parent
    table/column).

    Scale shape: ONE min/max/HLL stats aggregate per TABLE (N scans —
    not N² as a naive per-pair loop would pay), then the per-pair
    batched distinct-values anti-join for survivors only; table pairs
    with no type-compatible columns contribute nothing. The result is a
    single lazy union — collecting it runs the survivors' joins
    together. Self-pairs are skipped (within-table dependencies are
    :func:`discover_fds`' job)."""
    names = sorted(tables)
    if len(names) < 2:
        raise ValueError(
            "discover_inclusions_catalog: need at least 2 tables"
        )
    stats: dict[str, dict] = {}
    if prune:
        # per-table stats restricted to columns that can participate in
        # SOME candidate pair (family shared with another table, family
        # minable at all) — an unpaired MapType/exotic column must not
        # crash or pay for the sweep (ADVICE r13); tolerant=True degrades
        # a still-failing column to "cannot screen" instead of raising
        fams = {
            nm: {
                f.name: _inclusion_family(f.dataType)
                for f in tables[nm].schema.fields
            }
            for nm in names
        }
        for nm in names:
            other = {
                f for o in names if o != nm
                for f in fams[o].values() if f is not None
            }
            eligible = [
                c for c, f in fams[nm].items()
                if f is not None and f in other
            ]
            stats[nm] = _inclusion_stats(tables[nm], eligible, tolerant=True)
    outs = []
    for c_nm in names:
        for p_nm in names:
            if c_nm == p_nm:
                continue
            try:
                d = discover_inclusions(
                    tables[c_nm], tables[p_nm], prune=prune,
                    precomputed_stats=(
                        (stats[c_nm], stats[p_nm]) if prune else None
                    ),
                )
            except ValueError:
                continue  # no type-compatible pairs for this table pair
            outs.append(d.select(
                F.lit(c_nm).alias("child_table"),
                F.col("child_column"),
                F.lit(p_nm).alias("parent_table"),
                F.col("parent_column"),
                F.col("containment_ratio"),
                F.col("contained"),
                F.col("n_child_distinct"),
                F.col("n_missing_distinct"),
                F.col("exact"),
            ))
    if not outs:
        raise ValueError(
            "discover_inclusions_catalog: no type-compatible candidate "
            "pairs anywhere in the catalog"
        )
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out.orderBy(
        F.desc_nulls_last("containment_ratio"),
        F.col("child_table"), F.col("child_column"),
        F.col("parent_table"), F.col("parent_column"),
    )


def discover_inclusions(
    child: DataFrame,
    parent: DataFrame,
    child_cols: list[str] | None = None,
    parent_cols: list[str] | None = None,
    candidates: "list[tuple[str, str]] | None" = None,
    prune: bool = True,
    precomputed_stats: "tuple[Mapping, Mapping] | None" = None,
) -> DataFrame:
    """DISCOVER unary inclusion dependencies ``child.a ⊆ parent.b`` —
    the cross-table complement of :func:`discover_fds` and the mining
    step before :func:`foreign_key` declares a reference (SPIDER/Binder's
    unary tier, bounded to two frames). One row per candidate pair with
    ``contained`` (every non-NULL distinct child value appears in the
    parent — NULL children are vacuous, ANSI FK semantics),
    ``containment_ratio`` = contained distinct child VALUES / all
    distinct child values (value-level, so one pathological hot key
    can't mask a broken reference), distinct/missing counts, ordered
    (ratio desc, child, parent).

    Scale shape, three tiers like FD discovery:

    * tier 1 (``prune=True``): ONE agg per frame — min/max/HLL per
      column — drops pairs failing the inclusion necessary conditions
      (type-compatible; ``nd(a) <= 1.1 * nd(b)``; child min/max inside
      parent min/max for orderable types). Screened-out pairs keep a row
      (``contained=False, exact=False``, NULL counts): definite
      non-inclusions, never verified.
    * tier 2: survivors share ONE distinct-reduced anti join — both
      sides melt to ``(pair_id, canonical value)``, distinct, then a
      single left_anti — the declared :func:`foreign_key` check's
      distinct-parent machinery generalized to every pair at once; the
      join carries distinct VALUES, never rows.

    Explicit ``candidates`` skip pruning (the deterministic oracle
    tier). ``precomputed_stats`` = ``(child_stats, parent_stats)``, each
    ``{col: (nd, min, max)}``, replaces the two tier-1 stat aggregates —
    the catalog sweep computes ONE stats pass per TABLE instead of one
    per table PAIR (:func:`discover_inclusions_catalog`)."""
    c_cols = list(child_cols if child_cols is not None else child.columns)
    p_cols = list(parent_cols if parent_cols is not None else parent.columns)
    missing = sorted(set(c_cols) - set(child.columns))
    missing += sorted(set(p_cols) - set(parent.columns))
    if missing:
        raise ValueError(
            f"discover_inclusions: columns not in frame: {missing}"
        )
    c_types = {f.name: f.dataType for f in child.schema.fields}
    p_types = {f.name: f.dataType for f in parent.schema.fields}

    _family = _inclusion_family

    screened_out: "list[tuple[str, str]]" = []
    if candidates is None:
        pairs = [
            (a, b) for a in c_cols for b in p_cols
            if _family(c_types[a]) is not None
            and _family(c_types[a]) == _family(p_types[b])
        ]
        if not pairs:
            raise ValueError(
                "discover_inclusions: no type-compatible candidate pairs"
            )
        if prune:
            if precomputed_stats is not None:
                cs, ps = precomputed_stats
                need = sorted(
                    {a for a, _ in pairs} - set(cs)
                ) + sorted({b for _, b in pairs} - set(ps))
                if need:
                    raise ValueError(
                        "discover_inclusions: precomputed_stats missing "
                        f"columns: {need}"
                    )
            else:
                cs = _inclusion_stats(child, sorted({a for a, _ in pairs}))
                ps = _inclusion_stats(parent, sorted({b for _, b in pairs}))
            survivors = []
            for a, b in pairs:
                nd_a, mn_a, mx_a = cs[a]
                nd_b, mn_b, mx_b = ps[b]
                if nd_a is None or nd_b is None:
                    ok = True  # stats unavailable: cannot screen — verify
                else:
                    ok = nd_a <= 1.1 * nd_b
                if ok and mn_a is not None and mn_b is not None:
                    try:
                        ok = mn_a >= mn_b and mx_a <= mx_b
                    except TypeError:  # cross-type ordering edge
                        pass
                if ok:
                    survivors.append((a, b))
                else:
                    screened_out.append((a, b))
            pairs = survivors
        if not pairs and not screened_out:
            raise ValueError(
                "discover_inclusions: nothing to score"
            )
    else:
        pairs = [tuple(p) for p in candidates]
        bad = sorted({a for a, _ in pairs} - set(child.columns))
        bad += sorted({b for _, b in pairs} - set(parent.columns))
        if bad:
            raise ValueError(
                f"discover_inclusions: candidate columns not in frame: {bad}"
            )

    out_schema = (
        "child_column string, parent_column string,"
        " containment_ratio double, contained boolean,"
        " n_child_distinct long, n_missing_distinct long, exact boolean"
    )
    exact_df = None
    if pairs:
        # canonical string form so one melt carries every type family.
        # LOSSLESS for integral values (ADVICE r12): 64-bit ids above
        # 2^53 must not collide through a double round-trip, so integral
        # types render via decimal(38,0); fractional types render the
        # integral-VALUED rows the same way (int 5 == double 5.0 == "5")
        # and only genuinely fractional values through double. The time
        # family gets ONE rendering (timestamp_ntz) so a date genuinely
        # contained in a timestamp column matches.
        def _canon(col, dt):
            from pyspark.sql import types as T

            if isinstance(dt, T.NumericType):
                integral = isinstance(
                    dt,
                    (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
                ) or (isinstance(dt, T.DecimalType) and dt.scale == 0)
                exact = col.cast("decimal(38,0)").cast("string")
                if integral:
                    return exact
                d = col.cast("double")
                return F.when(
                    d.isNotNull()
                    & (d == F.round(d))
                    & (F.abs(d) < F.lit(1e38)),
                    exact,
                ).otherwise(d.cast("string"))
            if isinstance(
                dt, (T.DateType, T.TimestampType, T.TimestampNTZType)
            ):
                return col.cast("timestamp_ntz").cast("string")
            return col.cast("string")

        c_structs = [
            F.struct(
                F.lit(i).alias("pid"),
                _canon(F.col(a), c_types[a]).alias("val"),
            )
            for i, (a, _) in enumerate(pairs)
        ]
        p_structs = [
            F.struct(
                F.lit(i).alias("pid"),
                _canon(F.col(b), p_types[b]).alias("val"),
            )
            for i, (_, b) in enumerate(pairs)
        ]
        c_vals = (
            child.select(F.explode(F.array(*c_structs)).alias("kv"))
            .select("kv.*").where(F.col("val").isNotNull()).distinct()
        )
        p_vals = (
            parent.select(F.explode(F.array(*p_structs)).alias("kv"))
            .select("kv.*").where(F.col("val").isNotNull()).distinct()
        )
        dangling = c_vals.join(p_vals, ["pid", "val"], "left_anti")
        # anchor every pid: an ALL-NULL child column melts to zero rows
        # and would vanish — it is vacuously contained (ANSI FK), kept
        # with n_child=0 and a NULL ratio
        pid_frame = child.sparkSession.createDataFrame(
            [(i,) for i in range(len(pairs))], "pid int"
        )
        per_pair = (
            pid_frame.join(
                c_vals.groupBy("pid").agg(
                    F.count(F.lit(1)).alias("n_child")
                ),
                "pid",
                "left",
            )
            .join(
                dangling.groupBy("pid").agg(
                    F.count(F.lit(1)).alias("n_missing")
                ),
                "pid",
                "left",
            )
            .na.fill({"n_child": 0, "n_missing": 0})
        )
        cmap, pmap = None, None
        for i, (a, b) in enumerate(pairs):
            cmap = (F.when(F.col("pid") == i, a) if cmap is None
                    else cmap.when(F.col("pid") == i, a))
            pmap = (F.when(F.col("pid") == i, b) if pmap is None
                    else pmap.when(F.col("pid") == i, b))
        ratio = F.round(
            F.try_divide(F.col("n_child") - F.col("n_missing"),
                         F.col("n_child")),
            ROUND,
        )
        exact_df = per_pair.select(
            cmap.alias("child_column"),
            pmap.alias("parent_column"),
            ratio.alias("containment_ratio"),
            (F.col("n_missing") == 0).alias("contained"),
            F.col("n_child").cast("long").alias("n_child_distinct"),
            F.col("n_missing").cast("long").alias("n_missing_distinct"),
            F.lit(True).alias("exact"),
        )
    out = exact_df
    if screened_out:
        screened_df = child.sparkSession.createDataFrame(
            [(a, b, None, False, None, None, False)
             for a, b in screened_out],
            out_schema,
        )
        out = screened_df if out is None else out.unionByName(screened_df)
    return out.orderBy(
        F.desc_nulls_last("containment_ratio"), F.col("child_column"),
        F.col("parent_column"),
    )


# ---------------------------------------------------------------------------
# compilation — scalar pass
# ---------------------------------------------------------------------------

_SCALAR_KINDS = {
    "completeness", "satisfies", "in_range", "non_negative", "is_in_set",
    "matches", "mean_between", "sum_between", "min_between", "max_between",
    "stddev_between", "quantile_between", "row_count_between",
    "approx_distinct_between",
}
_KEY_KINDS = {"uniqueness", "distinctness", "primary_key"}


def _predicate(chk: Check) -> Column:
    c = F.col(chk.columns[0]) if chk.columns else None
    k = chk.kind
    if k == "in_range":
        return (c >= F.lit(chk.params["lo"])) & (c <= F.lit(chk.params["hi"]))
    if k == "non_negative":
        return c >= F.lit(0)
    if k == "is_in_set":
        return c.isin(*chk.params["values"])
    if k == "matches":
        return c.rlike(chk.params["pattern"])
    raise AssertionError(k)


def _ratio_row(name: str, kind: str, column: str, metric: str,
               value: Column, lo, hi) -> Column:
    """A result row as a struct; pass rule: NULL value passes vacuously.

    ``passed`` compares the UNROUNDED metric against the bounds — the
    reported ``value`` rounds to 4 decimals for display/oracle stability,
    but a gate declared at min_ratio=1.0 must not accept 0.99996 because
    it rounds to 1.0 (at 10^6 rows that's ~40 silent violations).

    A NaN metric FAILS any bounded check: Spark orders NaN above every
    numeric, so on a NaN-poisoned column ``raw >= lo`` would evaluate TRUE
    and a lower-bound-only gate (sum_between(col, 0, None)) would silently
    pass — and diverge from the state path, where ``checks_of`` compares in
    Python (NaN >= lo is False). NULL stays vacuous; NaN is a failure."""
    raw = value.cast("double")
    v = F.round(raw, ROUND)
    lo_c = F.lit(lo).cast("double")
    hi_c = F.lit(hi).cast("double")
    ok = F.lit(True)
    if lo is not None:
        ok = ok & (raw >= lo_c)
    if hi is not None:
        ok = ok & (raw <= hi_c)
    if lo is not None or hi is not None:
        ok = ok & ~F.isnan(raw)
    return F.struct(
        F.lit(name).alias("check_name"),
        F.lit(kind).alias("kind"),
        F.lit(column).alias("column"),
        F.lit(metric).alias("metric"),
        v.alias("value"),
        lo_c.alias("lower"),
        hi_c.alias("upper"),
        F.coalesce(raw.isNull() | ok, F.lit(True)).alias("passed"),
    )


def _scalar_plan(
    checks: list[Check], exact_quantiles: bool
) -> tuple[list[Column], list[Column], list[tuple[Check, str, str]]]:
    """Compile scalar constraints to (declarative aggs, percentile aggs,
    result-row specs) — shared by the batch suite and the streaming tier."""
    decl: list[Column] = [F.count(F.lit(1)).alias("__n")]
    pct: list[Column] = []
    rows: list[tuple[Check, str, str]] = []  # (check, value alias, metric)
    for i, chk in enumerate(checks):
        a = f"__v{i}"
        k = chk.kind
        col = chk.columns[0] if chk.columns else None
        c = F.col(col) if col else None
        if k == "completeness":
            decl.append(F.count(c).alias(a))
            rows.append((chk, a, "completeness"))
        elif k == "satisfies":
            decl.append(
                F.sum(F.when(F.expr(chk.params["predicate"]), 1).otherwise(0))
                .alias(a)
            )
            rows.append((chk, a, "compliance"))
        elif k in ("in_range", "non_negative", "is_in_set", "matches"):
            decl.append(F.sum(F.when(_predicate(chk), 1).otherwise(0)).alias(a))
            decl.append(F.count(c).alias(a + "_d"))
            rows.append((chk, a, "compliance"))
        elif k == "mean_between":
            decl.append(S.mean(c).alias(a))
            rows.append((chk, a, "mean"))
        elif k == "sum_between":
            # stable_sum's decimal accumulation silently NULLs out NaN cells
            # (cast NaN -> decimal is NULL), which would understate the sum
            # and let a poisoned column pass a bound it should fail — surface
            # NaN poisoning as a NaN metric, which _ratio_row fails (and the
            # state path's moment arithmetic reproduces)
            poisoned = (
                F.sum(F.when(F.isnan(c.cast("double")), 1).otherwise(0)) > 0
            )
            decl.append(
                F.when(poisoned, F.lit(float("nan")))
                .otherwise(S.stable_sum(c))
                .alias(a)
            )
            rows.append((chk, a, "sum"))
        elif k == "min_between":
            decl.append(F.min(c).cast("double").alias(a))
            rows.append((chk, a, "min"))
        elif k == "max_between":
            decl.append(F.max(c).cast("double").alias(a))
            rows.append((chk, a, "max"))
        elif k == "stddev_between":
            decl.append(S.stddev(c).alias(a))
            rows.append((chk, a, "stddev"))
        elif k == "quantile_between":
            pct.append(
                S.quantile(c, chk.params["q"], exact=exact_quantiles).alias(a)
            )
            rows.append((chk, a, f"q{chk.params['q']}"))
        elif k == "approx_distinct_between":
            decl.append(
                F.approx_count_distinct(c, chk.params["rsd"]).alias(a)
            )
            rows.append((chk, a, "approx_distinct"))
        elif k == "row_count_between":
            rows.append((chk, "__n", "row_count"))
        else:  # pragma: no cover
            raise AssertionError(k)
    return decl, pct, rows


def _scalar_structs(rows: list[tuple[Check, str, str]]) -> list[Column]:
    """Result-row structs over the (windowed or global) aggregate output."""
    structs = []
    for chk, a, metric in rows:
        p = chk.params
        if chk.kind == "completeness":
            val = F.try_divide(F.col(a), F.col("__n"))
            lo, hi = p["min_ratio"], None
        elif chk.kind == "satisfies":
            val = F.try_divide(F.col(a), F.col("__n"))
            lo, hi = p["min_ratio"], None
        elif chk.kind in ("in_range", "non_negative", "is_in_set", "matches"):
            val = F.try_divide(F.col(a), F.col(a + "_d"))
            lo, hi = p["min_ratio"], None
        elif chk.kind == "row_count_between":
            val = F.col(a)
            lo, hi = p["lo"], p["hi"]
        else:
            val = F.col(a)
            lo, hi = p["lo"], p["hi"]
        structs.append(
            _ratio_row(chk.name, chk.kind, chk.display_column(), metric, val,
                       lo, hi)
        )
    return structs


def _scalar_rows(df: DataFrame, checks: list[Check],
                 exact_quantiles: bool) -> DataFrame | None:
    """ALL scalar constraints as ONE aggregate pass (+ a percentile branch)."""
    decl, pct, rows = _scalar_plan(checks, exact_quantiles)
    if not rows:
        return None
    agg = df.agg(*decl)
    if pct:
        # separate percentile aggregation, joined 1-row x 1-row (see module doc)
        agg = agg.join(df.agg(*pct))
    structs = _scalar_structs(rows)
    return agg.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# compilation — uniqueness family (ONE melt shuffle for every key subset)
# ---------------------------------------------------------------------------


def _esc_component(c: Column) -> Column:
    """Escape one key component (see the KEY_SEP/KEY_ESC contract above):
    double every ESC, then prefix every SEP with ESC — injective, and the
    output never contains a raw SEP or the NULL sentinel."""
    s = c.cast("string")
    s = F.replace(s, F.lit(KEY_ESC), F.lit(KEY_ESC + KEY_ESC))
    s = F.replace(s, F.lit(KEY_SEP), F.lit(KEY_ESC + KEY_SEP))
    return s


def _key_expr(cols: tuple[str, ...]) -> Column:
    parts = [
        F.coalesce(_esc_component(F.col(c)), F.lit(NULL_SENTINEL))
        for c in cols
    ]
    return F.concat_ws(KEY_SEP, *parts)


def _sql_chars(s: str) -> str:
    """SQL expression for ``s`` built from ``chr`` codes, so control
    characters survive whatever string-literal escaping the parser uses."""
    return "concat(" + ", ".join(f"chr({ord(ch)})" for ch in s) + ")"


def _key_sql(cols: tuple[str, ...]) -> str:
    """SQL-text twin of :func:`_key_expr` (same escape, sentinel and
    separator), for aggregates built as fragment strings. Names are
    backtick-quoted, so dotted names reference top-level columns."""
    esc, sep = _sql_chars(KEY_ESC), _sql_chars(KEY_SEP)
    parts = []
    for c in cols:
        s = f"cast({S.sq(c)} as string)"
        s = f"replace({s}, {esc}, {_sql_chars(KEY_ESC + KEY_ESC)})"
        s = f"replace({s}, {sep}, {_sql_chars(KEY_ESC + KEY_SEP)})"
        parts.append(f"coalesce({s}, {_sql_chars(NULL_SENTINEL)})")
    return f"concat_ws({sep}, {', '.join(parts)})"


def _key_rows(df: DataFrame, checks: list[Check]) -> DataFrame | None:
    if not checks:
        return None
    structs = [
        F.struct(F.lit(i).alias("sid"), _key_expr(chk.columns).alias("key"),
                 # NULL-component flag rides the melt for primary_key
                 sum(
                     (F.col(c).isNull().cast("int") for c in chk.columns),
                     F.lit(0),
                 ).alias("null_parts"))
        for i, chk in enumerate(checks)
    ]
    melted = df.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")
    # one marker row per subset keeps the aggregate TOTAL on an empty input
    # (a bare groupBy would emit zero rows and the check would silently
    # vanish from the gate); its key is NULL — unreachable by real keys,
    # which concat_ws never renders as NULL — so count("key") excludes it
    # and an empty frame yields NULL ratios (vacuous pass)
    marker = df.sparkSession.createDataFrame(
        [(i, None, 0) for i in range(len(checks))],
        "sid int, key string, null_parts int",
    )
    per_key = melted.unionByName(marker).groupBy("sid", "key").agg(
        F.count("key").alias("cnt"),
        F.sum("null_parts").alias("null_parts"),
    )
    per_sid = per_key.groupBy("sid").agg(
        F.sum("cnt").alias("rows"),
        F.sum(F.when(F.col("cnt") > 0, 1).otherwise(0)).alias("groups"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("singletons"),
        F.sum("null_parts").alias("null_parts"),
    )
    structs_out = []
    whens = None
    for i, chk in enumerate(checks):
        if chk.kind == "uniqueness":
            val = F.try_divide(F.col("singletons"), F.col("rows"))
            lo, metric = chk.params["min_ratio"], "uniqueness"
        elif chk.kind == "distinctness":
            val = F.try_divide(F.col("groups"), F.col("rows"))
            lo, metric = chk.params["min_ratio"], "distinctness"
        else:  # primary_key: unique AND fully non-null
            val = F.when(F.col("null_parts") > 0, F.lit(0.0)).otherwise(
                F.try_divide(F.col("singletons"), F.col("rows")))
            lo, metric = 1.0, "primary_key"
        row = _ratio_row(chk.name, chk.kind, chk.display_column(), metric, val,
                         lo, None)
        whens = (F.when(F.col("sid") == i, row) if whens is None
                 else whens.when(F.col("sid") == i, row))
    return per_sid.select(whens.alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# compilation — functional dependencies (ONE shared melt shuffle)
# ---------------------------------------------------------------------------


def _fd_rows(df: DataFrame, checks: list[Check]) -> DataFrame | None:
    if not checks:
        return None
    structs = []
    for i, chk in enumerate(checks):
        n_det = chk.params["n_det"]
        det, dep = chk.columns[:n_det], chk.columns[n_det]
        structs.append(
            F.struct(
                F.lit(i).alias("fid"),
                _key_expr(det).alias("det"),
                F.coalesce(_esc_component(F.col(dep)),
                           F.lit(NULL_SENTINEL)).alias("dep"),
            )
        )
    melted = df.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")
    # the _key_rows marker pattern: one NULL-det row per FD keeps the
    # aggregate total on an empty input (real dets are never NULL); its
    # dep is NULL so count_distinct sees an empty group
    marker = df.sparkSession.createDataFrame(
        [(i, None, None) for i in range(len(checks))],
        "fid int, det string, dep string",
    )
    per_group = melted.unionByName(marker).groupBy("fid", "det").agg(
        F.count_distinct(F.col("dep")).alias("ndep")
    )
    per_fd = per_group.groupBy("fid").agg(
        F.sum(F.when(F.col("ndep") > 0, 1).otherwise(0)).alias("groups"),
        F.sum(F.when(F.col("ndep") > 1, 1).otherwise(0)).alias("violating"),
    )
    whens = None
    for i, chk in enumerate(checks):
        val = F.try_divide(F.col("groups") - F.col("violating"), F.col("groups"))
        row = _ratio_row(chk.name, chk.kind, chk.display_column(),
                         "dependency_ratio", val, chk.params["min_ratio"], None)
        whens = (F.when(F.col("fid") == i, row) if whens is None
                 else whens.when(F.col("fid") == i, row))
    return per_fd.select(whens.alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# compilation — foreign keys (anti-join per FK, distinct-reduced parent)
# ---------------------------------------------------------------------------


def _fk_rows(df: DataFrame, checks: list[Check],
             refs: Mapping[str, DataFrame]) -> DataFrame | None:
    if not checks:
        return None
    out: DataFrame | None = None
    for chk in checks:
        ref_name = chk.params["ref"]
        if ref_name not in refs:
            raise ValueError(
                f"foreign_key check {chk.name!r} references frame {ref_name!r} "
                f"— pass it via check_suite(refs={{{ref_name!r}: df}})"
            )
        child_cols = list(chk.columns)
        parent_cols = list(chk.params["ref_cols"])
        parent = (
            refs[ref_name]
            .select(*[F.col(p).alias(c) for c, p in zip(child_cols, parent_cols)])
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        non_null = df
        for c in child_cols:
            non_null = non_null.filter(F.col(c).isNotNull())
        # ONE scan of the child: left join against the distinct parent keys,
        # then total + miss counts from the same conditional aggregate (an
        # anti-join count would need a second child scan for the total)
        agg = (
            non_null.select(*child_cols)
            .join(parent, on=child_cols, how="left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(
                    F.when(F.col("__hit").isNull(), 1).otherwise(0)
                ).alias("violations"),
            )
        )
        val = F.try_divide(F.col("violations"), F.col("n_child"))
        # empty child side: 0 violations over 0 rows — vacuous pass (NULL)
        row_df = agg.select(
            _ratio_row(chk.name, chk.kind, chk.display_column(),
                       "violation_ratio", val, None,
                       chk.params["max_violation_ratio"]).alias("r")
        ).select("r.*")
        out = row_df if out is None else out.unionByName(row_df)
    return out


# ---------------------------------------------------------------------------
# the suite
# ---------------------------------------------------------------------------


def _schema_rows(df: DataFrame, checks: list[Check]) -> DataFrame | None:
    """Schema contracts evaluated from ``df.schema`` — zero Spark jobs;
    the result rows materialize via a local createDataFrame so the suite
    union stays one frame. ``value`` = fraction of expected columns
    present with the expected type; extras fail only when declared."""
    if not checks:
        return None
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    data = []
    for chk in checks:
        exp = dict(chk.params["columns"])
        matched = sum(1 for c, t in exp.items() if actual.get(c) == t)
        extras = sorted(set(actual) - set(exp))
        # metric must reconstruct the verdict against lower=1.0 like every
        # other family's rows: with allow_extra=False, unexpected columns
        # dilute the denominator so value<1.0 exactly when extras exist
        if chk.params["allow_extra"]:
            value = matched / len(exp)
        else:
            value = matched / max(len(exp), len(actual))
        passed = matched == len(exp) and (
            chk.params["allow_extra"] or not extras
        )
        data.append((
            chk.name, "schema", chk.display_column(), "schema_match",
            round(value, ROUND), 1.0, None, bool(passed),
        ))
    return df.sparkSession.createDataFrame(
        data,
        "check_name string, kind string, column string, metric string,"
        " value double, lower double, upper double, passed boolean",
    )


def check_suite(
    df: DataFrame,
    checks: list[Check],
    *,
    refs: Mapping[str, DataFrame] | None = None,
    exact_quantiles: bool = True,
) -> DataFrame:
    """Run a declared suite; one row per check, ordered by check_name.

    Job count is bounded by constraint FAMILIES, not constraint count:
    scalar checks cost one scan total, uniqueness-family one shuffle total,
    FDs one shuffle total, plus one anti-join per foreign key.
    """
    names = [c.name for c in checks]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"duplicate check names: {sorted(dupes)}")
    groups: dict[str, list[Check]] = {
        "scalar": [], "key": [], "fd": [], "fk": [], "schema": [],
    }
    for chk in checks:
        if chk.kind in _SCALAR_KINDS:
            groups["scalar"].append(chk)
        elif chk.kind in _KEY_KINDS:
            groups["key"].append(chk)
        elif chk.kind == "functional_dependency":
            groups["fd"].append(chk)
        elif chk.kind == "foreign_key":
            groups["fk"].append(chk)
        elif chk.kind == "schema":
            groups["schema"].append(chk)
        else:
            raise ValueError(f"unknown check kind: {chk.kind}")
    parts = [
        _scalar_rows(df, groups["scalar"], exact_quantiles),
        _key_rows(df, groups["key"]),
        _fd_rows(df, groups["fd"]),
        _fk_rows(df, groups["fk"], refs or {}),
        _schema_rows(df, groups["schema"]),
    ]
    out: DataFrame | None = None
    for p in parts:
        if p is not None:
            out = p if out is None else out.unionByName(p)
    if out is None:
        raise ValueError("check_suite: empty check list")
    return out.orderBy("check_name")


#: kinds with a row-level violation concept (check_violations); metric
#: bounds (mean/sum/.../quantile/row_count/approx_distinct) and
#: distinctness describe aggregates, not rows — they refuse by name
_VIOLATION_KINDS = {
    "in_range", "non_negative", "is_in_set", "matches", "satisfies",
    "completeness", "uniqueness", "primary_key", "foreign_key",
    "functional_dependency",
}


def check_violations(
    df: DataFrame,
    checks: list[Check],
    *,
    refs: Mapping[str, DataFrame] | None = None,
    limit: int = 10,
) -> DataFrame:
    """WHICH values break a gate — the debugging surface behind a failed
    :func:`check_suite` row (Deequ's row-level results idea, Schelter et
    al. VLDB'18 §4.3; the reference has no validation surface at all).

    One row per offending VALUE (not per offending row — at 100 TB the
    violating rows may be billions; the distinct values with counts are the
    actionable artifact): ``(check_name, kind, column, violation,
    n_rows)``, the ``limit`` heaviest violations per check, deterministic
    (count desc, value asc — TakeOrderedAndProject per check, never a
    global sort). Kind semantics:

    * predicate kinds (in_range / non_negative / is_in_set / matches):
      distinct non-null values failing the predicate
    * completeness: the single NULL "value" with its count
    * satisfies: distinct value tuples of the check's declared ``columns``
      over rows failing the predicate (a satisfies check without declared
      columns refuses — there is nothing to display)
    * uniqueness / primary_key: key tuples occurring more than once (plus,
      for primary_key, keys with NULL components)
    * foreign_key: distinct dangling child keys
    * functional_dependency: determinant values mapping to >1 dependent
      (n_rows = number of distinct dependents)

    This is a DIAGNOSTIC tier, deliberately separate from the gate: the
    gate stays one-scan-per-family; this pays one bounded job per check,
    and you run it on the handful of checks that failed, not the suite."""
    if limit <= 0:
        raise ValueError(f"limit must be positive, got {limit}")
    bad = [c.name for c in checks if c.kind not in _VIOLATION_KINDS]
    if bad:
        raise ValueError(
            "check_violations: no row-level violation concept for "
            f"aggregate-metric checks: {bad}"
        )
    refs = refs or {}
    out: DataFrame | None = None
    for chk in checks:
        k = chk.kind
        if k in ("in_range", "non_negative", "is_in_set", "matches"):
            c = F.col(chk.columns[0])
            viol = (
                df.where(c.isNotNull() & ~_predicate(chk))
                .groupBy(c.cast("string").alias("violation"))
                .agg(F.count(F.lit(1)).alias("n_rows"))
            )
        elif k == "completeness":
            c = F.col(chk.columns[0])
            viol = (
                df.where(c.isNull())
                .groupBy(F.lit("NULL").alias("violation"))
                .agg(F.count(F.lit(1)).alias("n_rows"))
            )
        elif k == "satisfies":
            if not chk.columns:
                raise ValueError(
                    f"check_violations: satisfies check {chk.name!r} "
                    "declares no columns — pass columns=(...) to the "
                    "constructor so violations have a display value"
                )
            disp = F.concat_ws(
                ",",
                *[
                    F.coalesce(F.col(c_).cast("string"), F.lit("NULL"))
                    for c_ in chk.columns
                ],
            )
            viol = (
                df.where(
                    ~F.coalesce(F.expr(chk.params["predicate"]), F.lit(False))
                )
                .groupBy(disp.alias("violation"))
                .agg(F.count(F.lit(1)).alias("n_rows"))
            )
        elif k in ("uniqueness", "primary_key"):
            disp = F.concat_ws(
                ",",
                *[
                    F.coalesce(F.col(c_).cast("string"), F.lit("NULL"))
                    for c_ in chk.columns
                ],
            )
            null_any = None
            for c_ in chk.columns:
                e = F.col(c_).isNull()
                null_any = e if null_any is None else (null_any | e)
            grouped = df.groupBy(
                _key_expr(chk.columns).alias("__k"),
                disp.alias("violation"),
            ).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.max(null_any.cast("int")).alias("__has_null"),
            )
            cond = F.col("n_rows") > 1
            if k == "primary_key":
                cond = cond | (F.col("__has_null") == 1)
            viol = grouped.where(cond).select("violation", "n_rows")
        elif k == "foreign_key":
            ref_df = refs.get(chk.params["ref"])
            if ref_df is None:
                raise ValueError(
                    f"check_violations: foreign_key {chk.name!r} needs "
                    f"refs[{chk.params['ref']!r}]"
                )
            ref_cols = chk.params["ref_cols"]
            child = df
            nn = None
            for c_ in chk.columns:
                e = F.col(c_).isNotNull()
                nn = e if nn is None else (nn & e)
            child = child.where(nn)
            parent = ref_df.select(
                *[
                    F.col(rc).alias(f"__p{i}")
                    for i, rc in enumerate(ref_cols)
                ]
            ).distinct()
            cond = None
            for i, c_ in enumerate(chk.columns):
                e = F.col(c_) == F.col(f"__p{i}")
                cond = e if cond is None else (cond & e)
            disp = F.concat_ws(
                ",", *[F.col(c_).cast("string") for c_ in chk.columns]
            )
            # distinct-reduced parent; AQE picks broadcast when it fits —
            # forcing it would break on dimension tables that do not
            viol = (
                child.join(parent, cond, "left_anti")
                .groupBy(disp.alias("violation"))
                .agg(F.count(F.lit(1)).alias("n_rows"))
            )
        else:  # functional_dependency
            n_det = chk.params["n_det"]
            det, dep = chk.columns[:n_det], chk.columns[n_det]
            disp = F.concat_ws(
                ",",
                *[
                    F.coalesce(F.col(c_).cast("string"), F.lit("NULL"))
                    for c_ in det
                ],
            )
            viol = (
                df.groupBy(
                    _key_expr(det).alias("__k"), disp.alias("violation")
                )
                .agg(
                    F.count_distinct(
                        F.coalesce(
                            _esc_component(F.col(dep)), F.lit(NULL_SENTINEL)
                        )
                    ).alias("n_rows")
                )
                .where(F.col("n_rows") > 1)
                .select("violation", "n_rows")
            )
        top = (
            viol.orderBy(F.desc("n_rows"), F.asc("violation"))
            .limit(limit)
            .select(
                F.lit(chk.name).alias("check_name"),
                F.lit(k).alias("kind"),
                F.lit(chk.display_column()).alias("column"),
                "violation",
                "n_rows",
            )
        )
        out = top if out is None else out.unionByName(top)
    if out is None:
        raise ValueError("check_violations: empty check list")
    return out


def validation_summary(result_rows: list[dict] | DataFrame) -> dict[str, Any]:
    """Driver-side rollup: {n_checks, n_failed, failed:[...], passed: bool}."""
    if isinstance(result_rows, DataFrame):
        result_rows = [r.asDict() for r in result_rows.collect()]
    failed = [r for r in result_rows if not r["passed"]]
    return {
        "n_checks": len(result_rows),
        "n_failed": len(failed),
        "passed": not failed,
        "failed": [
            {
                "check_name": r["check_name"],
                "kind": r["kind"],
                "column": r["column"],
                "metric": r["metric"],
                "value": r["value"],
                "lower": r["lower"],
                "upper": r["upper"],
                **({"exact": r["exact"]} if "exact" in r else {}),
            }
            for r in failed
        ],
    }


def check_alerts(summary: dict[str, Any]) -> list[dict[str, Any]]:
    """CHECK_FAILED alert rows in the plans/alerts dict shape."""
    return [
        {
            "alert_type": "CHECK_FAILED",
            "column": f["column"] or None,
            "check_name": f["check_name"],
            "kind": f["kind"],
            "metric": f["metric"],
            "value": f["value"],
            "lower": f["lower"],
            "upper": f["upper"],
        }
        for f in summary["failed"]
    ]


# ---------------------------------------------------------------------------
# constraint suggestion — driver arithmetic over an existing profile
# ---------------------------------------------------------------------------


def suggest_checks(
    variables: Mapping[str, Mapping[str, Any]],
    *,
    n_rows: int | None = None,
    set_cardinality_cap: int = 20,
    range_slack: float = 0.0,
    spark_schema=None,
) -> list[Check]:
    """Turn a computed profile into a declared suite (zero Spark work).

    The suggestion property (pytest-pinned): every suggested check PASSES on
    the frame it was profiled from. Numeric ranges widen by ``range_slack``
    (fractional) so tomorrow's load has headroom; completeness floors at the
    observed ratio rounded DOWN to 4 decimals.

    Accepts ``profile(df).variables`` or ``finalize_partial(state)["variables"]``
    (the state shape carries tuple-shaped top values, no ``n_unique``, and
    only an APPROXIMATE distinct count — so a state suggests the
    completeness / range family but never uniqueness or is_in_set, which
    need exact group visibility the sketch cannot give).

    ``spark_schema`` (the frame's ``df.schema``) prepends a
    :func:`schema_matches` contract over the profiled columns, so the
    suggested suite also gates renames/re-types from day one — a
    VariableType alone cannot say ``bigint`` vs ``double``, hence the
    explicit schema argument rather than an inference.
    """
    out: list[Check] = []
    if spark_schema is not None:
        typed = {
            f.name: f.dataType.simpleString()
            for f in spark_schema.fields
            if f.name in variables
        }
        if typed:
            out.append(schema_matches(typed, name="schema"))
    for col, v in variables.items():
        cnt = v.get("count")
        n_miss = v.get("n_missing")
        if cnt is None:
            continue
        total = (cnt + n_miss) if n_miss is not None else n_rows
        if total:
            observed = cnt / total
            floor = int(observed * 10**ROUND) / 10**ROUND
            out.append(completeness(col, min_ratio=floor))
        vmin, vmax = v.get("min"), v.get("max")
        if (
            isinstance(vmin, (int, float))
            and isinstance(vmax, (int, float))
            and not isinstance(vmin, bool)
            and not isinstance(vmax, bool)
            # NaN/inf extremes: span arithmetic poisons both bounds to NaN
            # and the suggested in_range would FAIL on the profiled frame
            and math.isfinite(vmin)
            and math.isfinite(vmax)
        ):
            span = (vmax - vmin) or abs(vmin) or 1.0
            out.append(
                in_range(col, vmin - range_slack * span, vmax + range_slack * span)
            )
        n_distinct = v.get("n_distinct")
        n_unique = v.get("n_unique")
        if cnt:
            # uniqueness counts NULL keys as values, so only suggest it when
            # the profiled column had no missing rows (else the floor is wrong)
            if n_unique == cnt and not (n_miss or 0):
                out.append(uniqueness(col))
            top = v.get("top_values")
            if (
                n_distinct is not None  # exact only — never n_distinct_approx
                and n_distinct <= set_cardinality_cap
                and top is not None
                and len(top) >= n_distinct
            ):
                # profile() top_values are {"value","count"} dicts; the
                # state shape is (value, count) tuples
                raw = [
                    t["value"] if isinstance(t, dict) else t[0]
                    for t in top[:n_distinct]
                ]
                values = sorted(x for x in raw if x is not None)
                if values:
                    out.append(is_in_set(col, values))
    return out


# ---------------------------------------------------------------------------
# suite (de)serialization — the artifact the CLI daily loop reads/writes
# ---------------------------------------------------------------------------

_CTORS = {
    "completeness": lambda d: completeness(
        d["column"], d.get("min_ratio", 1.0), d.get("name")),
    "satisfies": lambda d: satisfies(
        d["predicate"], d["name"], d.get("min_ratio", 1.0),
        tuple(d.get("columns", ()))),
    "in_range": lambda d: in_range(
        d["column"], d["lo"], d["hi"], d.get("min_ratio", 1.0), d.get("name")),
    "non_negative": lambda d: non_negative(
        d["column"], d.get("min_ratio", 1.0), d.get("name")),
    "is_in_set": lambda d: is_in_set(
        d["column"], d["values"], d.get("min_ratio", 1.0), d.get("name")),
    "matches": lambda d: matches(
        d["column"], d["pattern"], d.get("min_ratio", 1.0), d.get("name")),
    "mean_between": lambda d: mean_between(
        d["column"], d.get("lo"), d.get("hi"), d.get("name")),
    "sum_between": lambda d: sum_between(
        d["column"], d.get("lo"), d.get("hi"), d.get("name")),
    "min_between": lambda d: min_between(
        d["column"], d.get("lo"), d.get("hi"), d.get("name")),
    "max_between": lambda d: max_between(
        d["column"], d.get("lo"), d.get("hi"), d.get("name")),
    "stddev_between": lambda d: stddev_between(
        d["column"], d.get("lo"), d.get("hi"), d.get("name")),
    "quantile_between": lambda d: quantile_between(
        d["column"], d["q"], d.get("lo"), d.get("hi"), d.get("name")),
    "row_count_between": lambda d: row_count_between(
        d.get("lo"), d.get("hi"), d.get("name", "row_count")),
    "approx_distinct_between": lambda d: approx_distinct_between(
        d["column"], d.get("lo"), d.get("hi"), d.get("rsd", 0.05),
        d.get("name")),
    "uniqueness": lambda d: uniqueness(
        d.get("columns", d.get("column")), d.get("min_ratio", 1.0),
        d.get("name")),
    "distinctness": lambda d: distinctness(
        d.get("columns", d.get("column")), d.get("min_ratio", 0.0),
        d.get("name")),
    "primary_key": lambda d: primary_key(
        d.get("columns", d.get("column")), d.get("name")),
    "foreign_key": lambda d: foreign_key(
        d.get("columns", d.get("column")), d["ref"],
        d.get("ref_cols", d.get("ref_col")),
        d.get("max_violation_ratio", 0.0), d.get("name")),
    "functional_dependency": lambda d: functional_dependency(
        d["determinant"], d["dependent"], d.get("min_ratio", 1.0),
        d.get("name")),
    "schema": lambda d: schema_matches(
        d["columns"], d.get("allow_extra", True), d.get("name")),
}


def checks_from_spec(spec: dict | list) -> list[Check]:
    """Parse ``{"checks": [{kind: ..., ...}, ...]}`` (or the bare list)."""
    items = spec["checks"] if isinstance(spec, dict) else spec
    out = []
    for i, d in enumerate(items):
        kind = d.get("kind")
        if kind not in _CTORS:
            raise ValueError(
                f"checks[{i}]: unknown kind {kind!r} "
                f"(known: {sorted(_CTORS)})"
            )
        try:
            out.append(_CTORS[kind](d))
        except KeyError as e:
            raise ValueError(f"checks[{i}] ({kind}): missing field {e}")
        except TypeError as e:
            # e.g. uniqueness with neither "columns" nor "column" — the
            # ctor sees None; surface the named spec error, not a traceback
            raise ValueError(f"checks[{i}] ({kind}): bad or missing field ({e})")
    return out


def checks_to_spec(checks: list[Check]) -> dict:
    """Inverse of :func:`checks_from_spec` (round-trips exactly)."""
    items = []
    for c in checks:
        d: dict[str, Any] = {"kind": c.kind, "name": c.name}
        p = dict(c.params)
        if c.kind == "functional_dependency":
            n_det = p.pop("n_det")
            d["determinant"] = list(c.columns[:n_det])
            d["dependent"] = c.columns[n_det]
        elif c.kind == "foreign_key":
            d["columns"] = list(c.columns)
            d["ref"] = p.pop("ref")
            d["ref_cols"] = list(p.pop("ref_cols"))
        elif c.kind == "schema":
            d["columns"] = dict(p.pop("columns"))
        elif c.kind in _KEY_KINDS or c.kind == "satisfies":
            if c.columns:
                d["columns"] = list(c.columns)
        elif c.columns:
            d["column"] = c.columns[0]
        if "values" in p:
            p["values"] = list(p["values"])
        d.update(p)
        items.append(d)
    return {"checks": items}


# ---------------------------------------------------------------------------
# Benford first-digit diagnostic — the fraud/corruption forensic for numeric
# columns (complements the declared suite: you don't know the expected digit
# mix up front, Benford's law supplies it for scale-spanning positive data)
# ---------------------------------------------------------------------------

#: P(d) = log10(1 + 1/d) — Benford's law first-digit distribution
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _first_digit(c: Column) -> Column:
    """First significant digit of |value|, 1-9; NULL for null/zero/non-finite.

    Extracted from the printf-rendered SCIENTIFIC form (``%.9e`` — the
    leading character is the first significant digit for any finite
    non-zero double, so sub-1e-10 magnitudes bin correctly where a fixed
    ``%f`` width would render them as all zeros) instead of
    ``floor(x / 10^floor(log10 x))`` arithmetic: libm ``log10``/``pow``
    differ in the last ulp across engines (e.g. 0.03/0.01 = 2.999...96 →
    digit 2, wrong and engine-dependent), while printf renders the
    correctly rounded decimal of the same IEEE double identically in JVM
    and C. Residual boundary: a value within half an ulp of ten 9s
    (9.999999999xe+k) rounds up and bins as 1 — measure-zero in practice.
    """
    dec = F.format_string("%.9e", F.abs(c.cast("double")))
    digit = F.regexp_extract(dec, "[1-9]", 0)
    return F.when(
        c.isNotNull() & (c.cast("double") != 0.0)
        & ~F.isnan(c.cast("double"))
        & (F.abs(c.cast("double")) != float("inf"))
        & (digit != ""),
        digit.cast("int"),
    )


def benford_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Observed vs Benford first-digit mix, ALL columns in ONE scan.

    One conditional aggregate (9 counters per column + the eligible-value
    count — zero shuffles), exploded to long rows ``(col_name, digit, n,
    observed_p, expected_p)``; eligible = non-null, non-zero, finite.
    Deviation scoring stays driver-side (:func:`benford_alerts`) — the
    digit counts are the distributed part.
    """
    # compute each column's first digit ONCE per row in a pre-aggregation
    # projection (guide §1.2 per-task work): the printf+regex digit
    # expression is far more expensive than the conditional sums it
    # feeds, and embedding it in the aggregate evaluates 10 copies per
    # column per row — codegen does NOT common them up (r15 interleaved
    # A/B at sf0.1: 13.3 s -> 3.0 s median, bit-identical). The Project
    # fuses into the partial aggregate's codegen stage, so the digit is
    # one generated local per row.
    proj = df.select(
        *[_first_digit(F.col(c)).alias(f"d{i}") for i, c in enumerate(cols)]
    )
    aggs = []
    for i, col in enumerate(cols):
        d = F.col(f"d{i}")
        aggs.append(F.count(d).alias(f"t{i}"))
        for dig in range(1, 10):
            aggs.append(
                F.sum(F.when(d == dig, 1).otherwise(0)).alias(f"c{i}_{dig}")
            )
    agg = proj.agg(*aggs)
    structs = [
        F.struct(
            F.lit(col).alias("col_name"),
            F.lit(dig).alias("digit"),
            F.col(f"c{i}_{dig}").cast("double").alias("n"),
            F.round(
                F.try_divide(F.col(f"c{i}_{dig}"), F.col(f"t{i}")), ROUND
            ).alias("observed_p"),
            F.lit(round(BENFORD_P[dig], ROUND)).alias("expected_p"),
        )
        for i, col in enumerate(cols)
        for dig in range(1, 10)
    ]
    return (
        agg.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .orderBy("col_name", "digit")
    )


def benford_alerts(
    rows: list[dict] | DataFrame, chi2_threshold: float = 100.0
) -> list[dict[str, Any]]:
    """Driver-side scoring over :func:`benford_profile` rows.

    Pearson chi² against the Benford expectation per column (8 dof) plus the
    max absolute proportion deviation; BENFORD_DEVIATION alert when chi²
    exceeds the threshold. The default threshold is deliberately far above
    the 8-dof critical value (~20 at α=0.01): at pipeline scale every real
    column is "statistically" non-Benford, the alert is for FORENSIC-sized
    deviations.
    """
    if isinstance(rows, DataFrame):
        rows = [r.asDict() for r in rows.collect()]
    by_col: dict[str, list[dict]] = {}
    for r in rows:
        by_col.setdefault(r["col_name"], []).append(r)
    out = []
    for col, rs in sorted(by_col.items()):
        total = sum(r["n"] for r in rs)
        if not total:
            continue
        chi2 = 0.0
        max_dev = 0.0
        for r in rs:
            exp = BENFORD_P[r["digit"]] * total
            chi2 += (r["n"] - exp) ** 2 / exp
            max_dev = max(max_dev, abs(r["n"] / total - BENFORD_P[r["digit"]]))
        if chi2 > chi2_threshold:
            out.append({
                "alert_type": "BENFORD_DEVIATION",
                "column": col,
                "chi2": round(chi2, 4),
                "max_abs_deviation": round(max_dev, 4),
                "n": int(total),
            })
    return out


def check_suite_by(
    df: DataFrame,
    checks: list[Check],
    by: list[str] | str,
    *,
    exact_quantiles: bool = True,
) -> DataFrame:
    """Per-segment gate: the scalar suite evaluated PER VALUE of ``by``.

    "completeness per language >= 0.99" — the contract a mixture pipeline
    declares per segment, not per table. One grouped conditional aggregate
    for the whole suite (quantile bounds ride a second grouped aggregation
    joined on the keys, the usual split); output is the batch result schema
    prefixed with the ``by`` columns, one row per (segment, check); a NULL
    segment value is a real group. Only the scalar family is segmentable
    here — a per-segment uniqueness IS ``uniqueness([*by, *cols])`` on the
    whole table, declare that instead (the refusal names this rewrite).
    """
    by = [by] if isinstance(by, str) else list(by)
    if not checks:
        raise ValueError("check_suite_by: empty check list")
    names = [c.name for c in checks]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"duplicate check names: {sorted(dupes)}")
    unsupported = [c.name for c in checks if c.kind not in _SCALAR_KINDS]
    if unsupported:
        raise ValueError(
            "check_suite_by: only scalar constraints segment (per-segment "
            "uniqueness is uniqueness([by + cols]) on the whole table; FK/FD "
            f"gate the table, not a slice): {unsupported}"
        )
    decl, pct, rows = _scalar_plan(checks, exact_quantiles)
    agg = df.groupBy(*by).agg(*decl)
    if pct:
        # null-safe join: a NULL segment value is a real group and a plain
        # equality join would silently drop its quantile rows
        pagg = df.groupBy(*by).agg(*pct)
        cond = None
        for c in by:
            eq = agg[c].eqNullSafe(pagg[c])
            cond = eq if cond is None else cond & eq
        agg = agg.join(pagg, cond)
        for c in by:
            agg = agg.drop(pagg[c])
    structs = _scalar_structs(rows)
    return (
        agg.select(*by, F.explode(F.array(*structs)).alias("r"))
        .select(*by, "r.*")
        .orderBy(*by, "check_name")
    )


def validation_report_html(
    result_rows: list[dict] | DataFrame,
    title: str = "Validation report",
    violations: list[dict] | None = None,
) -> str:
    """Standalone single-file HTML for a check-suite result — the render
    surface the drift report has (drift_report_html), applied to the gate:
    failure banner first, then the full result table; driver-side rendering
    of already-collected rows, no Spark jobs. ``violations`` (the collected
    :func:`check_violations` rows) renders a per-check offending-values
    section under the banner."""
    from pandas_profiling_personal_spark.report.htmlbits import esc, page

    # collect ONCE: validation_summary on the DataFrame would re-execute
    # the whole suite for the second render collect below
    if isinstance(result_rows, DataFrame):
        result_rows = [r.asDict() for r in result_rows.collect()]
    summary = validation_summary(result_rows)
    sections: list[str] = []
    if summary["passed"]:
        sections.append(
            f"<h2>PASSED</h2><p>{summary['n_checks']} checks, 0 failed</p>"
        )
    else:
        def _why(f):
            # direction from the ROUNDED display value; a failure whose
            # rounded value sits exactly on the bound violated it below
            # rounding precision (passed compares the unrounded metric)
            v = f.get("value")
            if v is not None and f.get("lower") is not None and v < f["lower"]:
                return f" &lt; {esc(f['lower'])}"
            if v is not None and f.get("upper") is not None and v > f["upper"]:
                return f" &gt; {esc(f['upper'])}"
            return " (bound violated below rounding precision)"

        items = "".join(
            f"<li><b>{esc(f['check_name'])}</b>"
            + (f" — {esc(f['column'])}" if f.get("column") else "")
            + f" {esc(f['metric'])}={esc(f['value'])}"
            + _why(f)
            + "</li>"
            for f in summary["failed"]
        )
        sections.append(
            f"<h2>FAILED ({summary['n_failed']} of "
            f"{summary['n_checks']})</h2><ul>{items}</ul>"
        )
    if violations:
        vrows = "".join(
            "<tr><th>{n}</th><td>{v}</td><td>{c}</td></tr>".format(
                n=esc(r["check_name"]), v=esc(r["violation"]),
                c=esc(r["n_rows"]),
            )
            for r in violations
        )
        sections.append(
            "<h2>Violating values</h2><table><tr><th>check</th>"
            f"<th>value</th><th>rows</th></tr>{vrows}</table>"
        )
    body = "".join(
        "<tr><th>{n}</th><td>{k}</td><td>{c}</td><td>{m}</td><td>{v}</td>"
        "<td>{lo}</td><td>{hi}</td><td>{p}</td></tr>".format(
            n=esc(r["check_name"]), k=esc(r["kind"]), c=esc(r["column"]),
            m=esc(r["metric"]), v=esc(r["value"]), lo=esc(r["lower"]),
            hi=esc(r["upper"]),
            p="pass" if r["passed"] else "<b>FAIL</b>",
        )
        for r in result_rows
    )
    sections.append(
        "<h2>Checks</h2><table><tr><th>check</th><th>kind</th><th>column</th>"
        "<th>metric</th><th>value</th><th>lower</th><th>upper</th>"
        f"<th>status</th></tr>{body}</table>"
    )
    return page(title, "".join(sections))


# ---------------------------------------------------------------------------
# metric history — anomaly detection over the gate's own time series
# ---------------------------------------------------------------------------


def metric_anomalies(
    history: list[list[dict]] | list[dict],
    today: list[dict] | DataFrame,
    k: float = 3.0,
    min_history: int = 5,
) -> list[dict[str, Any]]:
    """Flag today's metric values that deviate from their OWN history.

    The complement of fixed bounds (Deequ's metric-repository idea): a
    completeness that is always ~0.97 should not alert at a 0.95 floor,
    but a drop from its usual 0.99 to 0.97 should. ``history`` is a list
    of prior result-row lists (one per run, oldest first — the shape the
    CLI ``--checks-log`` JSONL accumulates); per check_name the history
    values form the baseline (mean/std over runs where the value was
    non-null) and today's value flags when |today − mean| > k·std (std
    floored at 1e-12 so a constant history flags ANY change). Checks with
    fewer than ``min_history`` prior non-null values are skipped —
    insufficient evidence must not read as "no anomaly". Pure driver
    arithmetic; returns CHECK_METRIC_ANOMALY alert dicts.
    """
    if isinstance(today, DataFrame):
        today = [r.asDict() for r in today.collect()]
    if history and isinstance(history[0], dict):
        history = [history]  # a single prior run
    series: dict[str, list[float]] = {}
    for run in history:
        for r in run:
            if r.get("value") is not None:
                series.setdefault(r["check_name"], []).append(
                    float(r["value"])
                )
    out = []
    for r in today:
        vals = series.get(r["check_name"], [])
        if len(vals) < min_history or r.get("value") is None:
            continue
        mean = sum(vals) / len(vals)
        var = sum((v - mean) ** 2 for v in vals) / len(vals)
        std = max(math.sqrt(var), 1e-12)
        dev = abs(float(r["value"]) - mean) / std
        if dev > k:
            out.append({
                "alert_type": "CHECK_METRIC_ANOMALY",
                "check_name": r["check_name"],
                "column": r.get("column") or None,
                "metric": r.get("metric"),
                "value": r["value"],
                "history_mean": round(mean, ROUND),
                "history_std": round(std, ROUND),
                "deviation_sigmas": round(dev, 2),
                "n_history": len(vals),
            })
    return out
