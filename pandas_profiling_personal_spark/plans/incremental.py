"""Incremental / mergeable profiling: profile each shard (day, partition,
crawl segment) INDEPENDENTLY, persist a small mergeable state, and combine
states into a corpus-level profile WITHOUT re-scanning any shard.

This is the 100 TB operating mode the batch ``profile()`` can't offer: a
daily pipeline profiles only the new day's data (two aggregation actions
over that shard), then folds the day's ``PartialProfile`` into the running
corpus state driver-side. The reference is strictly whole-frame.

What merges EXACTLY (no approximation):
  count / n_missing / n_zeros / n_infinite / n_nan / min / max — additive
  or lattice merges; mean/variance/std/skewness/kurtosis — per-shard
  central moment sums (computed with the engine's mean-shifted power-sum
  pass, the same arithmetic the batch profile uses) combined with the
  pairwise update formulas of Pébay (2008) / Chan et al. (1979), which are
  exact and cancellation-safe for any shard split.

All fields use the BATCH profile's semantics so merged == whole-frame:
count includes NaN (Spark ``count`` counts NaN as non-null), n_infinite
counts ±inf only, NaN is reported separately as n_nan, max follows
Spark's NaN-is-largest ordering, and a shard whose mean is NaN/inf
contaminates the merged moments to NaN — exactly what the batch moment
pass reports on the same data.

What merges APPROXIMATELY (mergeable sketches, error bounds a priori):
  n_distinct — Datasketches HLL (``hll_sketch_agg`` state, ``hll_union``
  merge, ~1.6% at lgK=12); quantiles — KLL (``kll_sketch_agg_double``,
  ``kll_sketch_merge_double``); top values — per-shard top-M value counts
  summed by value (a value is undercounted only if some shard dropped it
  from its top-M; keep M ≳ 4×K for rank stability on skewed data).

Histograms merge EXACTLY when every shard bins over the SAME edges: pass
``histograms=`` (explicit ``{col: (bins, lo, hi)}`` specs, or an int to
derive specs from the FIRST shard's min/max — reuse them on later shards
via :func:`histogram_specs_of`) and the merge is a vector add. The
binning is the batch operator itself (``operators/histogram.histogram_all``,
one extra melt job per shard), so merged == batch at the same spec,
bit-for-bit; values outside the fixed range clamp into the end buckets
(the batch ``bucket_index`` clamp — pass corpus-wide edges when the
first shard's range may not cover later data). Shards profiled WITHOUT
histograms (or with a different spec) refuse to merge with shards that
have them — like schema drift, a silent partial histogram would lie.

``PartialProfile`` serializes to/from JSON (sketches base64-encoded), so
shard states can live next to the data and merge across sessions/engines.
"""

from __future__ import annotations

import base64
import datetime
import json
import math
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from pandas_profiling_personal_spark.functions import stats as S
from pandas_profiling_personal_spark.types import (
    VariableType as VT,
    variable_types,
)

_HLL_LGK = 12
_KLL_K = 200


@dataclass
class ColumnState:
    """Mergeable per-column state. ``m1``..``m4``: mean and central moment
    SUMS Σ(x−mean)^k over the shard's non-null non-NaN values."""

    type: str
    n_rows: int = 0
    count: int = 0
    n_missing: int = 0
    n_zeros: int | None = None
    n_infinite: int | None = None
    n_nan: int | None = None
    min: Any = None
    max: Any = None
    m1: float | None = None
    m2: float = 0.0
    m3: float = 0.0
    m4: float = 0.0
    hll: bytes | None = None
    kll: bytes | None = None
    top_values: dict[str, int] = field(default_factory=dict)
    #: mergeable histogram: counts over the FIXED uniform bucketing
    #: (len(hist_counts) bins over [hist_lo, hist_hi], batch bucket_index
    #: clamp semantics) — identical specs merge as a vector add
    hist_counts: list[int] | None = None
    hist_lo: float | None = None
    hist_hi: float | None = None


@dataclass
class PairState:
    """Mergeable pairwise-Pearson state for one numeric column pair, over
    the PAIRWISE-COMPLETE rows (both sides non-null — the same row set
    Spark's ``covar_samp``/``corr`` and the batch ``safe_corr`` use).
    ``cxx``/``cyy``/``cxy`` are central co-moment SUMS Σ(x−mx)(y−my) etc.
    The batch ``safe_corr`` divides the pairwise covariance by the
    PER-COLUMN sample stds, so finalization takes the denominator from the
    per-column ``ColumnState.m2`` sums; the pairwise ``cxx``/``cyy`` are
    carried anyway — they cost nothing extra in the same aggregate and
    enable an ``F.corr``-style fully-pairwise variant."""

    n: int = 0
    mx: float = 0.0
    my: float = 0.0
    cxx: float = 0.0
    cyy: float = 0.0
    cxy: float = 0.0


@dataclass
class ContingencyState:
    """Mergeable contingency cells for ONE declared categorical pair:
    ``(value_a, value_b) -> count`` over the pairwise-complete rows (both
    sides non-null — the row set the batch :func:`cramers_v` uses). ``n``
    is the FULL pairwise-complete count, including any mass the per-shard
    cell cap truncated away; ``capped`` records that truncation, making
    approximation explicit (the ``categorical_drift_between_partials``
    ``exact`` pattern). Uncapped states merge as a pure vector add, so the
    merged chi²/Cramér's V equals the batch operator on the union frame
    EXACTLY — integer cell counts, no FP merge error at all."""

    cells: dict[tuple[str, str], int] = field(default_factory=dict)
    n: int = 0
    capped: bool = False


@dataclass
class GroupMomentState:
    """Mergeable per-(category) numeric moments for ONE declared
    (categorical, numeric) pair: ``category_value -> [n, Σy, Σy²]`` over
    rows where both sides are non-null and y is non-NaN (the row set the
    batch η² kernel ``_eta2_from_structs`` filters to). These three sums
    are everything the correlation ratio needs — SS_total = Σy² − (Σy)²/N
    from the totals, SS_within = Σ_g (Σy²_g − (Σy_g)²/n_g) per cell — so
    uncapped states vector-add and finalize to the batch η² exactly (up
    to FP addition order). ``capped`` records per-shard truncation at
    ``max_groups`` cells (count desc, value asc), the ContingencyState
    honesty pattern."""

    cells: dict[str, tuple[int, float, float]] = field(default_factory=dict)
    capped: bool = False


@dataclass
class PartialProfile:
    n: int
    columns: dict[str, ColumnState]
    n_shards: int = 1
    #: pairwise co-moment states for the Pearson matrix, keyed (col_a, col_b)
    #: in column order; None = shard profiled WITHOUT correlations (merging a
    #: with-correlations state into a without-correlations state raises, like
    #: mismatched histogram specs — a silent partial matrix would lie)
    pairs: dict[tuple[str, str], PairState] | None = None
    #: mergeable contingency states for DECLARED categorical pairs (the
    #: incremental Cramér's V tier); same all-or-nothing merge discipline
    cat_pairs: dict[tuple[str, str], ContingencyState] | None = None
    #: mergeable per-category [n, Σy, Σy²] cells for DECLARED
    #: (categorical, numeric) pairs — the incremental η² / state-mode
    #: target-relevance tier; same all-or-nothing merge discipline
    group_pairs: dict[tuple[str, str], GroupMomentState] | None = None
    #: pair-tuple HLL sketches for DECLARED unordered column pairs (keyed
    #: sorted) — the state-mode FD-discovery screen tier
    #: (:func:`discover_fds_of` ranks candidates from these with ZERO
    #: data rescans); None when a pair contributed no rows. Same
    #: all-or-nothing merge discipline as the other pair families.
    pair_hlls: dict[tuple[str, str], bytes | None] | None = None
    #: sketch binaries pending a union (merging defers the Spark-side sketch
    #: union until finalize so merge_partials stays pure driver arithmetic)
    _pending: dict[str, dict[str, list[bytes]]] = field(default_factory=dict)
    #: pair-sketch binaries pending a union — the pair_hlls analogue
    _pending_pair_hlls: dict[tuple[str, str], list[bytes]] = field(
        default_factory=dict
    )

    def to_json(self) -> str:
        def enc(cs: ColumnState) -> dict:
            d = cs.__dict__.copy()
            for k in ("hll", "kll"):
                if d[k] is not None:
                    d[k] = base64.b64encode(d[k]).decode()
            # datetime/date min/max → ISO strings (from_json parses them
            # back, so a round-tripped state still merges with a fresh one)
            for k in ("min", "max"):
                if isinstance(d[k], (datetime.date, datetime.datetime)):
                    d[k] = d[k].isoformat(sep=" ") if isinstance(
                        d[k], datetime.datetime
                    ) else d[k].isoformat()
            return d

        return json.dumps(
            {
                "n": self.n,
                "n_shards": self.n_shards,
                "columns": {c: enc(cs) for c, cs in self.columns.items()},
                "pairs": (
                    None
                    if self.pairs is None
                    else [
                        [a, b, ps.__dict__]
                        for (a, b), ps in self.pairs.items()
                    ]
                ),
                "cat_pairs": (
                    None
                    if self.cat_pairs is None
                    else [
                        [
                            a,
                            b,
                            [
                                [va, vb, n]
                                for (va, vb), n in st.cells.items()
                            ],
                            st.n,
                            st.capped,
                        ]
                        for (a, b), st in self.cat_pairs.items()
                    ]
                ),
                "group_pairs": (
                    None
                    if self.group_pairs is None
                    else [
                        [
                            a,
                            b,
                            [
                                [g, n, s, ss]
                                for g, (n, s, ss) in st.cells.items()
                            ],
                            st.capped,
                        ]
                        for (a, b), st in self.group_pairs.items()
                    ]
                ),
                "pair_hlls": (
                    None
                    if self.pair_hlls is None
                    else [
                        [a, b,
                         None if sk is None
                         else base64.b64encode(sk).decode()]
                        for (a, b), sk in self.pair_hlls.items()
                    ]
                ),
                "pending_pair_hlls": [
                    [a, b, [base64.b64encode(x).decode() for x in v]]
                    for (a, b), v in self._pending_pair_hlls.items()
                ],
                "pending": {
                    c: {
                        k: [base64.b64encode(x).decode() for x in v]
                        for k, v in kinds.items()
                    }
                    for c, kinds in self._pending.items()
                },
            },
            default=str,
        )

    @classmethod
    def from_json(cls, s: str) -> "PartialProfile":
        d = json.loads(s)

        def dec(cd: dict) -> ColumnState:
            cd = dict(cd)
            for k in ("hll", "kll"):
                if cd.get(k) is not None:
                    cd[k] = base64.b64decode(cd[k])
            if cd.get("type") == VT.DATETIME.value:
                for k in ("min", "max"):
                    s = cd.get(k)
                    if isinstance(s, str):
                        cd[k] = (
                            datetime.date.fromisoformat(s)
                            if len(s) == 10
                            else datetime.datetime.fromisoformat(s)
                        )
            return ColumnState(**cd)

        out = cls(
            n=d["n"],
            columns={c: dec(cd) for c, cd in d["columns"].items()},
            n_shards=d.get("n_shards", 1),
            pairs=(
                None
                if d.get("pairs") is None
                else {
                    (a, b): PairState(**pd) for a, b, pd in d["pairs"]
                }
            ),
            cat_pairs=(
                None
                if d.get("cat_pairs") is None
                else {
                    (a, b): ContingencyState(
                        cells={
                            (va, vb): int(n) for va, vb, n in cells
                        },
                        n=int(n_total),
                        capped=bool(capped),
                    )
                    for a, b, cells, n_total, capped in d["cat_pairs"]
                }
            ),
            group_pairs=(
                None
                if d.get("group_pairs") is None
                else {
                    (a, b): GroupMomentState(
                        cells={
                            g: (int(n), float(s), float(ss))
                            for g, n, s, ss in cells
                        },
                        capped=bool(capped),
                    )
                    for a, b, cells, capped in d["group_pairs"]
                }
            ),
            pair_hlls=(
                None
                if d.get("pair_hlls") is None
                else {
                    (a, b): (None if sk is None else base64.b64decode(sk))
                    for a, b, sk in d["pair_hlls"]
                }
            ),
        )
        out._pending = {
            c: {
                k: [base64.b64decode(x) for x in v]
                for k, v in kinds.items()
            }
            for c, kinds in (d.get("pending") or {}).items()
        }
        out._pending_pair_hlls = {
            (a, b): [base64.b64decode(x) for x in v]
            for a, b, v in (d.get("pending_pair_hlls") or [])
        }
        return out


def partial_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    top_m: int = 40,
    histograms: int | dict[str, tuple[int, float, float]] | None = None,
    correlations: bool = False,
    categorical_pairs: list[tuple[str, str]] | None = None,
    max_cells: int = 10_000,
    allow_disjoint: bool = False,
    group_pairs: list[tuple[str, str]] | None = None,
    max_groups: int = 10_000,
    fd_pairs: "list[tuple[str, str]] | None" = None,
) -> PartialProfile:
    """Profile ONE shard into a mergeable state. Up to four bounded
    actions: the wide scalar+sketch aggregate, the mean-shifted power-sum
    pass (numeric columns), the ``histograms`` melt (when asked), and one
    melt+groupBy for per-column top-``top_m`` value counts
    (categorical/boolean columns; skipped if none); ``categorical_pairs``
    and ``group_pairs`` add one melt each. Every aggregate is built as SQL
    fragment text (one ``selectExpr`` per action), so the driver-side plan
    build stays a handful of Py4J calls however many columns and pairs
    there are.

    ``histograms`` adds exact-mergeable histograms (one extra melt job —
    the batch ``histogram_all`` operator): a ``{col: (bins, lo, hi)}``
    spec dict, or an int N to derive N-bin specs from THIS shard's
    min/max (the first-shard pattern — feed
    :func:`histogram_specs_of` of the result to every later shard so
    all states share edges and merge as vector adds). Datetime columns
    participate with epoch-second edges (``histogram_all``'s own
    conversion), so their specs are plain floats too. A dict spec whose
    edges this shard's observed range lies ENTIRELY outside raises (the
    alignment honesty guard — everything would clamp into one boundary
    bucket and a later drift PSI would read near-zero on completely
    moved data); ``allow_disjoint=True`` opts back into the raw clamp
    algebra for merge-only uses.

    ``correlations=True`` adds mergeable Pearson state: per numeric pair,
    six co-moment sums over the pairwise-complete rows (the row set
    ``covar_samp`` uses), shifted by the shard column means for
    cancellation safety and RIDING THE SAME moment-pass aggregate — no
    extra job. Merged states combine with the pairwise covariance update
    (Chan et al. 1979 / Pébay 2008), so the merged matrix equals the
    whole-frame ``pearson_matrix`` exactly; the reference computes
    correlations per-snapshot only (model/correlations.py:102-137), so
    the incremental tier exceeds it here.

    ``categorical_pairs`` adds mergeable contingency state for the DECLARED
    pairs (one extra melt+groupBy — the batch ``contingency_all_pairs``
    shuffle): per pair, the (value_a, value_b) cell counts over pairwise-
    complete rows, capped at ``max_cells`` cells kept by (count desc, value
    asc) with ``capped=True`` recording any truncation. Merged uncapped
    states finalize (:func:`cramers_v_of`) to EXACTLY the batch
    ``cramers_v_matrix`` — integer cells vector-add with zero FP error.
    Declare pairs over bounded-cardinality columns (the same
    cardinality gate the batch operator's caller applies); a high-
    cardinality pair degrades loudly via ``exact=False``, never silently.

    ``group_pairs`` adds mergeable η² state for DECLARED (categorical,
    numeric) pairs (one extra melt+groupBy — the batch
    ``_eta2_from_structs`` cell shuffle): per pair, per category value,
    the ``[n, Σy, Σy²]`` sums over rows where both sides are non-null and
    y is non-NaN. Merged uncapped states finalize (:func:`eta_squared_of`
    / :func:`target_relevance_of`) to the batch ``correlation_ratio_all``
    exactly (vector-added sums through the same driver algebra); per-shard
    truncation at ``max_groups`` cells sets ``capped`` and degrades to
    ``exact=False`` loudly, like the contingency tier.

    ``fd_pairs`` adds pair-tuple HLL sketches for DECLARED unordered
    column pairs, RIDING THE SAME wide aggregate (zero extra jobs — the
    sketch is one more expression on the single scan). The tuple is
    key-encoded with the declared checks' injective escape (NULL
    components are sentinel values), so :func:`discover_fds_of` can
    screen FD candidates in BOTH directions of each pair from persisted
    states alone — zero data rescans; one verification melt only for
    survivors the caller asks :func:`~.operators.checks.discover_fds`
    to verify (VERDICT r12 #3)."""
    types = variable_types(df)
    if columns is not None:
        types = {c: t for c, t in types.items() if c in columns}
    num = [c for c, t in types.items() if t is VT.NUMERIC]
    cat = [c for c, t in types.items() if t in (VT.CATEGORICAL, VT.BOOLEAN)]

    # SQL fragment text, one selectExpr per action (the scalar_summary
    # pattern): each F.* call costs several Py4J round-trips, and a
    # Column-built shard profile of 16 numeric columns sent ~54,000 of them
    # (quadratic through the Pearson pairs), paid again on every shard.
    # selectExpr keeps the DataFrame lineage, so cached inputs hit the cache.
    frags = ["count(1) AS __n"]
    for i, (c, vt) in enumerate(types.items()):
        p = f"c{i}"
        q = S.sq(c)
        frags += [
            f"sum(cast({q} IS NULL as bigint)) AS {p}__missing",
            f"hll_sketch_agg(cast({q} as string), {_HLL_LGK}) AS {p}__hll",
        ]
        if vt is VT.NUMERIC:
            # BATCH semantics throughout (operators/summary.py pass 1a):
            # count/mean/min/max over the raw non-null values — count
            # includes NaN, NaN/inf contaminate the mean, max follows
            # Spark's NaN-is-largest ordering; NaN and ±inf are counted
            # separately. Only the KLL quantile sketch masks non-finite
            # values (a sketch can't rank them).
            dd = f"cast({q} as double)"
            inf = (
                f"{dd} IN ({S.sql_double(math.inf)}, "
                f"{S.sql_double(-math.inf)})"
            )
            finite = f"NOT isnan({dd}) AND NOT ({inf})"
            frags += [
                f"count({dd}) AS {p}__count",
                f"avg({dd}) AS {p}__mean",
                f"min({dd}) AS {p}__min",
                f"max({dd}) AS {p}__max",
                f"sum(cast({dd} = 0 as bigint)) AS {p}__zeros",
                f"sum(cast({inf} as bigint)) AS {p}__inf",
                f"sum(cast(isnan({dd}) as bigint)) AS {p}__nan",
                f"count(CASE WHEN {finite} THEN 1 END) AS {p}__finite",
                f"kll_sketch_agg_double(CASE WHEN {finite} THEN {dd} END, "
                f"{_KLL_K}) AS {p}__kll",
            ]
        else:
            frags.append(f"count({q}) AS {p}__count")
            if vt is VT.DATETIME:
                frags += [
                    f"min({q}) AS {p}__min",
                    f"max({q}) AS {p}__max",
                    # epoch extents for first-shard histogram derivation —
                    # SQL-side conversion (S.epoch_seconds), the same rule
                    # histogram_all bins with, so no driver TZ arithmetic
                    f"min({S.epoch_seconds_sql(q)}) AS {p}__min_ep",
                    f"max({S.epoch_seconds_sql(q)}) AS {p}__max_ep",
                ]
    # fd-pair sketches ride the SAME aggregate — zero extra jobs; the
    # tuple is the declared checks' injective key encoding, so NULL
    # components are sentinel values exactly like the batch screen's
    # struct() and the melt kernel's NULL_SENTINEL
    fd_plist: "list[tuple[str, str]] | None" = None
    if fd_pairs is not None:
        from pandas_profiling_personal_spark.operators.checks import (
            _key_sql,
        )

        fd_plist = sorted({tuple(sorted((a, b))) for a, b in fd_pairs})
        missing3 = sorted({c for p in fd_plist for c in p} - set(df.columns))
        if missing3:
            raise ValueError(
                f"fd_pairs name columns not in the frame: {missing3}"
            )
        if any(a == b for a, b in fd_plist):
            raise ValueError("fd_pairs: self-pair")
        for k, p in enumerate(fd_plist):
            frags.append(
                f"hll_sketch_agg({_key_sql(p)}, {_HLL_LGK}) AS fd{k}__hll"
            )

    row = df.selectExpr(*frags).collect()[0].asDict()
    n = int(row["__n"])

    cols: dict[str, ColumnState] = {}
    for i, (c, vt) in enumerate(types.items()):
        p = f"c{i}"
        cnt_c = int(row.get(f"{p}__count") or 0)
        cs = ColumnState(
            type=vt.value,
            n_rows=n,
            count=cnt_c,
            n_missing=int(row.get(f"{p}__missing") or 0),
            # an all-null/empty shard yields an EMPTY sketch buffer that
            # estimate/quantile calls reject — keep sketches only when the
            # shard actually contributed values
            hll=(
                bytes(row[f"{p}__hll"])
                if cnt_c > 0 and row.get(f"{p}__hll")
                else None
            ),
        )
        if vt is VT.NUMERIC:
            cs.n_zeros = int(row.get(f"{p}__zeros") or 0)
            cs.n_infinite = int(row.get(f"{p}__inf") or 0)
            cs.n_nan = int(row.get(f"{p}__nan") or 0)
            cs.min = row.get(f"{p}__min")
            cs.max = row.get(f"{p}__max")
            cs.m1 = (
                float(row[f"{p}__mean"])
                if row.get(f"{p}__mean") is not None
                else None
            )
            # gate on the FINITE count: an all-NaN shard has count > 0 but
            # an empty KLL buffer that quantile calls would reject
            cs.kll = (
                bytes(row[f"{p}__kll"])
                if int(row.get(f"{p}__finite") or 0) > 0
                and row.get(f"{p}__kll")
                else None
            )
        elif vt is VT.DATETIME:
            cs.min, cs.max = row.get(f"{p}__min"), row.get(f"{p}__max")
        cols[c] = cs

    # pass 2 — central moment sums, shifted by the exact shard mean (same
    # cancellation-safe arithmetic as the batch profile's _moment_pass)
    mexprs, targets = [], []
    for i, c in enumerate(num):
        cs = cols[c]
        if cs.m1 is None:
            continue
        if math.isnan(cs.m1) or math.isinf(cs.m1):
            # NaN/inf contaminate every moment, exactly as the batch
            # _moment_pass reports on the same shard — never leave the
            # 0.0 defaults claiming a constant column
            cs.m2 = cs.m3 = cs.m4 = float("nan")
            continue
        d = f"(cast({S.sq(c)} as double) - {S.sql_double(cs.m1)})"
        p = f"m{i}"
        mexprs += [
            f"sum({d}) AS {p}_1",
            f"sum({d} * {d}) AS {p}_2",
            f"sum({d} * {d} * {d}) AS {p}_3",
            f"sum({d} * {d} * {d} * {d}) AS {p}_4",
        ]
        targets.append((p, c))
    # pairwise Pearson co-moment sums, folded into the SAME aggregate (one
    # scan buys moments AND the correlation state). Shift each side by the
    # shard column mean (any constant shift is exact for central co-moments;
    # the mean keeps magnitudes small). Over PAIRWISE-COMPLETE rows, so the
    # pair's own mean/count — which differ from the column's when nulls
    # don't align — are recovered from the masked sums.
    pair_keys: list[tuple[str, str]] = []
    if correlations:
        from itertools import combinations as _comb

        shift = {
            c: (
                cols[c].m1
                if cols[c].m1 is not None and math.isfinite(cols[c].m1)
                else 0.0
            )
            for c in num
        }
        for k, (ca, cb) in enumerate(_comb(num, 2)):
            qa, qb = S.sq(ca), S.sq(cb)
            w = f"CASE WHEN {qa} IS NOT NULL AND {qb} IS NOT NULL THEN"
            dx = f"(cast({qa} as double) - {S.sql_double(shift[ca])})"
            dy = f"(cast({qb} as double) - {S.sql_double(shift[cb])})"
            q = f"pr{k}"
            mexprs += [
                f"count({w} 1 END) AS {q}_n",
                f"sum({w} {dx} END) AS {q}_sx",
                f"sum({w} {dy} END) AS {q}_sy",
                f"sum({w} {dx} * {dx} END) AS {q}_sxx",
                f"sum({w} {dy} * {dy} END) AS {q}_syy",
                f"sum({w} {dx} * {dy} END) AS {q}_sxy",
            ]
            pair_keys.append((ca, cb))
    pairs: dict[tuple[str, str], PairState] | None = (
        {} if correlations else None
    )
    if mexprs:
        mrow = df.selectExpr(*mexprs).collect()[0].asDict()
        for k, (ca, cb) in enumerate(pair_keys):
            q = f"pr{k}"
            np_ = int(mrow[f"{q}_n"] or 0)
            if np_ == 0:
                pairs[(ca, cb)] = PairState()
                continue
            sx = float(mrow[f"{q}_sx"] or 0.0)
            sy = float(mrow[f"{q}_sy"] or 0.0)
            sxx = float(mrow[f"{q}_sxx"] or 0.0)
            syy = float(mrow[f"{q}_syy"] or 0.0)
            sxy = float(mrow[f"{q}_sxy"] or 0.0)
            pairs[(ca, cb)] = PairState(
                n=np_,
                mx=shift[ca] + sx / np_,
                my=shift[cb] + sy / np_,
                cxx=sxx - sx * sx / np_,
                cyy=syy - sy * sy / np_,
                cxy=sxy - sx * sy / np_,
            )
        for p, c in targets:
            cs = cols[c]
            cnt = cs.count
            s1 = float(mrow[f"{p}_1"] or 0.0)
            s2 = float(mrow[f"{p}_2"] or 0.0)
            s3 = float(mrow[f"{p}_3"] or 0.0)
            s4 = float(mrow[f"{p}_4"] or 0.0)
            md = s1 / cnt if cnt else 0.0
            cs.m1 = cs.m1 + md  # exact mean (shift + residual)
            cs.m2 = max(0.0, s2 - cnt * md * md)
            cs.m3 = s3 - 3 * md * s2 + 2 * cnt * md**3
            cs.m4 = s4 - 4 * md * s3 + 6 * md * md * s2 - 3 * cnt * md**4

    # optional histogram pass — the BATCH operator over fixed edges, so a
    # later vector-add merge equals the batch histogram bit-for-bit.
    # Datetime columns bin over EPOCH-SECOND edges (histogram_all's own
    # conversion), so their specs are floats like every other column's.
    if histograms is not None:
        from pandas_profiling_personal_spark.operators import histogram as H

        dtt = [c for c, t in types.items() if t is VT.DATETIME]
        if isinstance(histograms, int):
            specs = {
                c: (histograms, float(cols[c].min), float(cols[c].max))
                for c in num
                if cols[c].min is not None
                and math.isfinite(float(cols[c].min))
                and math.isfinite(float(cols[c].max))
            }
            for i, (c, vt) in enumerate(types.items()):
                if vt is VT.DATETIME:
                    lo = row.get(f"c{i}__min_ep")
                    hi = row.get(f"c{i}__max_ep")
                    if lo is not None and hi is not None:
                        specs[c] = (histograms, float(lo), float(hi))
        else:
            unknown = set(histograms) - set(num) - set(dtt)
            if unknown:
                raise ValueError(
                    f"histogram specs for non-numeric/unknown columns: "
                    f"{sorted(unknown)}"
                )
            specs = dict(histograms)
            # refuse-loudly guard: bucket_index CLAMPS out-of-range values
            # into the boundary buckets (stats.py:bucket_index), so a shard
            # whose observed range lies ENTIRELY outside a column's fixed
            # edges piles every row into ONE bucket — the histogram keeps
            # no structure, and a later drift PSI against the stored state
            # is an artifact of where the baseline's mass happens to sit:
            # near-ZERO when the baseline concentrates in that boundary
            # bucket (drift invisible), large but pointing at a boundary
            # bucket that says nothing about where the data actually went
            # otherwise. Partial overlap is fine (clamped tail mass is
            # visible, localized drift); total disjointness is a lie either
            # way, so error.
            # allow_disjoint=True opts back into the raw clamp algebra for
            # merge-only uses where the vector-add identity is the point
            # and no PSI will read the result.
            idx_of = {c: i for i, c in enumerate(types)}
            disjoint = []
            guarded = {} if allow_disjoint else specs
            for c, (_, lo, hi) in guarded.items():
                if c in dtt:
                    omin = row.get(f"c{idx_of[c]}__min_ep")
                    omax = row.get(f"c{idx_of[c]}__max_ep")
                else:
                    omin, omax = cols[c].min, cols[c].max
                if omin is None or omax is None:
                    continue  # empty/all-null shard column: nothing clamps
                omin, omax = float(omin), float(omax)
                if not (math.isfinite(omin) and math.isfinite(omax)):
                    continue
                if omin > float(hi) or omax < float(lo):
                    disjoint.append((c, omin, omax, float(lo), float(hi)))
            if disjoint:
                det = "; ".join(
                    f"{c}: observed [{a:g}, {b:g}] vs stored edges "
                    f"[{lo:g}, {hi:g}]"
                    for c, a, b, lo, hi in disjoint
                )
                raise ValueError(
                    "histogram alignment refused — this shard's observed "
                    f"range is entirely outside the stored edges for "
                    f"{len(disjoint)} column(s): {det}. Every row would "
                    "clamp into one boundary bucket, so the drifted "
                    "histogram keeps no structure and any PSI against the "
                    "stored state misleads (near-zero or unlocalized, "
                    "depending only on the baseline's boundary mass). "
                    "Re-edge instead: widen the spec to cover both ranges "
                    "and re-profile BOTH the baseline and this shard with "
                    "it, or fall back to the batch operators.drift.drift_"
                    "profile over the raw frames (it derives shared edges "
                    "from the union of the data). For merge-only uses "
                    "(no PSI), pass allow_disjoint=True."
                )
        for c, hd in H.histogram_all(df, specs).items():
            cs = cols[c]
            cs.hist_counts = [int(x) for x in hd["counts"]]
            cs.hist_lo = float(specs[c][1])
            cs.hist_hi = float(specs[c][2])

    # pass 3 — per-column top-M value counts (categorical/boolean)
    if cat and top_m > 0:
        from pandas_profiling_personal_spark.operators import (
            frequencies as FQ,
        )

        # int-key melt (the histogram_all shape): the "column" field is
        # the position in ``cat``, mapped back to the name driver-side
        melt = ", ".join(
            f"named_struct('column', {k}, 'value', cast({S.sq(c)} as string))"
            for k, c in enumerate(cat)
        )
        vc = (
            df.selectExpr(f"inline(array({melt}))")
            .where("value IS NOT NULL")
            .groupBy("column", "value")
            .count()
        )
        for r in FQ.top_k_counts(vc, top_m).collect():
            cols[cat[r["column"]]].top_values[r["value"]] = int(r["count"])

    # optional pass 4 — contingency cells for declared categorical pairs
    # (ONE melt shuffle for all pairs — the batch contingency_all_pairs)
    cat_states: dict[tuple[str, str], ContingencyState] | None = None
    if categorical_pairs is not None:
        missing = sorted(
            {c for p in categorical_pairs for c in p} - set(df.columns)
        )
        if missing:
            raise ValueError(
                f"categorical_pairs name columns not in the frame: {missing}"
            )
        plist = [tuple(p) for p in categorical_pairs]
        # the batch contingency_all_pairs melt, built as SQL text
        melt = ", ".join(
            f"named_struct('pid', {k}, 'va', cast({S.sq(a)} as string), "
            f"'vb', cast({S.sq(b)} as string))"
            for k, (a, b) in enumerate(plist)
        )
        cells_of: dict[tuple[str, str], dict] = {p: {} for p in plist}
        for r in (
            df.selectExpr(f"inline(array({melt}))")
            .where("va IS NOT NULL AND vb IS NOT NULL")
            .groupBy("pid", "va", "vb")
            .count()
            .collect()
        ):
            cells_of[plist[r["pid"]]][(r["va"], r["vb"])] = int(r["count"])
        cat_states = {}
        for p in plist:
            cells = cells_of[p]
            n_full = sum(cells.values())
            capped = len(cells) > max_cells
            if capped:
                # deterministic truncation: largest cells first, value-
                # ascending ties — the kept mass dominates the chi²
                kept = sorted(
                    cells.items(), key=lambda kv: (-kv[1], kv[0])
                )[:max_cells]
                cells = dict(kept)
            cat_states[p] = ContingencyState(
                cells=cells, n=n_full, capped=capped
            )

    # optional pass 5 — per-category [n, Σy, Σy²] cells for declared
    # (categorical, numeric) pairs: ONE melt shuffle for all pairs — the
    # batch η² kernel's cell aggregation (_eta2_from_structs), with the
    # exchange carrying category counts, never data rows
    grp_states: dict[tuple[str, str], GroupMomentState] | None = None
    if group_pairs is not None:
        plist2 = [tuple(p) for p in group_pairs]
        missing2 = sorted({c for p in plist2 for c in p} - set(df.columns))
        if missing2:
            raise ValueError(
                f"group_pairs name columns not in the frame: {missing2}"
            )
        melt = ", ".join(
            f"named_struct('pid', {k}, 'g', cast({S.sq(gc)} as string), "
            f"'y', cast({S.sq(yc)} as double))"
            for k, (gc, yc) in enumerate(plist2)
        )
        cell_rows = (
            df.selectExpr(f"inline(array({melt}))")
            .where("g IS NOT NULL AND y IS NOT NULL AND NOT isnan(y)")
            .groupBy("pid", "g")
            .agg(
                F.expr("count(1) AS n"),
                F.expr("sum(y) AS s"),
                F.expr("sum(y * y) AS ss"),
            )
            .collect()
        )
        grp_states = {p: GroupMomentState() for p in plist2}
        by_pid: dict[int, list] = {}
        for r in cell_rows:
            by_pid.setdefault(r["pid"], []).append(r)
        for k, p in enumerate(plist2):
            rs = by_pid.get(k, [])
            capped = len(rs) > max_groups
            if capped:
                # deterministic truncation: heaviest cells first, value-
                # ascending ties — the kept mass dominates both sums
                rs = sorted(rs, key=lambda r: (-r["n"], r["g"]))[:max_groups]
            grp_states[p] = GroupMomentState(
                cells={
                    r["g"]: (int(r["n"]), float(r["s"]), float(r["ss"]))
                    for r in rs
                },
                capped=capped,
            )

    pair_sketches: "dict[tuple[str, str], bytes | None] | None" = None
    if fd_plist is not None:
        pair_sketches = {
            p: (
                bytes(row[f"fd{k}__hll"])
                if n > 0 and row.get(f"fd{k}__hll")
                else None
            )
            for k, p in enumerate(fd_plist)
        }

    return PartialProfile(
        n=n, columns=cols, pairs=pairs, cat_pairs=cat_states,
        group_pairs=grp_states, pair_hlls=pair_sketches,
    )


def histogram_specs_of(
    part: PartialProfile,
) -> dict[str, tuple[int, float, float]]:
    """The ``histograms=`` spec dict a later shard must be profiled with
    so its state merges exactly with ``part`` (the first-shard pattern)."""
    return {
        c: (len(cs.hist_counts), cs.hist_lo, cs.hist_hi)
        for c, cs in part.columns.items()
        if cs.hist_counts is not None
    }


def _merge_moments(a: ColumnState, b: ColumnState) -> None:
    """Pébay (2008) pairwise combination of mean + central moment sums —
    exact for any split; result written into ``a``."""
    na, nb = a.count, b.count
    if nb == 0:
        return
    if na == 0 or a.m1 is None:
        a.m1, a.m2, a.m3, a.m4 = b.m1, b.m2, b.m3, b.m4
        return
    if b.m1 is None:
        return
    if not (math.isfinite(a.m1) and math.isfinite(b.m1)):
        # a NaN/inf shard contaminates the merge: combine the means with
        # the same IEEE arithmetic a whole-frame avg would (sum/count —
        # inf stays inf, inf + -inf and NaN go NaN), central moments NaN
        a.m1 = (a.m1 * na + b.m1 * nb) / (na + nb)
        a.m2 = a.m3 = a.m4 = float("nan")
        return
    n = na + nb
    d = b.m1 - a.m1
    m2 = a.m2 + b.m2 + d * d * na * nb / n
    m3 = (
        a.m3
        + b.m3
        + d**3 * na * nb * (na - nb) / (n * n)
        + 3.0 * d * (na * b.m2 - nb * a.m2) / n
    )
    m4 = (
        a.m4
        + b.m4
        + d**4 * na * nb * (na * na - na * nb + nb * nb) / (n**3)
        + 6.0 * d * d * (na * na * b.m2 + nb * nb * a.m2) / (n * n)
        + 4.0 * d * (na * b.m3 - nb * a.m3) / n
    )
    a.m1 = a.m1 + d * nb / n
    a.m2, a.m3, a.m4 = m2, m3, m4


def _merge_pair(a: PairState, b: PairState) -> None:
    """Chan/Pébay pairwise covariance combination — exact for any shard
    split; result written into ``a``. NaN/inf co-moments contaminate
    through the arithmetic, mirroring a whole-frame ``covar_samp`` on the
    same data."""
    na, nb = a.n, b.n
    if nb == 0:
        return
    if na == 0:
        a.n, a.mx, a.my = b.n, b.mx, b.my
        a.cxx, a.cyy, a.cxy = b.cxx, b.cyy, b.cxy
        return
    n = na + nb
    dx = b.mx - a.mx
    dy = b.my - a.my
    f = na * nb / n
    a.cxx = a.cxx + b.cxx + dx * dx * f
    a.cyy = a.cyy + b.cyy + dy * dy * f
    a.cxy = a.cxy + b.cxy + dx * dy * f
    a.mx = a.mx + dx * nb / n
    a.my = a.my + dy * nb / n
    a.n = n


def _is_nan(x: Any) -> bool:
    return isinstance(x, float) and math.isnan(x)


def _merge_min(a: Any, b: Any) -> Any:
    """Spark orders NaN ABOVE every double, so a NaN never wins a min."""
    if _is_nan(a):
        return b
    if _is_nan(b):
        return a
    return min(a, b)


def _merge_max(a: Any, b: Any) -> Any:
    """...and always wins a max (matches the batch ``F.max`` on NaN data)."""
    if _is_nan(a) or _is_nan(b):
        return float("nan")
    return max(a, b)


def merge_partials(parts: list[PartialProfile]) -> PartialProfile:
    """Fold shard states left-to-right — pure driver arithmetic (sketch
    unions are deferred to :func:`finalize_partial`, which runs them as one
    tiny Spark select over literals). Column sets AND per-column types must
    match — schema drift between shards raises instead of silently merging
    a numeric state into a categorical one."""
    if not parts:
        raise ValueError("need at least one PartialProfile")
    out = PartialProfile(n=0, columns={}, n_shards=0)
    first = True
    for part in parts:
        if out.columns and set(out.columns) != set(part.columns):
            raise ValueError(
                "column sets differ: "
                f"{sorted(set(out.columns) ^ set(part.columns))}"
            )
        # mergeable Pearson: all-or-nothing, like histogram specs — a
        # silent partial correlation matrix would lie about coverage
        if first:
            out.pairs = (
                None
                if part.pairs is None
                else {k: PairState(**ps.__dict__) for k, ps in part.pairs.items()}
            )
            out.cat_pairs = (
                None
                if part.cat_pairs is None
                else {
                    k: ContingencyState(
                        cells=dict(st.cells), n=st.n, capped=st.capped
                    )
                    for k, st in part.cat_pairs.items()
                }
            )
            out.group_pairs = (
                None
                if part.group_pairs is None
                else {
                    k: GroupMomentState(
                        cells=dict(st.cells), capped=st.capped
                    )
                    for k, st in part.group_pairs.items()
                }
            )
            out.pair_hlls = (
                None if part.pair_hlls is None
                else {k: None for k in part.pair_hlls}
            )
            first = False
        else:
            if (part.pairs is None) != (out.pairs is None):
                raise ValueError(
                    "some shards carry Pearson state and some don't — "
                    "profile every shard with the same correlations= setting"
                )
            if part.pairs is not None:
                if set(part.pairs) != set(out.pairs):
                    raise ValueError(
                        "Pearson pair sets differ between shards: "
                        f"{sorted(set(part.pairs) ^ set(out.pairs))}"
                    )
                for k, ps in part.pairs.items():
                    _merge_pair(out.pairs[k], ps)
            if (part.cat_pairs is None) != (out.cat_pairs is None):
                raise ValueError(
                    "some shards carry contingency state and some don't — "
                    "profile every shard with the same categorical_pairs="
                )
            if part.cat_pairs is not None:
                if set(part.cat_pairs) != set(out.cat_pairs):
                    raise ValueError(
                        "contingency pair sets differ between shards: "
                        f"{sorted(set(part.cat_pairs) ^ set(out.cat_pairs))}"
                    )
                for k, st in part.cat_pairs.items():
                    dst = out.cat_pairs[k]
                    for cell, cnt in st.cells.items():
                        dst.cells[cell] = dst.cells.get(cell, 0) + cnt
                    dst.n += st.n
                    # merged cell count is bounded by Σ per-shard caps
                    # (driver memory, not a scale term) — no re-truncation,
                    # so uncapped shards stay exact through any merge order
                    dst.capped = dst.capped or st.capped
            if (part.group_pairs is None) != (out.group_pairs is None):
                raise ValueError(
                    "some shards carry group-moment state and some don't — "
                    "profile every shard with the same group_pairs="
                )
            if part.group_pairs is not None:
                if set(part.group_pairs) != set(out.group_pairs):
                    raise ValueError(
                        "group-moment pair sets differ between shards: "
                        f"{sorted(set(part.group_pairs) ^ set(out.group_pairs))}"
                    )
                for k, st in part.group_pairs.items():
                    dst = out.group_pairs[k]
                    for g, (gn, gs, gss) in st.cells.items():
                        an, as_, ass = dst.cells.get(g, (0, 0.0, 0.0))
                        dst.cells[g] = (an + gn, as_ + gs, ass + gss)
                    dst.capped = dst.capped or st.capped
            if (part.pair_hlls is None) != (out.pair_hlls is None):
                raise ValueError(
                    "some shards carry fd-pair sketches and some don't — "
                    "profile every shard with the same fd_pairs="
                )
            if part.pair_hlls is not None:
                if set(part.pair_hlls) != set(out.pair_hlls):
                    raise ValueError(
                        "fd-pair sets differ between shards: "
                        f"{sorted(set(part.pair_hlls) ^ set(out.pair_hlls))}"
                    )
        out.n += part.n
        out.n_shards += part.n_shards
        # pair sketches defer their union to estimate time, like the
        # per-column sketches below
        if part.pair_hlls is not None:
            for p, sk in part.pair_hlls.items():
                pendp = out._pending_pair_hlls.setdefault(p, [])
                if sk:
                    pendp.append(sk)
                pendp.extend(part._pending_pair_hlls.get(p) or [])
        for c, cs in part.columns.items():
            pend = out._pending.setdefault(c, {"hll": [], "kll": []})
            if cs.hll:
                pend["hll"].append(cs.hll)
            if cs.kll:
                pend["kll"].append(cs.kll)
            for kinds in (part._pending.get(c) or {}).items():
                pend[kinds[0]].extend(kinds[1])
            if c not in out.columns:
                a = ColumnState(type=cs.type, n_rows=cs.n_rows)
                a.count, a.n_missing = cs.count, cs.n_missing
                a.n_zeros, a.n_infinite = cs.n_zeros, cs.n_infinite
                a.n_nan = cs.n_nan
                a.min, a.max = cs.min, cs.max
                a.m1, a.m2, a.m3, a.m4 = cs.m1, cs.m2, cs.m3, cs.m4
                a.top_values = dict(cs.top_values)
                if cs.hist_counts is not None:
                    a.hist_counts = list(cs.hist_counts)
                    a.hist_lo, a.hist_hi = cs.hist_lo, cs.hist_hi
                out.columns[c] = a
                continue
            a = out.columns[c]
            if a.type != cs.type:
                raise ValueError(
                    f"column {c!r} type differs between shards: "
                    f"{a.type!r} vs {cs.type!r} — shards profiled under "
                    "different schemas cannot merge"
                )
            a.n_rows += cs.n_rows
            a.n_missing += cs.n_missing
            if a.n_zeros is not None and cs.n_zeros is not None:
                a.n_zeros += cs.n_zeros
            if a.n_infinite is not None and cs.n_infinite is not None:
                a.n_infinite += cs.n_infinite
            if a.n_nan is not None and cs.n_nan is not None:
                a.n_nan += cs.n_nan
            if cs.min is not None:
                a.min = cs.min if a.min is None else _merge_min(a.min, cs.min)
            if cs.max is not None:
                a.max = cs.max if a.max is None else _merge_max(a.max, cs.max)
            _merge_moments(a, cs)
            a.count += cs.count
            for v, k in cs.top_values.items():
                a.top_values[v] = a.top_values.get(v, 0) + k
            # mergeable histograms: exact vector add, identical specs only
            if (cs.hist_counts is None) != (a.hist_counts is None):
                raise ValueError(
                    f"column {c!r}: some shards carry a histogram and "
                    "some don't — profile every shard with the same "
                    "histograms= spec (histogram_specs_of the first state)"
                )
            if cs.hist_counts is not None:
                if (a.hist_lo, a.hist_hi, len(a.hist_counts)) != (
                    cs.hist_lo, cs.hist_hi, len(cs.hist_counts)
                ):
                    raise ValueError(
                        f"column {c!r}: histogram specs differ between "
                        f"shards ({len(a.hist_counts)} bins over "
                        f"[{a.hist_lo}, {a.hist_hi}] vs "
                        f"{len(cs.hist_counts)} over "
                        f"[{cs.hist_lo}, {cs.hist_hi}]) — differing edges "
                        "cannot merge exactly"
                    )
                a.hist_counts = [
                    x + y for x, y in zip(a.hist_counts, cs.hist_counts)
                ]
    return out


def pearson_of(
    part: PartialProfile,
) -> dict[tuple[str, str], float | None]:
    """The Pearson matrix of a (merged) state — same shape and semantics as
    the batch ``correlations.pearson_matrix`` (``safe_corr``:
    ``covar_samp`` over pairwise-complete rows divided by the per-column
    ``stddev_samp`` product), ``None`` when either side is constant or any
    count is < 2 (the batch ``try_divide``/under-count null). Pure driver
    arithmetic over the mergeable co-moment sums."""
    if part.pairs is None:
        raise ValueError(
            "state carries no Pearson pairs — profile shards with "
            "correlations=True"
        )
    out: dict[tuple[str, str], float | None] = {}
    for (a, b), ps in part.pairs.items():
        ca, cb = part.columns[a], part.columns[b]
        # the batch denominator is the PER-COLUMN sample std (stddev_samp
        # over each column's own non-null rows — safe_corr's shape), NOT the
        # pairwise-complete std; with misaligned nulls the two differ, and
        # matching the batch operator is the contract here. Both m2 sums are
        # Pébay-merged, so this stays exact across any shard split.
        if ps.n < 2 or ca.count < 2 or cb.count < 2:
            out[(a, b)] = None  # covar_samp/stddev_samp null under-count
            continue
        cov = ps.cxy / (ps.n - 1)
        denom = math.sqrt(
            max(ca.m2, 0.0) / (ca.count - 1)
        ) * math.sqrt(max(cb.m2, 0.0) / (cb.count - 1))
        if denom == 0.0 or math.isnan(denom):
            # constant side -> null (try_divide); NaN moments -> NaN
            out[(a, b)] = (
                float("nan")
                if math.isnan(cov) or math.isnan(denom)
                else None
            )
            continue
        out[(a, b)] = cov / denom
    return out


def cramers_v_of(
    part: PartialProfile, bias_correction: bool = True
) -> "dict[tuple[str, str], dict[str, Any]]":
    """Cramér's V per declared categorical pair of a (merged) state —
    ``{(col_a, col_b): {"v", "n", "exact"}}``. Pure driver arithmetic over
    the mergeable integer cells through the SAME ``_cramers_from_cells``
    the batch :func:`~pandas_profiling_personal_spark.operators.correlations.cramers_v`
    finalizes with, so an uncapped merged state equals the batch matrix on
    the union frame EXACTLY (pytest- and oracle-gated). ``exact=False``
    (some shard hit ``max_cells``) means the V is computed from the kept
    dominant cells only — an approximation whose dropped mass is
    ``n - Σ kept``, reported rather than hidden."""
    if part.cat_pairs is None:
        raise ValueError(
            "state carries no contingency pairs — profile shards with "
            "categorical_pairs=[...]"
        )
    from pandas_profiling_personal_spark.operators.correlations import (
        _cramers_from_cells,
    )

    out: "dict[tuple[str, str], dict[str, Any]]" = {}
    for (a, b), st in part.cat_pairs.items():
        cells = [(va, vb, n) for (va, vb), n in st.cells.items()]
        out[(a, b)] = {
            "v": _cramers_from_cells(cells, bias_correction),
            "n": st.n,
            "exact": not st.capped,
        }
    return out


def phik_of(
    part: PartialProfile, noise_correction: bool = True
) -> "dict[tuple[str, str], dict[str, Any]]":
    """φk per declared categorical pair of a (merged) state —
    ``{(col_a, col_b): {"phik", "n", "exact"}}``. The same mergeable
    contingency cells :func:`cramers_v_of` rides, finalized through the
    SAME ``_phik_from_cells`` driver inversion the batch
    :func:`~pandas_profiling_personal_spark.operators.correlations.phik`
    uses (categorical×categorical φk bins variables AS their values, so
    the state's cells ARE the batch contingency) — an uncapped merged
    state therefore equals the batch φk on the union frame exactly.
    Numeric pairs are out of scope: their φk needs quantile-bin edges
    shared across shards, which the bounded cell state deliberately does
    not carry — use the batch :func:`phik_matrix` for those."""
    if part.cat_pairs is None:
        raise ValueError(
            "state carries no contingency pairs — profile shards with "
            "categorical_pairs=[...]"
        )
    from pandas_profiling_personal_spark.operators.correlations import (
        _phik_from_cells,
    )

    out: "dict[tuple[str, str], dict[str, Any]]" = {}
    for (a, b), st in part.cat_pairs.items():
        cells = [(va, vb, n) for (va, vb), n in st.cells.items()]
        out[(a, b)] = {
            "phik": _phik_from_cells(cells, noise_correction),
            "n": st.n,
            "exact": not st.capped,
        }
    return out


def eta_squared_of(
    part: PartialProfile,
) -> "dict[tuple[str, str], dict[str, Any]]":
    """Correlation ratio η² per declared (categorical, numeric) pair of a
    (merged) state — ``{(cat, num): {"eta2", "n", "n_groups", "exact"}}``.
    Pure driver arithmetic over the mergeable ``[n, Σy, Σy²]`` cells
    through the SAME algebra the batch ``_eta2_from_structs`` finalizes
    with (SS_total = Σy² − (Σy)²/N, SS_within summed per group, clamped
    to [0, 1]); an uncapped merged state equals the batch
    ``correlation_ratio_all`` on the union frame. ``eta2`` is None when
    < 2 groups or zero variance (the batch None semantics)."""
    if part.group_pairs is None:
        raise ValueError(
            "state carries no group-moment pairs — profile shards with "
            "group_pairs=[...]"
        )
    out: "dict[tuple[str, str], dict[str, Any]]" = {}
    for (gc, yc), st in part.group_pairs.items():
        n = sum(c[0] for c in st.cells.values())
        s = sum(c[1] for c in st.cells.values())
        ss = sum(c[2] for c in st.cells.values())
        ss_within = sum(
            css - cs * cs / cn for cn, cs, css in st.cells.values() if cn
        )
        ss_total = ss - (s * s / n if n else 0.0)
        eta2 = None
        if len(st.cells) >= 2 and ss_total > 0:
            eta2 = max(0.0, min(1.0, 1.0 - ss_within / ss_total))
        out[(gc, yc)] = {
            "eta2": eta2,
            "n": n,
            "n_groups": len(st.cells),
            "exact": not st.capped,
        }
    return out


def target_relevance_of(
    part: PartialProfile,
    target: str,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
) -> "list[dict]":
    """State-mode feature-vs-target relevance ranking — the zero-rescan
    twin of the batch
    :func:`~pandas_profiling_personal_spark.operators.correlations.target_relevance`
    (same methods, row shape, 4-decimal rounding, and sort order), over a
    (merged) :class:`PartialProfile`. The state must carry the kernels
    each pairing needs, declared at ``partial_profile`` time:

    * numeric target × numeric feature → ``pairs`` (``correlations=True``)
      finalized by :func:`pearson_of`
    * numeric target × categorical feature → ``group_pairs=[(feat,
      target)]`` finalized by :func:`eta_squared_of`
    * categorical target × numeric feature → ``group_pairs=[(target,
      feat)]`` (roles swapped)
    * categorical target × categorical feature →
      ``categorical_pairs=[(target, feat)]`` finalized by
      :func:`cramers_v_of`

    A missing kernel raises by name rather than silently dropping the
    feature. Target typing comes from the state itself (the shard's
    variable type), so batch and state mode route identically. Passing
    NEITHER feature list derives both from the kernels the state actually
    carries (every Pearson/group-moment/contingency pair involving the
    target) — the CLI ``--relevance-from-state`` path."""
    if target not in part.columns:
        raise ValueError(
            f"target_relevance_of: target {target!r} not in the state"
        )
    target_numeric = part.columns[target].type == VT.NUMERIC.value
    if numeric_cols is None and categorical_cols is None:
        if target_numeric:
            numeric_cols = sorted({
                a if b == target else b
                for (a, b) in (part.pairs or {})
                if target in (a, b)
            })
            categorical_cols = sorted({
                gc for (gc, yc) in (part.group_pairs or {})
                if yc == target
            })
        else:
            numeric_cols = sorted({
                yc for (gc, yc) in (part.group_pairs or {})
                if gc == target
            })
            categorical_cols = sorted({
                a if b == target else b
                for (a, b) in (part.cat_pairs or {})
                if target in (a, b)
            })
    numeric_cols = [c for c in (numeric_cols or []) if c != target]
    categorical_cols = [c for c in (categorical_cols or []) if c != target]
    if not numeric_cols and not categorical_cols:
        raise ValueError("target_relevance_of: no features")

    def _pair_get(d, a, b):
        return d.get((a, b), d.get((b, a)))

    rows: "list[dict]" = []
    if target_numeric:
        if numeric_cols:
            mat = pearson_of(part)
            for c in numeric_cols:
                v = _pair_get(mat, target, c)
                if (target, c) not in mat and (c, target) not in mat:
                    raise ValueError(
                        f"state carries no Pearson pair for ({target!r}, "
                        f"{c!r}) — profile shards with correlations=True"
                    )
                rows.append({
                    "feature": c, "method": "pearson_abs",
                    "score": None if v is None else round(abs(v), 4),
                })
        if categorical_cols:
            etas = eta_squared_of(part)
            for c in categorical_cols:
                e = _pair_get(etas, c, target)
                if e is None:
                    raise ValueError(
                        f"state carries no group-moment pair for ({c!r}, "
                        f"{target!r}) — profile shards with "
                        f"group_pairs=[({c!r}, {target!r})]"
                    )
                v = e["eta2"]
                rows.append({
                    "feature": c, "method": "eta_squared",
                    "score": None if v is None else round(v, 4),
                })
    else:
        if numeric_cols:
            etas = eta_squared_of(part)
            for c in numeric_cols:
                e = _pair_get(etas, target, c)
                if e is None:
                    raise ValueError(
                        f"state carries no group-moment pair for "
                        f"({target!r}, {c!r}) — profile shards with "
                        f"group_pairs=[({target!r}, {c!r})]"
                    )
                v = e["eta2"]
                rows.append({
                    "feature": c, "method": "eta_squared",
                    "score": None if v is None else round(v, 4),
                })
        if categorical_cols:
            vs = cramers_v_of(part)
            for c in categorical_cols:
                e = _pair_get(vs, target, c)
                if e is None:
                    raise ValueError(
                        f"state carries no contingency pair for "
                        f"({target!r}, {c!r}) — profile shards with "
                        f"categorical_pairs=[({target!r}, {c!r})]"
                    )
                v = e["v"]
                rows.append({
                    "feature": c, "method": "cramers_v",
                    "score": None if v is None else round(v, 4),
                })
    rows.sort(key=lambda r: (r["score"] is None, -(r["score"] or 0),
                             r["feature"]))
    return rows


def association_drift_between_partials(
    a: PartialProfile,
    b: PartialProfile,
    round_to: int = 6,
) -> dict[tuple[str, str], dict[str, Any]]:
    """Association drift between two (merged) shard states — did the
    RELATIONSHIP between two categorical columns change, not just their
    marginals? (A corpus can keep identical language and source mixes
    while the language×source coupling shifts completely — marginal PSI
    reads zero, this doesn't.) Pure driver arithmetic: Cramér's V of each
    state's mergeable contingency cells via :func:`cramers_v_of`, compared
    per pair declared in BOTH states. Returns ``{(col_a, col_b): {v_a,
    v_b, delta_v, n_a, n_b, exact}}``; ``exact`` is True only when
    neither side hit the cell cap. Raises when either state carries no
    contingency pairs or the declared sets don't intersect — silence
    would read as "no drift"."""
    from pandas_profiling_personal_spark.operators.drift import (
        round_half_up,
    )

    va, vb = cramers_v_of(a), cramers_v_of(b)
    shared = sorted(set(va) & set(vb))
    if not shared:
        raise ValueError(
            "states declare disjoint categorical_pairs= sets — profile "
            "both with the same pairs to compare association"
        )
    out: dict[tuple[str, str], dict[str, Any]] = {}
    for p in shared:
        ra, rb = va[p], vb[p]
        delta = (
            None
            if ra["v"] is None or rb["v"] is None
            else round_half_up(rb["v"] - ra["v"], round_to)
        )
        out[p] = {
            "v_a": None if ra["v"] is None else round_half_up(ra["v"], round_to),
            "v_b": None if rb["v"] is None else round_half_up(rb["v"], round_to),
            "delta_v": delta,
            "n_a": ra["n"],
            "n_b": rb["n"],
            "exact": ra["exact"] and rb["exact"],
        }
    return out


def drift_between_partials(
    a: PartialProfile,
    b: PartialProfile,
    bins_eps: float = 1e-6,
    round_to: int = 6,
) -> dict[str, dict[str, Any]]:
    """Numeric drift between two (merged) shard states — yesterday's corpus
    state vs today's WITHOUT rescanning either: per-column PSI from the
    exact-mergeable histograms plus the standardized mean shift from the
    Pébay moments. Pure driver arithmetic over numbers the states already
    carry; the daily-incremental twin of ``operators.drift.drift_profile``.

    Covers every column where BOTH states carry a histogram; identical
    specs are required (the same shared-edges contract as merging — a PSI
    over different bucketings would lie). The arithmetic is drift_profile's
    exactly — ε-smoothed proportions ``(c+eps)/(n+eps·bins)``, empty
    buckets included, ``max_shift_bucket`` ties to the HIGHEST bucket
    (its ``max_by(struct(shift, bucket))`` rule), half-up rounding — so
    when the fixed edges cover both sides' data the result equals
    ``drift_profile`` on the raw frames bit-for-bit (pytest-gated).

    Returns ``{column: {n_a, n_b, psi, max_shift_bucket, mean_a, mean_b,
    standardized_mean_shift}}``; mean fields are None for non-numeric
    histogram columns (datetimes)."""
    from pandas_profiling_personal_spark.operators.drift import round_half_up

    out: dict[str, dict[str, Any]] = {}
    both = [
        c
        for c, cs in a.columns.items()
        if cs.hist_counts is not None
        and c in b.columns
        and b.columns[c].hist_counts is not None
    ]
    for c in both:
        ca, cb = a.columns[c], b.columns[c]
        if (ca.hist_lo, ca.hist_hi, len(ca.hist_counts)) != (
            cb.hist_lo, cb.hist_hi, len(cb.hist_counts)
        ):
            raise ValueError(
                f"column {c!r}: histogram specs differ between states — "
                "profile both with the same histograms= spec "
                "(histogram_specs_of the first state)"
            )
        bins = len(ca.hist_counts)
        n_a, n_b = sum(ca.hist_counts), sum(cb.hist_counts)
        psi = 0.0
        best = (-1.0, -1)  # (shift, bucket): ties -> highest bucket
        for i in range(bins):
            pa = (ca.hist_counts[i] + bins_eps) / (n_a + bins_eps * bins)
            pb = (cb.hist_counts[i] + bins_eps) / (n_b + bins_eps * bins)
            psi += (pa - pb) * math.log(pa / pb)
            shift = abs(pa - pb)
            if (shift, i) >= best:
                best = (shift, i)
        row: dict[str, Any] = {
            "n_a": n_a,
            "n_b": n_b,
            "psi": round_half_up(psi, round_to),
            "max_shift_bucket": best[1],
            "mean_a": None,
            "mean_b": None,
            "standardized_mean_shift": None,
        }
        if (
            ca.type == VT.NUMERIC.value
            and ca.m1 is not None
            and cb.m1 is not None
            and ca.count > 1
            and cb.count > 1
            and math.isfinite(ca.m1)
            and math.isfinite(cb.m1)
        ):
            var_a = max(ca.m2, 0.0) / (ca.count - 1)
            var_b = max(cb.m2, 0.0) / (cb.count - 1)
            pooled = math.sqrt((var_a + var_b) / 2.0)
            row["mean_a"], row["mean_b"] = ca.m1, cb.m1
            row["standardized_mean_shift"] = round_half_up(
                abs(ca.m1 - cb.m1) / (pooled + bins_eps), round_to
            )
        out[c] = row
    return out


def discover_fds_of(
    part: PartialProfile,
    spark: SparkSession,
    max_determinant_distinct: int = 100_000,
    margin: float = 1.15,
) -> "list[dict[str, Any]]":
    """State-mode FD-discovery SCREEN: rank candidate dependencies from a
    (merged) state's sketches with ZERO data rescans (VERDICT r12 #3).

    Both directions of every stored fd-pair (``partial_profile(
    fd_pairs=...)``) pass the batch :func:`~.operators.checks.
    discover_fds` tier-1 gate (``2 <= nd(det) <= max_determinant_
    distinct``, ``nd(det) >= 0.9 * nd(dep)``) and its tier-2 screen
    ``nd(det, dep) <= margin * nd(det)`` — entirely from the persisted
    sketches (per-column HLLs + the pair-tuple HLL; the screen's det side
    adjusts by the exact has-NULL flag the state carries, since a NULL
    determinant is its own group). Runs ONE tiny Spark job over sketch
    literals — a select over binary literals, never a data scan.

    Returns candidates ranked best-first: ``{"determinant", "dependent",
    "screen_ratio"`` (``nd(det,dep) / nd(det)`` — ~1.0 reads "likely
    holds"), ``"survives_screen", "exact": False, "holds": None}``. The
    screen NEVER refutes (sketches are probabilistic — the batch tier's
    holds=NULL semantics): survivors are what a caller feeds
    ``discover_fds(df, candidates=[...])`` for the ONE verification melt
    it chooses to pay for. The CLI loop: profile shards with
    ``--save-state --fd-pairs``, screen any time with ``--discover-fds
    --checks-from-state`` (zero rescans), verify survivors against the
    raw table with a plain ``--discover-fds`` run."""
    if part.pair_hlls is None:
        raise ValueError(
            "state carries no fd-pair sketches — profile shards with "
            "fd_pairs=[...]"
        )
    exprs, keys = [], []
    cols_needed = sorted({c for p in part.pair_hlls for c in p})
    for c in cols_needed:
        cs = part.columns.get(c)
        if cs is None:
            raise ValueError(f"state has no column {c!r}")
        pend = (part._pending.get(c) or {}).get("hll") or []
        hlls = list(pend) + ([cs.hll] if cs.hll else [])
        if hlls:
            e = F.lit(hlls[0])
            for x in hlls[1:]:
                e = F.hll_union(e, F.lit(x))
            exprs.append(F.hll_sketch_estimate(e).alias(f"s_{len(keys)}"))
            keys.append(("c", c))
    for p in sorted(part.pair_hlls):
        hlls = list(part._pending_pair_hlls.get(p) or [])
        if part.pair_hlls[p]:
            hlls.append(part.pair_hlls[p])
        if hlls:
            e = F.lit(hlls[0])
            for x in hlls[1:]:
                e = F.hll_union(e, F.lit(x))
            exprs.append(F.hll_sketch_estimate(e).alias(f"s_{len(keys)}"))
            keys.append(("p", p))
    est: dict[tuple, float] = {}
    if exprs:
        row = spark.range(1).select(*exprs).collect()[0]
        for i, key in enumerate(keys):
            est[key] = float(row[i])

    out: list[dict[str, Any]] = []
    for a, b in sorted(part.pair_hlls):
        pnd = est.get(("p", (a, b)))
        if pnd is None:
            continue  # no shard contributed rows: nothing to rank
        for det, dep in ((a, b), (b, a)):
            nd_det = est.get(("c", det), 0.0)
            nd_dep = est.get(("c", dep), 0.0)
            # the batch tier-1 gate, verbatim (NULL-dropped estimates)
            if not (2 <= nd_det <= max_determinant_distinct):
                continue
            if nd_det < 0.9 * nd_dep:
                continue
            # the batch tier-2 screen: the det side of nd(det, dep) is a
            # tuple count, so adjust the column estimate by the exact
            # has-NULL flag (a NULL determinant is its own group)
            det_tuple_nd = nd_det + (
                1 if part.columns[det].n_missing else 0
            )
            ratio = pnd / det_tuple_nd if det_tuple_nd else None
            out.append({
                "determinant": det,
                "dependent": dep,
                "screen_ratio": (
                    None if ratio is None else round(ratio, 4)
                ),
                "survives_screen": pnd <= margin * det_tuple_nd,
                "exact": False,
                "holds": None,
            })
    out.sort(key=lambda r: (
        not r["survives_screen"],
        r["screen_ratio"] if r["screen_ratio"] is not None else 1e18,
        r["determinant"], r["dependent"],
    ))
    return out


def discover_keys_of(
    part: PartialProfile,
    spark: SparkSession,
    margin: float = 0.85,
) -> "list[dict[str, Any]]":
    """State-mode KEY-candidate SCREEN: rank unique-column-combination
    candidates from a (merged) state's sketches with ZERO data rescans —
    the :func:`~.operators.checks.discover_keys` screen tier over
    persisted states, completing the key miner's operating-mode matrix
    the way :func:`discover_fds_of` does for FDs.

    Every profiled column is screened from its per-column HLL (adjusted
    by the exact has-NULL flag — NULL keys are sentinel VALUES) against
    the state's exact row count; every stored fd-pair
    (``partial_profile(fd_pairs=...)`` — the SAME sketches serve both
    miners) is screened from its pair-tuple HLL. ``nd >= margin * n``
    (default 0.85, ~3 sigma at rsd 0.05) reads "likely a key". Runs ONE
    select over sketch literals.

    Returns candidates ranked best-first: ``{"key", "arity",
    "screen_ratio"`` (``nd / n`` — ~1.0 reads "likely key"),
    ``"survives_screen", "exact": False, "is_key": None}`` — the screen
    NEVER decides (sketches are probabilistic): survivors are what a
    caller feeds ``discover_keys(df, candidates=[...])`` for the one
    verification melt."""
    n = part.n
    exprs, keys = [], []
    pair_list = sorted(part.pair_hlls or {})
    for c, cs in part.columns.items():
        pend = (part._pending.get(c) or {}).get("hll") or []
        hlls = list(pend) + ([cs.hll] if cs.hll else [])
        if hlls:
            e = F.lit(hlls[0])
            for x in hlls[1:]:
                e = F.hll_union(e, F.lit(x))
            exprs.append(F.hll_sketch_estimate(e).alias(f"s_{len(keys)}"))
            keys.append(("c", c))
    for p in pair_list:
        hlls = list(part._pending_pair_hlls.get(p) or [])
        if part.pair_hlls[p]:
            hlls.append(part.pair_hlls[p])
        if hlls:
            e = F.lit(hlls[0])
            for x in hlls[1:]:
                e = F.hll_union(e, F.lit(x))
            exprs.append(F.hll_sketch_estimate(e).alias(f"s_{len(keys)}"))
            keys.append(("p", p))
    est: dict[tuple, float] = {}
    if exprs:
        row = spark.range(1).select(*exprs).collect()[0]
        for i, key in enumerate(keys):
            est[key] = float(row[i])

    out: list[dict[str, Any]] = []

    def _emit(name: str, arity: int, nd: float) -> None:
        ratio = nd / n if n else None
        out.append({
            "key": name,
            "arity": arity,
            "screen_ratio": None if ratio is None else round(ratio, 4),
            "survives_screen": bool(n and nd >= margin * n),
            "exact": False,
            "is_key": None,
        })

    for c, cs in sorted(part.columns.items()):
        nd = est.get(("c", c))
        if nd is None:
            continue  # no shard contributed values
        _emit(c, 1, nd + (1 if cs.n_missing else 0))
    for p in pair_list:
        nd = est.get(("p", p))
        if nd is None:
            continue
        _emit(",".join(p), 2, nd)
    out.sort(key=lambda r: (
        not r["survives_screen"],
        -(r["screen_ratio"] if r["screen_ratio"] is not None else -1e18),
        r["arity"], r["key"],
    ))
    return out


def discover_inclusions_of(
    child: PartialProfile,
    parent: PartialProfile,
    spark: SparkSession,
    margin: float = 1.1,
) -> "list[dict[str, Any]]":
    """State-mode INCLUSION/FK SCREEN between two persisted states: the
    :func:`~.operators.checks.discover_inclusions` tier-1 necessary-
    condition screen with ZERO data rescans — completing the discovery
    triad's operating-mode matrix (FDs: :func:`discover_fds_of`; keys:
    :func:`discover_keys_of`; inclusions: here).

    Candidate pairs are type-family compatible columns (NUMERIC/
    DATETIME/CATEGORICAL/BOOLEAN from the states' variable types — the
    batch operator's family rule over Spark types, coarsened to what a
    state can know). Each passes ``nd(child) <= margin * nd(parent)``
    from the per-column HLL sketches (ONE select over literals from BOTH
    states) and, where both states carry extents (numeric/datetime), the
    child range must sit inside the parent range. ``a ⊆ b`` cannot hold
    if either fails — survivors are NECESSARY-condition passes only,
    never containment verdicts (``contained=None``): feed them to
    ``discover_inclusions(child_df, parent_df, candidates=[...])`` for
    the one distinct-values anti-join that decides.

    Returns candidates ranked best-first (survivors first, then by
    child/parent name)."""
    fam = {
        VT.NUMERIC.value: "num",
        VT.DATETIME.value: "time",
        VT.CATEGORICAL.value: "cat",
        VT.BOOLEAN.value: "bool",
    }
    pairs = [
        (a, b)
        for a, ca in sorted(child.columns.items())
        for b, cb in sorted(parent.columns.items())
        if fam.get(ca.type) is not None
        and fam.get(ca.type) == fam.get(cb.type)
    ]
    if not pairs:
        raise ValueError(
            "discover_inclusions_of: no type-compatible candidate pairs "
            "between the states"
        )
    exprs, keys = [], []
    for side, part, cols in (
        ("c", child, sorted({a for a, _ in pairs})),
        ("p", parent, sorted({b for _, b in pairs})),
    ):
        for c in cols:
            cs = part.columns[c]
            pend = (part._pending.get(c) or {}).get("hll") or []
            hlls = list(pend) + ([cs.hll] if cs.hll else [])
            if hlls:
                e = F.lit(hlls[0])
                for x in hlls[1:]:
                    e = F.hll_union(e, F.lit(x))
                exprs.append(
                    F.hll_sketch_estimate(e).alias(f"s_{len(keys)}")
                )
                keys.append((side, c))
    est: dict[tuple, float] = {}
    if exprs:
        row = spark.range(1).select(*exprs).collect()[0]
        for i, key in enumerate(keys):
            est[key] = float(row[i])

    out: list[dict[str, Any]] = []
    for a, b in pairs:
        nd_a = est.get(("c", a), 0.0)
        nd_b = est.get(("p", b), 0.0)
        ok = nd_a > 0 and nd_a <= margin * nd_b
        ca, cb = child.columns[a], parent.columns[b]
        if ok and ca.min is not None and cb.min is not None:
            try:
                ok = ca.min >= cb.min and ca.max <= cb.max
            except TypeError:  # cross-type ordering edge
                pass
        out.append({
            "child_column": a,
            "parent_column": b,
            "screen_ratio": (
                round(nd_a / nd_b, 4) if nd_b else None
            ),
            "survives_screen": bool(ok),
            "contained": None,
            "exact": False,
        })
    out.sort(key=lambda r: (
        not r["survives_screen"], r["child_column"], r["parent_column"],
    ))
    return out


def finalize_partial(
    part: PartialProfile,
    spark: SparkSession,
    top_k: int = 10,
    quantiles: tuple[float, ...] = (0.05, 0.25, 0.5, 0.75, 0.95),
) -> dict[str, Any]:
    """Merged state → profile dict: ``{"table": {...}, "variables": {col:
    stats}}`` with the batch profile's field names and bias corrections.
    Runs ONE tiny Spark job to union the deferred HLL/KLL sketches (a
    single select over binary literals — no data scan)."""
    # sketch unions: ONE select over binary literals for every column/kind
    # (merged states carry shard sketches in _pending; a never-merged single
    # shard carries them inline on the ColumnState — combine both sources)
    exprs = []
    keys = []
    for c, cs in part.columns.items():
        pend = part._pending.get(c) or {}
        hlls = list(pend.get("hll") or []) + ([cs.hll] if cs.hll else [])
        if hlls:
            e = F.lit(hlls[0])
            for x in hlls[1:]:
                e = F.hll_union(e, F.lit(x))
            exprs.append(F.hll_sketch_estimate(e).alias(f"s_{len(keys)}"))
            keys.append((c, "distinct"))
        klls = list(pend.get("kll") or []) + ([cs.kll] if cs.kll else [])
        if klls:
            e = F.lit(klls[0])
            for x in klls[1:]:
                e = F.kll_sketch_merge_double(e, F.lit(x))
            qarr = F.array(*[F.lit(float(q)) for q in quantiles])
            exprs.append(
                F.kll_sketch_get_quantile_double(e, qarr).alias(
                    f"s_{len(keys)}"
                )
            )
            keys.append((c, "quantiles"))
    sk: dict[tuple, Any] = {}
    if exprs:
        row = spark.range(1).select(*exprs).collect()[0]
        for i, key in enumerate(keys):
            sk[key] = row[i]

    variables: dict[str, Any] = {}
    for c, cs in part.columns.items():
        v: dict[str, Any] = {
            "type": cs.type,
            "n": cs.n_rows,
            "count": cs.count,
            "n_missing": cs.n_missing,
            "p_missing": cs.n_missing / cs.n_rows if cs.n_rows else 0.0,
        }
        if (c, "distinct") in sk:
            v["n_distinct_approx"] = int(round(sk[(c, "distinct")]))
        if cs.type == VT.NUMERIC.value:
            cnt = cs.count
            v.update(
                min=cs.min, max=cs.max, mean=cs.m1,
                n_zeros=cs.n_zeros, n_infinite=cs.n_infinite,
                n_nan=cs.n_nan,
            )
            if cs.m1 is not None and not math.isfinite(cs.m1):
                # NaN/inf data: the batch profile reports NaN estimators —
                # never a fabricated variance of 0
                for k in ("variance", "std", "skewness", "kurtosis"):
                    v[k] = float("nan")
            elif cs.m1 is not None and cnt > 1:
                variance = cs.m2 / (cnt - 1)
                v["variance"] = variance
                v["std"] = math.sqrt(max(0.0, variance))
                mu2 = cs.m2 / cnt
                if mu2 > 0:
                    g1 = (cs.m3 / cnt) / mu2**1.5
                    g2 = (cs.m4 / cnt) / (mu2 * mu2) - 3.0
                    nn = float(cnt)
                    if cnt > 2:
                        v["skewness"] = (
                            g1 * math.sqrt(nn * (nn - 1)) / (nn - 2)
                        )
                    if cnt > 3:
                        v["kurtosis"] = (
                            (nn - 1) / ((nn - 2) * (nn - 3))
                            * ((nn + 1) * g2 + 6)
                        )
            if (c, "quantiles") in sk and sk[(c, "quantiles")] is not None:
                v["quantiles_approx"] = {
                    str(q): float(x)
                    for q, x in zip(quantiles, sk[(c, "quantiles")])
                }
        elif cs.type == VT.DATETIME.value:
            v.update(min=cs.min, max=cs.max)
        if cs.hist_counts is not None:
            # exact merged histogram, batch JSON shape (histogram_all);
            # datetime columns carry epoch-second edges
            bins = len(cs.hist_counts)
            lo, hi = cs.hist_lo, cs.hist_hi
            width = (hi - lo) / bins if hi > lo else 1.0
            v["histogram"] = {
                "counts": list(cs.hist_counts),
                "bin_edges": [lo + i * width for i in range(bins)] + [hi],
            }
        if cs.top_values:
            v["top_values"] = sorted(
                cs.top_values.items(), key=lambda kv: (-kv[1], kv[0])
            )[:top_k]
        variables[c] = v
    out = {
        "table": {"n": part.n, "n_var": len(variables),
                  "n_shards": part.n_shards},
        "variables": variables,
    }
    if part.pairs is not None:
        # batch profile's nested matrix shape ({a: {b: corr}}, symmetric)
        mat: dict[str, dict[str, float | None]] = {}
        for (a, b), v in pearson_of(part).items():
            mat.setdefault(a, {})[b] = v
            mat.setdefault(b, {})[a] = v
        out["correlations"] = {"pearson": mat}
    return out


# ----------------------------------------------------------------------------
# Mergeable EMBEDDING state — the embedding twin of ColumnState: one bounded
# aggregate per shard carrying the norm-bucket counts + per-dimension power
# sums that operators/drift.embedding_drift collects per-snapshot, so two
# (merged) states drift against each other with zero data rescans.
# ----------------------------------------------------------------------------


@dataclass
class EmbeddingState:
    """Mergeable embedding-snapshot state: ``n`` valid vectors,
    ``bucket_counts`` over a FIXED L2-norm bucketing (``bins`` buckets on
    ``[lo, hi]``, the engine's ``bucket_index`` clamp), and per-dimension
    sum / square-sum vectors. Everything merges as a vector add — exact for
    any shard split. Validity rule identical to ``embedding_drift``:
    non-null, ``size == dim``, all components finite."""

    dim: int
    bins: int
    lo: float
    hi: float
    n: int = 0
    bucket_counts: list[int] = field(default_factory=list)
    s: list[float] = field(default_factory=list)
    q: list[float] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @classmethod
    def from_json(cls, txt: str) -> "EmbeddingState":
        return cls(**json.loads(txt))


def embedding_norm_extent(
    df: DataFrame, vec_col: str, dim: int
) -> tuple[float, float] | None:
    """(lo, hi) of the valid-vector L2 norms — the shared-edges input every
    shard's :func:`embedding_partial` must receive (the first-snapshot
    pattern, like :func:`histogram_specs_of`). None when no valid vectors.
    For exact parity with the batch ``embedding_drift``, take the union of
    both snapshots' extents (min of los, max of his)."""
    from pandas_profiling_personal_spark.operators.similarity import (
        as_double,
        l2_norm,
    )

    v = as_double(F.col(vec_col))
    valid = (
        F.col(vec_col).isNotNull()
        & (F.size(v) == dim)
        & F.forall(
            v,
            lambda x: x.isNotNull()
            & ~F.isnan(x)
            & ~x.isin(float("inf"), float("-inf")),
        )
    )
    row = (
        df.where(valid)
        .select(l2_norm(v).alias("norm"))
        .agg(F.min("norm").alias("lo"), F.max("norm").alias("hi"))
        .collect()[0]
    )
    if row["lo"] is None:
        return None
    return float(row["lo"]), float(row["hi"])


def embedding_partial(
    df: DataFrame,
    vec_col: str,
    dim: int,
    norm_edges: tuple[float, float],
    bins: int = 10,
) -> EmbeddingState:
    """Profile ONE shard's embedding column into a mergeable state — ONE
    1-row aggregate (bins conditional counts + 2·dim power sums + a count),
    the same aggregate ``embedding_drift`` runs per side, with the norm
    edges FIXED by the caller so every shard's buckets align (pass the
    union :func:`embedding_norm_extent` of the snapshots you intend to
    compare)."""
    from pandas_profiling_personal_spark.functions import stats as FS
    from pandas_profiling_personal_spark.operators.similarity import (
        as_double,
        l2_norm,
    )

    lo, hi = float(norm_edges[0]), float(norm_edges[1])
    v = as_double(F.col(vec_col))
    valid = (
        F.col(vec_col).isNotNull()
        & (F.size(v) == dim)
        & F.forall(
            v,
            lambda x: x.isNotNull()
            & ~F.isnan(x)
            & ~x.isin(float("inf"), float("-inf")),
        )
    )
    src = df.where(valid).select(v.alias("v"), l2_norm(v).alias("norm"))
    bucket = FS.bucket_index(F.col("norm"), F.lit(lo), F.lit(hi), bins)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [
        F.sum((bucket == b).cast("long")).alias(f"c{b}") for b in range(bins)
    ]
    aggs += [F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(dim)]
    aggs += [
        F.sum(F.col("v")[i] * F.col("v")[i]).alias(f"q{i}")
        for i in range(dim)
    ]
    r = src.agg(*aggs).collect()[0]
    n = int(r["n"])
    return EmbeddingState(
        dim=dim,
        bins=bins,
        lo=lo,
        hi=hi,
        n=n,
        bucket_counts=[int(r[f"c{b}"] or 0) for b in range(bins)],
        s=[float(r[f"s{i}"] or 0.0) for i in range(dim)],
        q=[float(r[f"q{i}"] or 0.0) for i in range(dim)],
    )


def merge_embedding_states(states: list[EmbeddingState]) -> EmbeddingState:
    """Vector-add fold — exact. Mismatched (dim, bins, lo, hi) specs raise:
    states bucketed over different edges cannot merge."""
    if not states:
        raise ValueError("need at least one EmbeddingState")
    first = states[0]
    out = EmbeddingState(
        dim=first.dim,
        bins=first.bins,
        lo=first.lo,
        hi=first.hi,
        n=0,
        bucket_counts=[0] * first.bins,
        s=[0.0] * first.dim,
        q=[0.0] * first.dim,
    )
    for st in states:
        if (st.dim, st.bins, st.lo, st.hi) != (
            out.dim, out.bins, out.lo, out.hi,
        ):
            raise ValueError(
                "embedding state specs differ — profile every shard with "
                "the same (dim, bins, norm_edges)"
            )
        out.n += st.n
        out.bucket_counts = [
            x + y for x, y in zip(out.bucket_counts, st.bucket_counts)
        ]
        out.s = [x + y for x, y in zip(out.s, st.s)]
        out.q = [x + y for x, y in zip(out.q, st.q)]
    return out


def embedding_drift_between(
    a: EmbeddingState,
    b: EmbeddingState,
    eps: float = 1e-6,
    round_to: int = 6,
) -> dict[str, Any]:
    """Embedding drift between two (merged) states — the driver arithmetic
    of ``operators/drift.embedding_drift`` verbatim (norm-PSI over the
    shared buckets, centroid cosine, mean-shift L2, standardized per-dim
    shift; identical eps/rounding/tie rules), over numbers the states
    already carry. When the shared edges are the union norm extent of the
    two snapshots, the result equals the batch operator field-for-field
    (pytest-gated). Returns the operator's row as a dict; PSI fields are
    None when either side has zero valid vectors."""
    from pandas_profiling_personal_spark.operators.drift import round_half_up

    if (a.dim, a.bins, a.lo, a.hi) != (b.dim, b.bins, b.lo, b.hi):
        raise ValueError(
            "embedding state specs differ — rebuild with shared norm_edges"
        )
    if a.n == 0 or b.n == 0:
        return {
            "n_a": a.n, "n_b": b.n, "norm_psi": None,
            "max_shift_bucket": None, "centroid_cosine": None,
            "mean_shift_l2": None, "max_shift_dim": None,
            "max_mean_shift": None,
        }
    n_a, n_b, bins, dim = a.n, b.n, a.bins, a.dim
    psi, best_shift, best_bucket = 0.0, -1.0, 0
    for i in range(bins):
        p = (a.bucket_counts[i] + eps) / (n_a + eps * bins)
        q = (b.bucket_counts[i] + eps) / (n_b + eps * bins)
        psi += (p - q) * math.log(p / q)
        shift = round_half_up(abs(p - q), round_to)
        if shift > best_shift:
            best_shift, best_bucket = shift, i
    mean_a = [a.s[i] / n_a for i in range(dim)]
    mean_b = [b.s[i] / n_b for i in range(dim)]
    dot = sum(x * y for x, y in zip(mean_a, mean_b))
    na = math.sqrt(sum(x * x for x in mean_a))
    nb = math.sqrt(sum(x * x for x in mean_b))
    cos = dot / (na * nb) if na > 0 and nb > 0 else None
    l2 = math.sqrt(sum((x - y) ** 2 for x, y in zip(mean_a, mean_b)))
    best_dim, best_dshift = 0, -1.0
    for i in range(dim):
        var_a = max(a.q[i] / n_a - mean_a[i] ** 2, 0.0)
        var_b = max(b.q[i] / n_b - mean_b[i] ** 2, 0.0)
        pooled = math.sqrt((var_a + var_b) / 2.0)
        dshift = round_half_up(
            abs(mean_a[i] - mean_b[i]) / (pooled + eps), round_to
        )
        if dshift > best_dshift:
            best_dshift, best_dim = dshift, i
    return {
        "n_a": n_a,
        "n_b": n_b,
        "norm_psi": round_half_up(psi, round_to),
        "max_shift_bucket": best_bucket,
        "centroid_cosine": round_half_up(cos, round_to),
        "mean_shift_l2": round_half_up(l2, round_to),
        "max_shift_dim": best_dim,
        "max_mean_shift": best_dshift,
    }


def categorical_drift_between_partials(
    a: PartialProfile,
    b: PartialProfile,
    top_n: int = 20,
    eps: float = 1e-6,
    round_to: int = 6,
    other_label: str = "__other__",
) -> dict[str, dict[str, Any]]:
    """Categorical drift between two (merged) shard states — the language/
    source/license-mix question for the daily-incremental mode, computed
    from the states' value counts with zero data rescans. Covers every
    categorical/boolean column present in both states.

    The arithmetic is ``drift_profile_categorical``'s: top-``top_n`` values
    by combined count (ties by value ascending), remainder folded into
    ``other_label``, ε-smoothed PSI with the per-column bucket count as the
    bin term, ``max_shift_value`` ties to the lexicographically-largest
    value. EXACTNESS is explicit in the output: ``exact=True`` iff both
    sides' value counts are complete (Σ top_values == non-null count — true
    whenever every shard's cardinality fit inside its ``top_m``); otherwise
    the uncaptured residual mass folds into ``other_label`` and the PSI is
    an approximation whose error is bounded by the dropped tail counts.
    When exact, the result equals the batch operator on the raw frames
    (pytest-gated)."""
    from pandas_profiling_personal_spark.operators.drift import round_half_up

    out: dict[str, dict[str, Any]] = {}
    cats = [
        c
        for c, cs in a.columns.items()
        if cs.type in (VT.CATEGORICAL.value, VT.BOOLEAN.value)
        and c in b.columns
        and b.columns[c].type == cs.type
    ]
    for c in cats:
        ca, cb = a.columns[c], b.columns[c]
        n_a = sum(ca.top_values.values())
        n_b = sum(cb.top_values.values())
        resid_a = max(ca.count - n_a, 0)
        resid_b = max(cb.count - n_b, 0)
        exact = resid_a == 0 and resid_b == 0
        if ca.count == 0 and cb.count == 0:
            out[c] = {
                "n_a": 0, "n_b": 0, "psi": None,
                "max_shift_value": None, "exact": True,
            }
            continue
        values = sorted(
            set(ca.top_values) | set(cb.top_values),
            key=lambda v: (
                -(ca.top_values.get(v, 0) + cb.top_values.get(v, 0)),
                v,
            ),
        )
        kept = values[:top_n]
        other_a = resid_a + sum(ca.top_values.get(v, 0) for v in values[top_n:])
        other_b = resid_b + sum(cb.top_values.get(v, 0) for v in values[top_n:])
        buckets = [
            (v, ca.top_values.get(v, 0), cb.top_values.get(v, 0))
            for v in kept
        ]
        if other_a or other_b or len(values) > top_n or not exact:
            buckets.append((other_label, other_a, other_b))
        tot_a, tot_b, bins = ca.count, cb.count, len(buckets)
        psi, best = 0.0, (-1.0, "")
        for v, x, y in buckets:
            p = (x + eps) / (tot_a + eps * bins)
            q = (y + eps) / (tot_b + eps * bins)
            psi += (p - q) * math.log(p / q)
            shift = abs(p - q)
            if (shift, v) >= best:
                best = (shift, v)
        out[c] = {
            "n_a": tot_a,
            "n_b": tot_b,
            "psi": round_half_up(psi, round_to),
            "max_shift_value": best[1],
            "exact": exact,
        }
    return out


def incremental_drift_report(
    part_a: PartialProfile,
    part_b: PartialProfile,
    emb_a: "EmbeddingState | None" = None,
    emb_b: "EmbeddingState | None" = None,
    ts_a: "TimeseriesState | None" = None,
    ts_b: "TimeseriesState | None" = None,
    title: str = "Incremental drift report",
    schema_drift: dict | None = None,
    **alert_thresholds,
) -> str:
    """One-call drift surface for the daily-incremental mode: numeric +
    categorical + (optional) embedding drift between two states, classified
    through the SAME ``drift_alerts`` rules and rendered with the SAME
    ``drift_report_html`` one-pager as the two-frame operators — zero data
    rescans, zero Spark jobs (pure driver arithmetic over state). Numeric
    rows cover the columns both states carry histograms for; categorical
    rows carry the ``exact`` flag through to the table."""
    from pandas_profiling_personal_spark.operators.drift import (
        drift_report_html,
    )

    numeric_rows = [
        {"column": c, **d}
        for c, d in drift_between_partials(part_a, part_b).items()
    ]
    categorical_rows = [
        {"column": c, **d}
        for c, d in categorical_drift_between_partials(
            part_a, part_b
        ).items()
    ]
    association_rows = None
    if part_a.cat_pairs is not None and part_b.cat_pairs is not None:
        association_rows = [
            {"column": f"{p[0]}×{p[1]}", **d}
            for p, d in association_drift_between_partials(
                part_a, part_b
            ).items()
        ]
    embedding_row = (
        embedding_drift_between(emb_a, emb_b)
        if emb_a is not None and emb_b is not None
        else None
    )
    timeseries_rows = None
    if ts_a is not None and ts_b is not None:
        timeseries_rows = [
            {"column": c, **d}
            for c, d in timeseries_drift_between(ts_a, ts_b).items()
        ]
    return drift_report_html(
        numeric_rows=numeric_rows,
        categorical_rows=categorical_rows,
        embedding_row=embedding_row,
        association_rows=association_rows,
        timeseries_rows=timeseries_rows,
        schema_drift=(schema_drift
                      if schema_drift is not None
                      else schema_drift_between_partials(part_a, part_b)),
        title=title,
        **alert_thresholds,
    )


# --------------------------------------------------------------------------------
# mergeable time-series state (r10): the tsmode tier in the daily-incremental
# loop. Each shard pays ONE date_trunc grid aggregate (the same pass
# operators/timeseries.grid_cells runs for profile()); the state is the
# additive (sum, sumsq, count) cell map per column, so shards merge by
# vector add with ZERO information loss — a merged state finalizes through
# the SAME operators/timeseries.finalize_timeseries arithmetic and equals
# the whole-table tsmode dict EXACTLY (pytest-gated). Grid cardinality is
# bounded by timespan/granularity, so state size is bounded regardless of
# shard row counts.
# --------------------------------------------------------------------------------


@dataclass
class TimeseriesState:
    """Additive per-bucket cells for the time-series tier: for every
    column, ``{iso_bucket_ts: [sum, sumsq, count]}``. Exact-mergeable
    (vector add per (column, bucket))."""

    ts_col: str
    granularity: str
    columns: list[str]
    cells: dict[str, dict[str, list]] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "ts_col": self.ts_col,
                "granularity": self.granularity,
                "columns": self.columns,
                "cells": self.cells,
            }
        )

    @classmethod
    def from_json(cls, txt: str) -> "TimeseriesState":
        return cls(**json.loads(txt))


def timeseries_partial(
    df: DataFrame,
    ts_col: str,
    value_cols: list[str],
    granularity: str = "hour",
) -> TimeseriesState:
    """One shard's time-series state: the single grid aggregate, cells
    keyed by isoformat bucket timestamp."""
    from pandas_profiling_personal_spark.operators.timeseries import (
        grid_cells,
    )

    cells = grid_cells(df, ts_col, value_cols, granularity)
    return TimeseriesState(
        ts_col=ts_col,
        granularity=granularity,
        columns=list(value_cols),
        cells={
            c: {
                t.isoformat(): [s, ss, int(n)]
                for t, s, ss, n in pts
                if n and n > 0
            }
            for c, pts in cells.items()
        },
    )


def merge_timeseries_states(
    states: "list[TimeseriesState]",
) -> TimeseriesState:
    """Vector-add merge; mismatched specs refuse by name (merging grids
    of different granularity or ts columns would silently compare
    unrelated buckets)."""
    if not states:
        raise ValueError("merge_timeseries_states: no states")
    head = states[0]
    for st in states[1:]:
        if (
            st.ts_col != head.ts_col
            or st.granularity != head.granularity
            or list(st.columns) != list(head.columns)
        ):
            raise ValueError(
                "merge_timeseries_states: states disagree on "
                f"(ts_col, granularity, columns): "
                f"({head.ts_col!r}, {head.granularity!r}, {head.columns}) "
                f"vs ({st.ts_col!r}, {st.granularity!r}, {st.columns})"
            )
    merged: dict[str, dict[str, list]] = {}
    for st in states:
        for c, buckets in st.cells.items():
            mc = merged.setdefault(c, {})
            for t, (s, ss, n) in buckets.items():
                if t in mc:
                    old = mc[t]
                    mc[t] = [old[0] + s, old[1] + ss, old[2] + n]
                else:
                    mc[t] = [s, ss, n]
    return TimeseriesState(
        ts_col=head.ts_col,
        granularity=head.granularity,
        columns=list(head.columns),
        cells=merged,
    )


def timeseries_of(state: TimeseriesState, lags: int = 24) -> dict:
    """Finalize a (merged) state through the batch tier's OWN arithmetic
    — ACF/PACF/trend/seasonality identical to running
    ``timeseries_profile`` over the unsharded table."""
    from pandas_profiling_personal_spark.operators.timeseries import (
        finalize_timeseries,
    )

    cells = {
        c: sorted(
            (datetime.datetime.fromisoformat(t), s, ss, n)
            for t, (s, ss, n) in state.cells.get(c, {}).items()
        )
        for c in state.columns
    }
    return finalize_timeseries(
        cells, state.ts_col, state.columns, lags, state.granularity
    )


def seasonal_decompose_of(
    state: TimeseriesState,
    column: str,
    window_buckets: int = 24,
    period: str = "hour_of_day",
) -> list[dict]:
    """Classical additive decomposition from a saved (merged) state —
    ZERO Spark jobs: the state's per-bucket ``[sum, sumsq, count]`` cells
    hold the exact grid the batch :func:`...timeseries.seasonal_decompose`
    aggregates, so trend / centered seasonal / residual are pure driver
    arithmetic with the batch operator's own rules (centered row-window
    over the present buckets; per-period mean of the detrended series,
    centered over positions; Spark day-of-week numbering so the two modes
    agree bucket-for-bucket). Returns one dict per bucket with the batch
    columns (t, v, n, period_pos, trend, trend_support, seasonal,
    seasonal_support, resid), ordered by t."""
    if column not in state.cells:
        raise ValueError(
            f"seasonal_decompose_of: column {column!r} not in state "
            f"(has {sorted(state.cells)})"
        )
    pos_of = {
        "hour_of_day": lambda t: t.hour,
        # Spark dayofweek: 1 = Sunday .. 7 = Saturday
        "day_of_week": lambda t: t.isoweekday() % 7 + 1,
        "day_of_month": lambda t: t.day,
        "month": lambda t: t.month,
    }
    if period not in pos_of:
        raise ValueError(
            f"seasonal_decompose_of: period must be one of "
            f"{sorted(pos_of)}"
        )
    pts = sorted(
        (datetime.datetime.fromisoformat(t), s, n)
        for t, (s, _ss, n) in state.cells[column].items()
        if n and n > 0
    )
    if not pts:
        return []
    half = window_buckets // 2
    n_pts = len(pts)
    v = [s / n for _, s, n in pts]
    rows: list[dict] = []
    for i, (t, _s, n) in enumerate(pts):
        lo = max(0, i - half)
        hi = min(n_pts, i + (window_buckets - half - 1) + 1)
        win = v[lo:hi]
        rows.append({
            "t": t, "v": v[i], "n": int(n),
            "period_pos": pos_of[period](t),
            "trend": sum(win) / len(win),
            "trend_support": len(win),
        })
    by_pos: dict[int, list[float]] = {}
    for r in rows:
        by_pos.setdefault(r["period_pos"], []).append(r["v"] - r["trend"])
    raw = {p: sum(d) / len(d) for p, d in by_pos.items()}
    center = sum(raw.values()) / len(raw)
    for r in rows:
        p = r["period_pos"]
        r["seasonal"] = raw[p] - center
        r["seasonal_support"] = len(by_pos[p])
        r["resid"] = r["v"] - r["trend"] - r["seasonal"]
    return rows


def timeseries_drift_between(
    state_a: TimeseriesState,
    state_b: TimeseriesState,
    lags: int = 24,
    threshold: float = 0.3,
) -> dict:
    """Did the temporal STRUCTURE change between two snapshots — not the
    values (numeric drift covers those), but seasonality / trend /
    autocorrelation? Pure driver arithmetic over the two states (zero
    rescans): per column, both sides finalize through the shared batch
    arithmetic and the deltas of (acf1, trend_r, seasonal_strength) are
    reported, flagged when |delta| >= ``threshold``. Mismatched specs
    refuse via the same rule as the merge."""
    if (
        state_a.ts_col != state_b.ts_col
        or state_a.granularity != state_b.granularity
    ):
        raise ValueError(
            "timeseries_drift_between: states disagree on "
            f"(ts_col, granularity): ({state_a.ts_col!r}, "
            f"{state_a.granularity!r}) vs ({state_b.ts_col!r}, "
            f"{state_b.granularity!r}) — structure compares like with "
            "like; re-save the baseline"
        )
    shared = [c for c in state_a.columns if c in set(state_b.columns)]
    fa = timeseries_of(state_a, lags)
    fb = timeseries_of(state_b, lags)
    out: dict = {}
    for c in shared:
        ca = fa["columns"].get(c, {})
        cb = fb["columns"].get(c, {})
        row: dict = {}
        flagged = False
        for k in ("acf1", "trend_r", "seasonal_strength"):
            va, vb = ca.get(k), cb.get(k)
            row[f"{k}_a"] = va
            row[f"{k}_b"] = vb
            delta = (
                vb - va if va is not None and vb is not None else None
            )
            row[f"{k}_delta"] = delta
            if delta is not None and abs(delta) >= threshold:
                flagged = True
        row["flagged"] = flagged
        out[c] = row
    return out


# ----------------------------------------------------------------------------
# Incremental validation — evaluate a declared check suite from a (merged)
# PartialProfile with ZERO data rescans (the drift-between-states pattern
# applied to operators/checks.py). State-expressible constraints evaluate
# exactly; sketch-backed ones (quantile, distinctness) evaluate with
# exact=False; everything that genuinely needs a scan refuses by name so a
# stale state can never silently "pass" a predicate it cannot see.
# ----------------------------------------------------------------------------


def checks_of(
    part: PartialProfile,
    checks: list,
    spark: SparkSession | None = None,
) -> list[dict[str, Any]]:
    """Evaluate constraints against the state; one dict per check.

    Exact from state: ``completeness`` / ``row_count_between`` /
    ``mean_between`` / ``sum_between`` / ``min_between`` / ``max_between`` /
    ``stddev_between``. Decidable from state when ``min_ratio == 1.0``:
    ``in_range`` / ``non_negative`` (the [state.min, state.max] interval
    either fits the bound — compliance is exactly 1.0 — or provably does
    not). Sketch-backed (``exact=False``, needs ``spark`` for the sketch
    query): ``quantile_between`` from KLL, ``distinctness`` from HLL
    (mirroring the batch NULL-as-a-value rule: the HLL estimate of the
    non-null values, plus the one NULL key group when the state saw
    missing rows, over n_rows).
    Everything else (uniqueness / primary_key / is_in_set / matches /
    satisfies / foreign_key / functional_dependency) raises, naming the
    batch path — those require row or group visibility no bounded state has.

    Output rows carry the batch result fields plus ``exact``; values round
    to the same 4 decimals so a state row is directly comparable with its
    ``check_suite`` twin.
    """
    _EXACT = {"completeness", "row_count_between", "mean_between",
              "sum_between", "min_between", "max_between", "stddev_between"}
    _DECIDABLE = {"in_range", "non_negative"}
    _SKETCH = {"quantile_between", "distinctness",
               "approx_distinct_between"}

    names = [c.name for c in checks]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        # check_suite/checks_stream refuse these too; here a duplicate name
        # would silently overwrite the other's sketch value
        raise ValueError(f"duplicate check names: {sorted(dupes)}")
    unsupported = [
        c.name for c in checks
        if c.kind not in _EXACT | _DECIDABLE | _SKETCH
    ]
    if unsupported:
        raise ValueError(
            "checks_of: not evaluable from a bounded state (needs a scan — "
            f"run operators.checks.check_suite on the frame): {unsupported}"
        )
    for c in checks:
        if c.kind == "row_count_between":
            continue
        col = c.columns[0]
        if col not in part.columns:
            raise ValueError(
                f"checks_of: column {col!r} (check {c.name!r}) not in state"
            )
        if c.kind in _DECIDABLE and c.params.get("min_ratio", 1.0) != 1.0:
            raise ValueError(
                f"checks_of: {c.name!r} has min_ratio < 1.0 — partial "
                "compliance is not derivable from min/max; run check_suite"
            )
        numeric_only = (_EXACT | _DECIDABLE | _SKETCH) - {
            "completeness", "row_count_between", "distinctness",
            "approx_distinct_between",
        }
        if (
            c.kind in numeric_only
            and part.columns[col].type != VT.NUMERIC.value
        ):
            raise ValueError(
                f"checks_of: {c.name!r} needs a NUMERIC state column, "
                f"{col!r} is {part.columns[col].type!r}"
            )

    # one tiny sketch job for every KLL quantile / HLL estimate needed
    sketch_vals: dict[str, Any] = {}
    sketch_checks = [c for c in checks if c.kind in _SKETCH]
    if sketch_checks:
        if spark is None:
            raise ValueError(
                "checks_of: quantile_between/distinctness evaluate from "
                "KLL/HLL sketches — pass the SparkSession"
            )
        exprs, keys = [], []
        for c in sketch_checks:
            col = c.columns[0]
            cs = part.columns[col]
            pend = part._pending.get(col) or {}
            if c.kind == "quantile_between":
                klls = list(pend.get("kll") or []) + (
                    [cs.kll] if cs.kll else [])
                if not klls:
                    # no non-null mass: vacuous — batch-equivalent (the batch
                    # percentile of an all-null column is NULL, which
                    # _ratio_row also passes vacuously)
                    continue
                e = F.lit(klls[0])
                for x in klls[1:]:
                    e = F.kll_sketch_merge_double(e, F.lit(x))
                exprs.append(
                    F.kll_sketch_get_quantile_double(
                        e, F.lit(float(c.params["q"]))
                    ).alias(f"s_{len(keys)}")
                )
            else:
                hlls = list(pend.get("hll") or []) + (
                    [cs.hll] if cs.hll else [])
                if not hlls:
                    # zero non-null mass → no HLL was ever built, but the
                    # batch gate still yields a concrete value on an all-null
                    # column (approx_count_distinct = 0; distinctness counts
                    # the NULL key group via the n_missing bump below) — a
                    # None here would pass vacuously where batch FAILS a
                    # declared lower bound
                    sketch_vals[c.name] = 0
                    continue
                e = F.lit(hlls[0])
                for x in hlls[1:]:
                    e = F.hll_union(e, F.lit(x))
                exprs.append(F.hll_sketch_estimate(e).alias(f"s_{len(keys)}"))
            keys.append(c.name)
        if exprs:
            row = spark.range(1).select(*exprs).collect()[0]
            for i, name in enumerate(keys):
                sketch_vals[name] = row[i]

    def rnd(x):
        return None if x is None else round(float(x), 4)

    out: list[dict[str, Any]] = []
    for c in checks:
        p = c.params
        cs = part.columns.get(c.columns[0]) if c.columns else None
        exact = True
        lo = p.get("lo")
        hi = p.get("hi")
        if c.kind == "completeness":
            value = (cs.count / cs.n_rows) if cs.n_rows else None
            lo, hi, metric = p["min_ratio"], None, "completeness"
        elif c.kind == "row_count_between":
            value, metric = float(part.n), "row_count"
        elif c.kind == "mean_between":
            value, metric = cs.m1, "mean"
        elif c.kind == "sum_between":
            value = cs.m1 * cs.count if cs.m1 is not None else None
            metric = "sum"
        elif c.kind == "min_between":
            value, metric = cs.min, "min"
        elif c.kind == "max_between":
            value, metric = cs.max, "max"
        elif c.kind == "stddev_between":
            value = (
                math.sqrt(max(0.0, cs.m2 / (cs.count - 1)))
                if cs.m1 is not None and math.isfinite(cs.m1) and cs.count > 1
                else None
            )
            metric = "stddev"
        elif c.kind in _DECIDABLE:
            b_lo = p["lo"] if c.kind == "in_range" else 0.0
            b_hi = p["hi"] if c.kind == "in_range" else None
            if cs.count == 0 or cs.min is None:
                value = None  # vacuous, like the batch 0/0
            elif cs.min >= b_lo and (b_hi is None or cs.max <= b_hi):
                value = 1.0
            else:
                value = None  # ratio unknowable — but passed is decidable
                out.append({
                    "check_name": c.name, "kind": c.kind,
                    "column": c.display_column(), "metric": "compliance",
                    "value": None, "lower": 1.0, "upper": None,
                    "passed": False, "exact": True,
                })
                continue
            lo, hi, metric = 1.0, None, "compliance"
        elif c.kind == "quantile_between":
            value = sketch_vals.get(c.name)
            metric, exact = f"q{p['q']}", False
        elif c.kind == "approx_distinct_between":
            value = sketch_vals.get(c.name)
            metric, exact = "approx_distinct", False
        else:  # distinctness
            est = sketch_vals.get(c.name)
            if est is not None and cs.n_missing > 0:
                est = est + 1  # the NULL key group the batch operator counts
            value = (est / cs.n_rows) if est is not None and cs.n_rows else None
            lo, hi, metric, exact = p["min_ratio"], None, "distinctness", False
        # pass rule on the UNROUNDED metric (the batch _ratio_row rule —
        # a min_ratio=1.0 gate must not accept 0.999975 via rounding);
        # the reported value rounds for display/comparability
        raw = None if value is None else float(value)
        v = rnd(value)
        passed = raw is None or (
            (lo is None or raw >= lo) and (hi is None or raw <= hi)
        )
        out.append({
            "check_name": c.name, "kind": c.kind,
            "column": c.display_column() if c.columns else "",
            "metric": metric, "value": v,
            "lower": None if lo is None else float(lo),
            "upper": None if hi is None else float(hi),
            "passed": bool(passed), "exact": exact,
        })
    return out


def schema_drift_between_partials(
    a: PartialProfile, b: PartialProfile
) -> dict[str, Any]:
    """Did the SHAPE of the table change between snapshots? — the gap the
    value-drift operators cannot see: ``drift_between_partials`` and its
    categorical twin cover the columns both states share, so a renamed,
    dropped, added, or re-typed column silently vanishes from every PSI
    table. Pure driver arithmetic over the states' column maps.

    Returns ``{"added": [...], "removed": [...], "type_changed":
    [{"column", "type_a", "type_b"}], "changed": bool}`` — feed it to
    ``drift_alerts``/``drift_report_html`` (DRIFT_SCHEMA) or read
    ``changed`` as the refuse-early signal in a daily loop."""
    cols_a, cols_b = set(a.columns), set(b.columns)
    type_changed = [
        {
            "column": c,
            "type_a": a.columns[c].type,
            "type_b": b.columns[c].type,
        }
        for c in sorted(cols_a & cols_b)
        if a.columns[c].type != b.columns[c].type
    ]
    out = {
        "added": sorted(cols_b - cols_a),
        "removed": sorted(cols_a - cols_b),
        "type_changed": type_changed,
    }
    out["changed"] = bool(out["added"] or out["removed"] or type_changed)
    return out
