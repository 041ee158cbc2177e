"""The profiling pipeline — the engine's flagship "query".

Mirrors the reference's describe() lifecycle (reference:
src/pandas_profiling/model/describe.py:30-222 → description_set with keys
analysis/table/variables/correlations/missing/sample/duplicates/messages/package)
but with a constant number of Spark jobs:

  pass 1  one wide ``df.agg``: every scalar stat for every column,
          with the full Pearson pair list folded in                 (summary.py)
  pass 2  one melt+groupBy: value counts / distinct / unique / topK /
          extremes, one linear chain of three exchanges           (frequencies.py)
  pass 3  one explode+groupBy: all numeric+datetime histograms      (histogram.py)
  pass 4  one ``df.agg``: MAD for all numeric columns, with nullity
          correlations piggybacked for the null-bearing columns     (summary.py)
  pass 5  one groupBy(all cols): duplicate stats + top groups       (duplicates.py)
  + bounded sample fetches (limit N)

The reference runs 5-10 jobs *per column* through a ThreadPool
(summary.py:155-188); at 1000 executors x 100 TB the job storm and its repeated
scans are the bottleneck — the constant-pass design is the whole point of the
rebuild (SURVEY.md §7).
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark import StorageLevel

from pandas_profiling_personal_spark.config import ProfileConfig
from pandas_profiling_personal_spark.operators import (
    correlations as C,
    duplicates as D,
    frequencies as FQ,
    histogram as H,
    missing as M,
    order_stats as OS,
    sampling as SA,
    summary as SU,
)
from pandas_profiling_personal_spark.functions.math_ext import chisquare_uniform
from pandas_profiling_personal_spark.plans.alerts import compute_alerts
from pandas_profiling_personal_spark.types import (
    VariableType as VT,
    apply_inferred_types,
    infer_variable_types,
    variable_types,
)


@dataclass
class ProfileResult:
    """JSON-serializable profile (reference: description_set,
    profile_report.py:345-367)."""

    table: dict[str, Any]
    variables: dict[str, dict[str, Any]]
    correlations: dict[str, Any]
    missing: dict[str, Any]
    sample: dict[str, Any]
    duplicates: list[dict[str, Any]]
    scatter: dict[str, Any] = field(default_factory=dict)
    alerts: list[dict[str, Any]] = field(default_factory=list)
    analysis: dict[str, Any] = field(default_factory=dict)
    package: dict[str, Any] = field(default_factory=dict)
    segments: dict[str, Any] = field(default_factory=dict)
    timeseries: dict[str, Any] = field(default_factory=dict)
    #: user-supplied dataset metadata + variable descriptions (reference:
    #: config_default.yaml:5-17, report/structure/overview.py:73-114):
    #: {"title", "dataset": {...}, "variable_descriptions": {...},
    #:  "show_variable_description": bool} — only non-empty keys stored
    metadata: dict[str, Any] = field(default_factory=dict)
    #: write-layout advice (config layout_advice=True): the
    #: suggest_layout_from_profile artifact — zero extra Spark jobs
    layout: dict[str, Any] = field(default_factory=dict)
    #: feature-vs-target association ranking (config relevance_target=):
    #: [{feature, method, score, reason?}] sorted score-desc
    relevance: list[dict[str, Any]] = field(default_factory=list)
    #: mined single-column functional dependencies (config
    #: discover_fds=True): discover_fds rows as dicts, ratio-desc
    relationships: list[dict[str, Any]] = field(default_factory=list)
    #: mined unique column combinations (config discover_keys=True):
    #: discover_keys rows as dicts, ratio-desc — names + counts only
    key_candidates: list[dict[str, Any]] = field(default_factory=list)

    def as_dict(self) -> dict[str, Any]:
        return {
            "analysis": self.analysis,
            "metadata": self.metadata,
            "table": self.table,
            "variables": self.variables,
            "correlations": self.correlations,
            "missing": self.missing,
            "sample": self.sample,
            "duplicates": self.duplicates,
            "scatter": self.scatter,
            "alerts": self.alerts,
            "package": self.package,
            "segments": self.segments,
            "timeseries": self.timeseries,
            "layout": self.layout,
            "relevance": self.relevance,
            "relationships": self.relationships,
            "key_candidates": self.key_candidates,
        }

    def to_json(self, **kw) -> str:
        return json.dumps(self.as_dict(), default=_json_default, **kw)


#: the always-run passes of a default-tier profile, in execution order —
#: the progress-callback plan (optional stages append per config below)
_CORE_STAGES = (
    "setup_types",
    "pass1_scalars",
    "pass2_frequencies",
    "refinement",
    "pass3_histograms",
    "pass4_mad",
    "pass5_duplicates",
    "correlations_interactions",
    "missing_structure",
    "sample_head",
    "sample_random",
    "missing_samples",
)


def profile(
    df: DataFrame,
    config: ProfileConfig | None = None,
    columns: list[str] | None = None,
    progress: "Callable[[str, int, int], None] | None" = None,
) -> ProfileResult:
    """``progress`` is the reference's ``progress_bar`` surface
    (config_default.yaml, driven in model/describe.py:100-190) without the
    tqdm dependency: a ``(stage, i, n)`` callback fired as each pass
    COMPLETES — ``stage`` the pass name, ``i`` 1-based completion count,
    ``n`` the planned total for this config. On a 100 TB table this is how
    a caller tells a 10-minute stage from a hang; the CLI renders it under
    ``--verbose``. Callback exceptions propagate (a monitoring hook that
    raises should stop the run, not be swallowed)."""
    cfg = config or ProfileConfig()
    # fail-fast config validation BEFORE any Spark pass runs: a typo'd
    # relevance_target (or an unknown html_theme that would only raise at
    # render time) must not waste a multi-pass profile of a 100 TB table
    _profiled_cols = columns if columns is not None else df.columns
    if cfg.relevance_target and cfg.relevance_target not in _profiled_cols:
        raise ValueError(
            f"relevance_target column {cfg.relevance_target!r} not in the "
            f"profiled columns {list(_profiled_cols)}"
        )
    if cfg.relevance_target and cfg.relevance_target in set(df.columns):
        # the temporal-target refusal needs only the schema — surface it
        # here, not after every other pass has paid for its scan
        from pyspark.sql import types as _T

        _tgt_dt = df.schema[cfg.relevance_target].dataType
        if isinstance(
            _tgt_dt, (_T.DateType, _T.TimestampType, _T.TimestampNTZType)
        ):
            raise ValueError(
                f"relevance_target {cfg.relevance_target!r} has temporal "
                f"type {_tgt_dt.simpleString()}; bucket it (e.g. "
                "date_trunc) to a categorical or cast to a numeric epoch "
                "first"
            )
    if cfg.html_theme not in (None, "", "dark"):
        raise ValueError(
            f"unknown html theme {cfg.html_theme!r}; "
            "supported: None (light), 'dark'"
        )
    t0 = time.time()
    # per-pass wall clock, surfaced in analysis["pass_durations_sec"] so a
    # slow profile is attributable without external tooling (the reference
    # records only a single duration, profile_report.py:345-367)
    _passes: dict[str, float] = {}
    _last = [t0]

    _planned = list(_CORE_STAGES)
    if cfg.segment_by and not cfg.redact:
        _planned.append("segments")
    if cfg.timeseries_ts_col and not cfg.redact:
        _planned.append("timeseries")
    if cfg.relevance_target and not cfg.redact:
        _planned.append("target_relevance")
    if cfg.discover_fds:
        _planned.append("fd_discovery")
    if cfg.discover_keys:
        _planned.append("key_discovery")
    _done: list[str] = []

    def _mark(name: str) -> None:
        now = time.time()
        _passes[name] = round(_passes.get(name, 0.0) + now - _last[0], 3)
        _last[0] = now
        if progress is not None and name not in _done:
            _done.append(name)
            progress(name, len(_done), len(_planned))
        # label the NEXT pass's jobs in the Spark UI/event log (guide:
        # a program running many queries should be readable per job);
        # thread-local and one Py4J call per pass — negligible cost
        try:
            df.sparkSession.sparkContext.setJobDescription(
                f"profile: after {name}"
            )
        except Exception:
            pass
    # ``None`` means "all columns"; an explicit empty list means "no columns"
    # (empty result), never a silent fall-through to the full table — the
    # near-unique gate made gate-everything -> [] -> full-table-melt reachable.
    if columns is not None:
        from pandas_profiling_personal_spark.functions import stats as S

        df = df.select(*[S.col(c) for c in columns])

    try:
        df.sparkSession.sparkContext.setJobDescription("profile: pass1")
    except Exception:
        pass
    persisted = False
    if cfg.persist and df.storageLevel == StorageLevel.NONE:
        # Widen under-split inputs BEFORE persisting: a byte-sized scan of a
        # small file yields one partition, serializing the map side of all five
        # passes on one core (functions/partitioning.py). The cached copy then
        # carries the good layout through every pass.
        from pandas_profiling_personal_spark.functions.partitioning import (
            parallelize_narrow,
        )

        df = parallelize_narrow(df).persist(StorageLevel.MEMORY_AND_DISK)
        persisted = True
    try:
        types = variable_types(df)
        if cfg.infer_types:
            inferred = infer_variable_types(
                df, types, cfg.low_categorical_threshold,
                coerce_str_to_date=cfg.coerce_str_to_date,
            )
            # materialize the reclassifications as typed columns — every later
            # pass aggregates by variable type, and a raw string column posing
            # as BOOLEAN/NUMERIC breaks those aggregates under ANSI mode
            df = apply_inferred_types(df, types, inferred)
            types = inferred
        if cfg.column_order in ("asc", "desc"):
            types = dict(
                sorted(types.items(), key=lambda kv: kv[0].lower(),
                       reverse=cfg.column_order == "desc")
            )

        # pass 1 — scalar stats, with the Pearson pair list and the nullity
        # correlations folded into the SAME aggregation (one scan buys every
        # scalar statistic of the profile)
        from itertools import combinations as _comb

        num_cols = [c for c, vt in types.items() if vt is VT.NUMERIC]
        extra: dict[str, Any] = {}
        pearson_pairs: list[tuple[str, str]] = []
        # pairwise folds are quadratic in column count; beyond the caps fall
        # back to ml.stat (pearson) / a gated second pass (nullity)
        # extras fold into pass 1's SQL-built aggregate as SQL fragments
        # (equivalence with the Column builders is CI-asserted,
        # test_plan_quality.py::test_scalar_summary_sql_matches_column_builders)
        from pandas_profiling_personal_spark.functions.stats import sq

        if (
            "pearson" in cfg.correlations
            and 2 <= len(num_cols) <= 60
        ):
            pearson_pairs = list(_comb(num_cols, 2))
            for i, (a, b) in enumerate(pearson_pairs):
                qa, qb = sq(a), sq(b)
                extra[f"corr_{i}"] = (
                    f"try_divide(covar_samp({qa}, {qb}), "
                    f"stddev_samp({qa}) * stddev_samp({qb}))"
                )
        # TYPE_DATE detection (R4): string columns fully castable to dates —
        # one boolean aggregate per string column, folded into pass 1
        cat_cols = [c for c, vt in types.items() if vt is VT.CATEGORICAL]
        for i, c in enumerate(cat_cols):
            q = sq(c)
            extra[f"datelike_{i}"] = (
                f"(count({q}) > 0) AND "
                f"(count(try_cast({q} as date)) = count({q}))"
            )
        # FD-discovery rider (VERDICT r12 #8): the tier-2 screen's
        # pair-struct approx_count_distincts are just more expressions —
        # fold them into the SAME pass-1 aggregate so discovery pays zero
        # extra scans (only the survivors' melt). The fold is quadratic in
        # eligible columns, so beyond the cap the late discover_fds call
        # falls back to its own two screen scans.
        fd_rider_pairs: list[tuple[str, str]] = []
        if cfg.discover_fds:
            _fd_elig = [
                c for c, vt in types.items()
                if vt in (VT.NUMERIC, VT.CATEGORICAL, VT.BOOLEAN,
                          VT.DATETIME)
            ]
            if 2 <= len(_fd_elig) <= 16:
                fd_rider_pairs = [
                    tuple(sorted(p)) for p in _comb(_fd_elig, 2)
                ]
                for k, (a, b) in enumerate(fd_rider_pairs):
                    extra[f"fdpair_{k}"] = (
                        f"approx_count_distinct(struct({sq(a)}, {sq(b)}))"
                    )

        _mark("setup_types")
        variables, extras = SU.scalar_summary(df, cfg, types, extra_exprs=extra)
        _mark("pass1_scalars")
        table = variables.pop("__table__")
        n = table["n"]
        for i, c in enumerate(cat_cols):
            variables[c]["date_like"] = bool(extras.get(f"datelike_{i}"))

        # pass 2 — exact distinct/unique + top-K frequency tables. Fetch enough
        # values to cover the categorical-uniformity test for columns under the
        # cardinality threshold (still driver-bounded).
        freq_cols = [c for c, vt in types.items() if vt is not VT.BINARY]
        # near-unique gate (freq_near_unique_ratio): drop columns whose
        # pass-1 distinct estimate says the frequency table would be mostly
        # count-1 rows — at scale that melt branch is a near-full-cardinality
        # shuffle with no diagnostic value. Gated columns keep pass-1 stats.
        # DEFAULT-ON in the approx tier (r4): "auto" resolves to 0.5 when
        # exact=False (at >=50% distinct the frequency table is >=50%
        # singletons and the exchange carries >=half the rows; measured on
        # the wide100 bench 0.9 gated only 2/75 continuous columns — their
        # HLL ratios land at 0.2-0.85), and to disabled in exact/oracle mode
        # so hash-matched results and small-data test semantics never
        # change. The min-count guard keeps small interactive tables fully
        # profiled.
        gate_ratio = cfg.freq_near_unique_ratio
        if gate_ratio == "auto":
            gate_ratio = None if cfg.exact else 0.5
        if gate_ratio is not None:
            min_count = (
                cfg.freq_gate_min_count
                if cfg.freq_near_unique_ratio == "auto"
                else 1
            )
            gated = {
                c
                for c in freq_cols
                if (variables[c].get("count") or 0) >= min_count
                and (variables[c].get("n_distinct") or 0)
                >= gate_ratio * variables[c]["count"]
            }
            freq_cols = [c for c in freq_cols if c not in gated]
            for c in gated:
                variables[c]["freq_skipped_near_unique"] = True
        else:
            gated = set()
        fetch_k = min(
            max(cfg.top_k, cfg.cardinality_threshold + 1), cfg.driver_value_limit
        )
        # extreme observations (K5) ride the same action and exchanges as the
        # top-K: one (column, value) count exchange, then the salted and
        # per-column window phases rank both orders (frequency_summary).
        # Numeric columns rank on the cast value, datetimes lexically (ISO
        # order)
        ext_cols = [
            c
            for c, vt in types.items()
            if vt in (VT.NUMERIC, VT.DATETIME) and c not in gated
        ]
        if freq_cols:
            scalars, tops, extremes = FQ.frequency_summary(
                df,
                freq_cols,
                fetch_k,
                n_extreme=cfg.n_extreme_obs if cfg.extreme_obs else 0,
                extreme_numeric=[c for c in ext_cols if types[c] is VT.NUMERIC],
                extreme_cols=ext_cols,
            )
        else:  # every column gated — nothing left for the melt pass
            scalars, tops, extremes = {}, {}, {}
        for cname, ext in extremes.items():
            if cname in ext_cols:
                variables[cname]["extreme_obs"] = {
                    end: [{"value": v, "count": cnt} for v, cnt in vals]
                    for end, vals in ext.items()
                }
        for cname, s in scalars.items():
            v = variables[cname]
            v["n_distinct"] = s["n_distinct"]
            v["n_unique"] = s["n_unique"]
            cnt = v["count"]
            v["p_distinct"] = s["n_distinct"] / cnt if cnt else None
            v["p_unique"] = s["n_unique"] / cnt if cnt else None
            v["is_unique"] = (s["n_unique"] == cnt) if cnt else None
        for cname, top in tops.items():
            variables[cname]["top_values"] = [
                {"value": val, "count": cnt} for val, cnt in top[: cfg.top_k]
            ]
            if top:
                variables[cname]["mode"] = top[0][0]
                variables[cname]["mode_count"] = top[0][1]
            # categorical uniformity (A12): when we hold the COMPLETE frequency
            # table (cardinality <= fetched top-K), chi-square it driver-side
            v = variables[cname]
            if (
                types[cname] is VT.CATEGORICAL
                and 2 <= (v.get("n_distinct") or 0) <= len(top)
            ):
                stat, p = chisquare_uniform([cnt for _, cnt in top])
                v["chi_squared"] = stat
                v["chi_squared_p"] = p

        _mark("pass2_frequencies")
        # explorative string-type refinement (reference "explorative" group
        # activates url/path variable types, config.py:58-70). Detection is
        # FREE of extra scans: classify on the top-K values pass 2 already
        # fetched; only confirmed columns pay one bounded decomposition job
        # (url_parts/path_parts — a single melted groupBy each).
        if cfg.string_refinement:
            import re as _re

            from pandas_profiling_personal_spark.operators import (
                strings as STR,
            )

            url_re = _re.compile(r"^[a-z][a-z0-9+.\-]*://\S+$", _re.I)
            path_re = _re.compile(r"^(?:/|[A-Za-z]:\\|\.{1,2}/)\S*$")

            def _is_complex_literal(s: str) -> bool:
                # require a 'j' so plain numeric strings stay numeric-inferred
                if "j" not in s and "J" not in s:
                    return False
                try:
                    complex(s)
                except ValueError:
                    return False
                return True

            for cname, vt in types.items():
                if vt is not VT.CATEGORICAL:
                    continue
                vals = [v for v, _ in (tops.get(cname) or []) if v]
                if len(vals) < 3:
                    continue
                n_url = sum(1 for s in vals if url_re.match(s))
                n_path = sum(1 for s in vals if path_re.match(s))
                n_cplx = sum(1 for s in vals if _is_complex_literal(s))
                if n_url >= 0.9 * len(vals):
                    kind = "url"
                elif n_path >= 0.9 * len(vals):
                    kind = "path"
                elif n_cplx >= 0.9 * len(vals):
                    # reference Complex type (typeset.py:186-194): numeric
                    # treatment of complex-literal strings + re/im view
                    kind = "complex"
                elif (
                    variables[cname].get("mean_length") or 0
                ) >= cfg.text_min_mean_length:
                    # long free text: corpus-level language/quality rollup
                    # from the text-pipeline operators (beyond the reference,
                    # which renders long strings as plain categoricals)
                    kind = "text"
                else:
                    continue
                v = variables[cname]
                v["type_refined"] = kind
                if kind == "text":
                    from pandas_profiling_personal_spark.operators import (
                        text as TXT,
                    )

                    prof = TXT.text_profile(df, cname)
                    # two bounded jobs: a 1-row rollup + a ≤|langs|-row dist
                    roll = prof.agg(
                        F.round(F.avg("quality_score"), 4).alias("q"),
                        F.round(F.avg("n_tokens"), 4).alias("mt"),
                        F.sum("n_tokens").alias("tt"),
                        F.round(F.avg("distinct_token_ratio"), 4).alias("dr"),
                    ).collect()[0]
                    v["text_stats"] = {
                        "mean_quality_score": roll["q"],
                        "mean_tokens": roll["mt"],
                        "total_tokens": roll["tt"],
                        "mean_distinct_token_ratio": roll["dr"],
                    }
                    v["language_dist"] = {
                        r["language"]: r["cnt"]
                        for r in prof.groupBy("language")
                        .agg(F.count(F.lit(1)).alias("cnt"))
                        .collect()
                    }
                    continue
                if kind == "complex":
                    from pandas_profiling_personal_spark.operators.complex_type import (
                        complex_scatter,
                        complex_summary,
                    )

                    stats_row = (
                        complex_summary(df, [cname]).collect()[0].asDict()
                    )
                    stats_row.pop("column", None)
                    v["complex_stats"] = stats_row
                    if not cfg.redact:
                        v["complex_scatter"] = sorted(
                            (
                                r.asDict()
                                for r in complex_scatter(
                                    df, cname, bins=16
                                ).collect()
                            ),
                            key=lambda d: (d["x_bucket"], d["y_bucket"]),
                        )
                    continue
                if cfg.redact:
                    continue  # component values are value-revealing
                parts_df = (
                    STR.url_parts(df, cname)
                    if kind == "url"
                    else STR.path_parts(df, cname)
                ).withColumnRenamed("part", "column")
                comp: dict[str, list[dict[str, Any]]] = {}
                for r in sorted(
                    FQ.top_k_counts(parts_df, cfg.top_k).collect(),
                    key=lambda r: (r["column"], r["rank"]),
                ):
                    comp.setdefault(r["column"], []).append(
                        {"value": r["value"], "count": r["count"]}
                    )
                v[f"{kind}_parts"] = comp
                if kind == "path":
                    v["common_prefix"] = STR.common_prefix(df, cname)
                    # File/Image refinement (reference typeset.py:129-183
                    # refines Path -> File when every value exists, File ->
                    # Image by mimetype; summary_algorithms.py:384-428 then
                    # profiles sizes / dimensions). Gate: driver-side
                    # existence check over the ALREADY-FETCHED top-K sample —
                    # zero extra scans unless it passes; confirmed columns
                    # pay one executor-side stat pass (+ one bounded
                    # header-read pass for images).
                    import os as _os

                    from pandas_profiling_personal_spark.functions import (
                        stats as S,
                    )
                    from pandas_profiling_personal_spark.operators import (
                        multimodal as MM,
                    )

                    n_exist = sum(
                        1
                        for s in vals
                        if _os.path.exists(MM.strip_file_uri(s))
                    )
                    if n_exist >= 0.9 * len(vals):
                        v["type_refined"] = "file"
                        fs = MM.file_stats(
                            df.select(S.col(cname).alias("path")), "path"
                        )
                        frow = fs.agg(
                            F.count("path").alias("n"),
                            F.count("file_stat").alias("n_stat"),
                            F.min("file_stat.st_size").alias("min_size"),
                            F.round(
                                F.avg("file_stat.st_size"), 2
                            ).alias("mean_size"),
                            F.max("file_stat.st_size").alias("max_size"),
                            F.sum("file_stat.st_size").alias("total_size"),
                            F.min("file_stat.st_mtime").alias("min_mtime"),
                            F.max("file_stat.st_mtime").alias("max_mtime"),
                        ).collect()[0]
                        v["file_stats"] = {
                            "n_paths": frow["n"],
                            "n_existing": frow["n_stat"],
                            "min_size": frow["min_size"],
                            "mean_size": frow["mean_size"],
                            "max_size": frow["max_size"],
                            "total_size": frow["total_size"],
                            "min_mtime": frow["min_mtime"],
                            "max_mtime": frow["max_mtime"],
                        }
                        img_exts = (
                            ".jpg", ".jpeg", ".png", ".gif", ".bmp",
                            ".tif", ".tiff", ".webp",
                        )
                        n_img = sum(
                            1
                            for s in vals
                            if s.lower().endswith(img_exts)
                        )
                        if n_img >= 0.9 * len(vals):
                            v["type_refined"] = "image"
                            # header-sniff tier: dimensions/format from the
                            # first 64 KB of each file (PIL full-decode when
                            # importable via decoder='auto')
                            meta = MM.media_metadata(
                                MM.read_paths_bytes(
                                    df.select(S.col(cname).alias("path")),
                                    "path",
                                    max_bytes=65536,
                                ),
                                "content",
                                decoder="auto",
                            ).select("meta.*")
                            # ONE action: per-format counts + extents in a
                            # single groupBy (every file header is read and
                            # decoded exactly once); global extents folded
                            # driver-side over the handful of format groups
                            fmt_rows = (
                                meta.groupBy("format")
                                .agg(
                                    F.count(F.lit(1)).alias("cnt"),
                                    F.min("width").alias("min_w"),
                                    F.max("width").alias("max_w"),
                                    F.min("height").alias("min_h"),
                                    F.max("height").alias("max_h"),
                                )
                                .collect()
                            )
                            dec = [r for r in fmt_rows if r["format"]]

                            def _fold(fn, key):
                                xs = [
                                    r[key] for r in dec
                                    if r[key] is not None
                                ]
                                return fn(xs) if xs else None

                            v["image_stats"] = {
                                "n_decoded": sum(r["cnt"] for r in dec),
                                "min_width": _fold(min, "min_w"),
                                "max_width": _fold(max, "max_w"),
                                "min_height": _fold(min, "min_h"),
                                "max_height": _fold(max, "max_h"),
                                "format_dist": {
                                    r["format"]: r["cnt"] for r in dec
                                },
                            }

        # embedding-column refinement: a constant-dimension float/double
        # array column is an EMBEDDING, not an opaque Array — attach the
        # one-1-row-agg health profile (similarity.embedding_stats: ragged
        # dims / zero vectors / non-finite components / norm stats). The
        # reference profiles arrays as opaque everywhere
        # (summary_algorithms.py:34-41); this engine's multimodal thesis
        # says close that gap. Cost: one bounded 1-row aggregate per
        # candidate column, only when the explorative tier asks for it.
        if cfg.embedding_refinement:
            from pyspark.sql import types as _T

            from pandas_profiling_personal_spark.operators.similarity import (
                embedding_stats,
            )

            for cname, vt in types.items():
                if vt is not VT.ARRAY:
                    continue
                el = df.schema[cname].dataType.elementType
                if not isinstance(el, (_T.FloatType, _T.DoubleType)):
                    continue
                row = embedding_stats(df, cname).collect()[0].asDict()
                n_vec = (row["n"] or 0) - (row["n_null"] or 0)
                if n_vec > 0 and row["dim_min"] is not None:
                    v = variables[cname]
                    # health stats attach to EVERY float-array column (a
                    # ragged dimension is exactly the breakage worth
                    # surfacing — EMBEDDING_RAGGED alert); the Embedding
                    # refinement itself requires a constant dimension
                    v["embedding_stats"] = row
                    if row["dim_min"] == row["dim_max"]:
                        v["type_refined"] = "embedding"

        # binary-column media refinement: payloads stored IN the table (the
        # 100 TB multimodal layout — the reference only profiles media via
        # PATH columns). Two tiers by design: the FULL-DATA tier is one
        # pure-SQL melt aggregate over all binary columns (magic-byte sniff
        # + byte length — never decodes, scan speed at any size); the
        # header-stat tier decodes a BOUNDED deterministic sample through
        # the real no-dependency parsers (netpbm / RIFF-WAVE / Y4M), so its
        # cost is capped at media_sample_n rows per refined column.
        if cfg.binary_refinement:
            bin_cols = [c for c, vt in types.items() if vt is VT.BINARY]
            if bin_cols:
                from pandas_profiling_personal_spark.functions import (
                    stats as S,
                )
                from pandas_profiling_personal_spark.operators import (
                    multimodal as MM,
                )

                structs = [
                    F.struct(
                        F.lit(c).alias("column"),
                        MM.sniff_format_expr(S.col(c)).alias("fmt"),
                        F.length(S.col(c)).alias("nb"),
                    )
                    for c in bin_cols
                ]
                rows = (
                    df.select(F.explode(F.array(*structs)).alias("kv"))
                    .select("kv.*")
                    .where(F.col("nb").isNotNull())
                    .groupBy("column", "fmt")
                    .agg(
                        F.count(F.lit(1)).alias("cnt"),
                        F.min("nb").alias("min_nb"),
                        F.max("nb").alias("max_nb"),
                        F.sum("nb").alias("sum_nb"),
                    )
                    .collect()
                )
                per_col: dict[str, list] = {}
                for r in rows:
                    per_col.setdefault(r["column"], []).append(r)
                family = {
                    "jpeg": "image", "png": "image", "gif": "image",
                    "pgm": "image", "ppm": "image",
                    "riff": "audio",
                    "y4m": "video", "mp4?": "video",
                }
                for cname in bin_cols:
                    grp = per_col.get(cname)
                    if not grp:
                        continue  # all-null binary column
                    n_tot = sum(r["cnt"] for r in grp)
                    v = variables[cname]
                    v["binary_stats"] = {
                        "format_dist": {r["fmt"]: r["cnt"] for r in grp},
                        "min_bytes": min(r["min_nb"] for r in grp),
                        "max_bytes": max(r["max_nb"] for r in grp),
                        "mean_bytes": round(
                            sum(r["sum_nb"] for r in grp) / n_tot, 3
                        ),
                    }
                    # dominance is per media FAMILY (40% pgm + 40% ppm IS
                    # an 80% image column), count-desc name-asc tie rule —
                    # deterministic and matching the documented contract
                    fam_counts: dict[str, int] = {}
                    for r in grp:
                        f2 = family.get(r["fmt"])
                        if f2 is not None:
                            fam_counts[f2] = fam_counts.get(f2, 0) + r["cnt"]
                    if not fam_counts:
                        continue  # no recognizable media format at all
                    fam, fam_n = sorted(
                        fam_counts.items(), key=lambda kv: (-kv[1], kv[0])
                    )[0]
                    if fam_n * 2 < n_tot:
                        continue  # no media family dominates: stay Binary
                    v["type_refined"] = fam
                    fam_fmts = [
                        f for f, fm in family.items() if fm == fam
                    ]
                    # spend the bounded sample budget on PARSEABLE rows:
                    # an unfiltered limit() takes the first payloads in
                    # partition order, which on a 50% mixed column can be
                    # entirely the non-media blobs. Ordering by content
                    # hash before the limit makes the sample DETERMINISTIC
                    # (limit alone is partition-order dependent, so min/max
                    # header stats would wobble between runs and cluster
                    # layouts); Catalyst plans orderBy+limit as
                    # TakeOrderedAndProject — a bounded per-partition
                    # top-K, no global sort shuffle
                    sample = (
                        df.select(S.col(cname).alias("payload"))
                        .where(
                            MM.sniff_format_expr(S.col(cname)).isin(
                                fam_fmts
                            )
                        )
                        .orderBy(F.md5(F.col("payload")))
                        .limit(cfg.media_sample_n)
                    )
                    if fam == "video":
                        ms = [
                            m.asDict()
                            for m in MM.video_metadata(sample, "payload")
                            .select("video_meta.*")
                            .collect()
                        ]
                        parsed = [m for m in ms if m["width"] is not None]
                        keys = {
                            "width": "width", "height": "height",
                            "n_frames": "n_frames",
                            "duration_s": "duration_s",
                        }
                    elif fam == "audio":
                        ms = [
                            m.asDict()
                            for m in MM.audio_metadata(
                                sample, "payload", decoder="auto"
                            )
                            .select("audio_meta.*")
                            .collect()
                        ]
                        parsed = [
                            m for m in ms if m["sample_rate"] is not None
                        ]
                        keys = {
                            "sample_rate": "sample_rate",
                            "channels": "channels",
                            "duration_s": "duration_s",
                        }
                    else:  # image
                        dec = "real" if MM._pil_available() else "netpbm"
                        ms = [
                            m.asDict()
                            for m in MM.media_metadata(
                                sample, "payload", decoder=dec
                            )
                            .select("meta.*")
                            .collect()
                        ]
                        parsed = [m for m in ms if m["width"] is not None]
                        keys = {"width": "width", "height": "height"}
                    stats: dict[str, Any] = {
                        "n_sampled": len(ms),
                        "n_parsed": len(parsed),
                    }
                    for label, k in keys.items():
                        vals = [
                            m[k] for m in parsed if m.get(k) is not None
                        ]
                        stats[f"min_{label}"] = min(vals) if vals else None
                        stats[f"max_{label}"] = max(vals) if vals else None
                    v["media_stats"] = stats

        _mark("refinement")
        # pass 3 — histograms for all numeric AND datetime columns (A11 + A16;
        # the reference has no Spark date describer at all)
        specs: dict[str, tuple[int, float, float]] = {}
        for cname, vt in types.items():
            v = variables[cname]
            if vt is VT.NUMERIC and v.get("min") is not None:
                lo, hi = float(v["min"]), float(v["max"])
                if not (math.isfinite(lo) and math.isfinite(hi)):
                    continue
                bins = cfg.histogram_bins or H.auto_bins(
                    v["count"], v.get("iqr"), lo, hi, cfg.histogram_max_bins
                )
                specs[cname] = (bins, lo, hi)
            elif vt is VT.DATETIME and v.get("min_epoch") is not None:
                lo, hi = float(v["min_epoch"]), float(v["max_epoch"])
                bins = cfg.histogram_bins or H.auto_bins(
                    v["count"], None, lo, hi, cfg.histogram_max_bins
                )
                specs[cname] = (bins, lo, hi)
        for cname, hist in H.histogram_all(df, specs).items():
            variables[cname]["histogram"] = hist
            # numeric uniformity (A12) over the histogram bins
            if types[cname] is VT.NUMERIC and len(hist["counts"]) >= 2:
                stat, p = chisquare_uniform(hist["counts"])
                variables[cname]["chi_squared"] = stat
                variables[cname]["chi_squared_p"] = p

        _mark("pass3_histograms")
        # pass 4 — MAD, with nullity correlations piggybacked for the columns
        # pass 1 found nulls in (quadratic only over null-bearing columns, and
        # no extra scan when MAD runs anyway)
        medians = {
            c: variables[c].get("median")
            for c, vt in types.items()
            if vt is VT.NUMERIC and variables[c].get("median") is not None
        }
        nullity_pairs: list[tuple[str, str]] = []
        null_extra: dict[str, Any] = {}
        cols_with_nulls = sorted(
            c for c in types if variables[c]["n_missing"] > 0
        )
        if cfg.missing_diagrams and 2 <= len(cols_with_nulls) <= 32:
            from pandas_profiling_personal_spark.functions import stats as S

            nullity_pairs = list(_comb(cols_with_nulls, 2))
            for i, (a, b) in enumerate(nullity_pairs):
                null_extra[f"nullcorr_{i}"] = S.safe_corr(
                    S.col(a).isNull().cast("double"),
                    S.col(b).isNull().cast("double"),
                )
        mads, null_extras = SU.mad_summary(
            df, medians, cfg, extra_exprs=null_extra
        )
        for cname, mad in mads.items():
            variables[cname]["mad"] = mad

        _mark("pass4_mad")
        # pass 5 — duplicates (supported columns only, like the reference which
        # drops unsupported cols before grouping)
        dup_cols = [
            c for c, vt in types.items()
            if vt in (VT.NUMERIC, VT.CATEGORICAL, VT.BOOLEAN, VT.DATETIME)
        ]
        duplicates: list[dict[str, Any]] = []
        # "auto" resolves to the hashed tier only in the approx/scale mode,
        # like the freq near-unique gate: exact/oracle mode keeps the
        # full-row groupBy so test semantics and tie-breaks never change
        use_hashed_dup = cfg.duplicates_hash is True or (
            cfg.duplicates_hash == "auto"
            and not cfg.exact
            and len(dup_cols) > cfg.duplicates_hash_min_cols
        )
        if cfg.duplicates and dup_cols and use_hashed_dup:
            # wide/scale tier: group on two salted 64-bit row hashes instead
            # of the full row payload — same stats, top-N values recovered by
            # a broadcast join-back (duplicates.duplicate_summary_hashed)
            dstats, duplicates = D.duplicate_summary_hashed(
                df, dup_cols, cfg.duplicates_head
            )
            table.update(
                n_duplicates=dstats["n_duplicate_rows"],
                p_duplicates=dstats["p_duplicates"],
            )
        elif cfg.duplicates and dup_cols:
            # one grouped shuffle shared by the duplicate count and the top-N
            # groups (cached; the grouped table is <= the distinct row count)
            from pyspark import StorageLevel as _SL
            from pandas_profiling_personal_spark.functions import stats as S

            grouped = df.groupBy(*[S.col(c) for c in dup_cols]).agg(
                F.count(F.lit(1)).alias("n_dup")
            ).persist(_SL.MEMORY_AND_DISK)
            try:
                drow = grouped.agg(
                    F.coalesce(F.sum("n_dup"), F.lit(0)).alias("n_rows"),
                    F.count(F.lit(1)).alias("n_distinct_rows"),
                ).collect()[0]
                n_dup_rows = drow["n_rows"] - drow["n_distinct_rows"]
                table.update(
                    n_duplicates=n_dup_rows,
                    p_duplicates=n_dup_rows / drow["n_rows"] if drow["n_rows"] else 0.0,
                )
                duplicates = [
                    r.asDict()
                    for r in grouped.where(F.col("n_dup") > 1)
                    .orderBy(F.desc("n_dup"), *[S.col(c).asc() for c in dup_cols])
                    .limit(cfg.duplicates_head)
                    .collect()
                ]
            finally:
                grouped.unpersist()
        else:
            table.update(n_duplicates=None, p_duplicates=None)

        _mark("pass5_duplicates")
        # correlations (pearson came back with pass 1; others are extra jobs)
        correlations: dict[str, Any] = {}
        if pearson_pairs:
            correlations["pearson"] = _matrix_dict(
                {
                    (a, b): extras[f"corr_{i}"]
                    for i, (a, b) in enumerate(pearson_pairs)
                }
            )
        elif "pearson" in cfg.correlations and len(num_cols) >= 2:
            correlations["pearson"] = _matrix_dict(
                C.pearson_matrix(df, num_cols, method="ml")
            )
        if "spearman" in cfg.correlations and len(num_cols) >= 2:
            correlations["spearman"] = _matrix_dict(C.spearman_matrix(df, num_cols))
        if "kendall" in cfg.correlations and len(num_cols) >= 2:
            correlations["kendall"] = _matrix_dict(C.kendall_matrix(df, num_cols))
        # bounded-cardinality categorical columns, usable by cramers AND phik
        gated_cat_cols = [
            c for c, vt in types.items()
            if vt is VT.CATEGORICAL
            and 2 <= (variables[c].get("n_distinct") or 0)
            <= cfg.categorical_maximum_correlation_distinct
        ]
        if "phik" in cfg.correlations and len(num_cols) + len(gated_cat_cols) >= 2:
            # mixed-type φk (reference: correlations.py:423-521), batched:
            # one quantile-edges pass + ONE contingency shuffle for all pairs
            ph = C.phik_matrix(df, num_cols, gated_cat_cols)
            if ph:
                correlations["phik"] = _matrix_dict(ph)
        if "cramers" in cfg.correlations and len(gated_cat_cols) >= 2:
            # one contingency shuffle for the whole matrix, not one job/pair
            cv = C.cramers_v_matrix(df, gated_cat_cols)
            if cv:
                correlations["cramers"] = _matrix_dict(cv)

        # interactions (C7) — bucketed 2-D densities for every numeric pair in
        # ONE batched shuffle (operators/interactions.scatter_all); gated off by
        # default because row expansion is quadratic in column count
        scatter: dict[str, Any] = {}
        if cfg.interactions and len(num_cols) >= 2:
            from pandas_profiling_personal_spark.operators import (
                interactions as IX,
            )

            ranges = {}
            for c in num_cols[: cfg.interactions_max_cols]:
                v = variables[c]
                if v.get("min") is not None and v.get("max") is not None:
                    lo, hi = float(v["min"]), float(v["max"])
                    if math.isfinite(lo) and math.isfinite(hi):
                        ranges[c] = (lo, hi)
            for (a, b), grid in IX.scatter_all(
                df, ranges, cfg.interactions_bins,
                targets=list(cfg.interactions_targets) or None,
            ).items():
                scatter.setdefault(a, {})[b] = {
                    "x_range": list(ranges[a]),
                    "y_range": list(ranges[b]),
                    "bins": cfg.interactions_bins,
                    "grid": grid,
                }

        _mark("correlations_interactions")
        # missing structure
        missing: dict[str, Any] = {
            "counts": {c: variables[c]["n_missing"] for c in types}
        }
        if nullity_pairs:
            nc_pairs = {
                (a, b): null_extras[f"nullcorr_{i}"]
                for i, (a, b) in enumerate(nullity_pairs)
            }
            missing["nullity_correlation"] = _matrix_dict(nc_pairs)
            missing["dendrogram"] = {
                "columns": sorted(cols_with_nulls),
                "merges": M.nullity_dendrogram(nc_pairs),
            }
        elif cfg.missing_diagrams and len(cols_with_nulls) > 32:
            missing["nullity_correlation"] = _matrix_dict(
                M.nullity_correlation(df, cols_with_nulls)
            )

        _mark("missing_structure")
        # samples (bounded driver transfers)
        sample = {
            "head": [r.asDict() for r in SA.head(df, cfg.samples_head).collect()],
        }
        _mark("sample_head")
        sample["random"] = [
            r.asDict()
            for r in SA.random_sample(
                df, cfg.samples_random, cfg.seed, total=n
            ).collect()
        ]
        _mark("sample_random")
        if cfg.samples_tail > 0:
            sample["tail"] = [
                r.asDict() for r in SA.tail(df, cfg.samples_tail)
            ]

        _mark("missing_samples")
        # table rollups (reference: summary.py:213-310)
        type_counts: dict[str, int] = {}
        for vt in types.values():
            type_counts[vt.value] = type_counts.get(vt.value, 0) + 1
        n_cells = n * len(types)
        n_missing_total = sum(variables[c]["n_missing"] for c in types)
        table.update(
            types=type_counts,
            n_cells_missing=n_missing_total,
            p_cells_missing=(n_missing_total / n_cells) if n_cells else 0.0,
            n_vars_all_missing=sum(
                1 for c in types if variables[c]["n_missing"] == n
            ),
            n_vars_with_missing=sum(
                1 for c in types if variables[c]["n_missing"] > 0
            ),
        )
        # memory/record size (reference summary.py:217-224 samples cube-root
        # rows to pandas and extrapolates): the Catalyst plan estimate is
        # free and scale-independent — omitted when JVM internals are
        # unavailable rather than fabricated
        mem = OS.size_estimate(df)
        if mem is not None:
            table.update(
                memory_size=mem, record_size=(mem / n) if n else 0.0
            )

        # sensitive tier (reference "sensitive" arg group, config.py:37-41):
        # withhold every value-revealing output; counts/stats stay
        if cfg.redact:
            for v in variables.values():
                for k in ("top_values", "mode", "mode_count", "extreme_obs"):
                    v.pop(k, None)
                v["redacted"] = True
            sample = {"head": [], "random": []}
            duplicates = [
                {"n_dup": d.get("n_dup")} for d in duplicates
            ]

        # per-segment tier (``segment_by=``) — the view a corpus pipeline
        # reads daily (stats per language / source / shard); the reference
        # profiles one frame globally and has no group-by surface. Bounded:
        # segments are capped to the top ``segment_top_n`` by count, numeric
        # summaries + categorical top-K each run as ONE melt + ONE exchange
        # (operators grouped_summary / grouped_top_k). Skipped under redact —
        # segment labels are data values.
        segments: dict[str, Any] = {}
        if cfg.segment_by and not cfg.redact:
            seg = cfg.segment_by
            if seg not in types:
                raise ValueError(
                    f"segment_by column {seg!r} not found in DataFrame"
                )
            from pandas_profiling_personal_spark.functions import stats as S

            seg_str = S.col(seg).cast("string")
            top_segs = [
                r["v"]
                for r in df.where(seg_str.isNotNull())
                .groupBy(seg_str.alias("v"))
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), F.asc("v"))
                .limit(cfg.segment_top_n)
                .collect()
            ]
            seg_df = df.where(seg_str.isin(top_segs)) if top_segs else df
            seg_num = [
                c for c, vt in types.items() if vt is VT.NUMERIC and c != seg
            ]
            # only bounded-cardinality categoricals: a near-unique string
            # column (free text, ids) has no meaningful per-segment top-K and
            # would melt the whole column for nothing
            seg_cat = [
                c
                for c, vt in types.items()
                if vt is VT.CATEGORICAL
                and c != seg
                and (variables[c].get("n_distinct") or 0)
                <= cfg.categorical_maximum_correlation_distinct
            ]
            segments = {"by": seg, "segments": top_segs}
            if top_segs and seg_num:
                segments["summary"] = [
                    r.asDict()
                    for r in SU.grouped_summary(seg_df, seg, seg_num)
                    .collect()
                ]
            if top_segs and seg_cat:
                segments["top_values"] = [
                    r.asDict()
                    for r in FQ.grouped_top_k(seg_df, seg, seg_cat, k=5)
                    .collect()
                ]
            _mark("segments")

        # time-series tier (``timeseries_ts_col=``) — tsmode the reference
        # never had and its successor only has pandas-side: ACF / calendar
        # seasonality / trend / coverage for every numeric column from ONE
        # grid aggregate (a single shuffle over the raw table; the bounded
        # grid collects to the driver for exact arithmetic)
        timeseries: dict[str, Any] = {}
        # skipped under redact, the segments rule: bucket means of
        # single-row buckets and anomaly values ARE data values
        if cfg.timeseries_ts_col and not cfg.redact:
            tsc = cfg.timeseries_ts_col
            if tsc not in types:
                raise ValueError(
                    f"timeseries_ts_col column {tsc!r} not found in "
                    "DataFrame"
                )
            if types[tsc] is not VT.DATETIME:
                raise ValueError(
                    f"timeseries_ts_col column {tsc!r} is "
                    f"{types[tsc].value}, not a timestamp/date column"
                )
            ts_num = [
                c for c, vt in types.items()
                if vt is VT.NUMERIC and c != tsc
            ][: cfg.timeseries_max_cols]
            if ts_num:
                from pandas_profiling_personal_spark.operators.timeseries import (  # noqa: E501
                    timeseries_profile,
                )

                timeseries = timeseries_profile(
                    df,
                    tsc,
                    ts_num,
                    lags=cfg.timeseries_lags,
                    granularity=cfg.timeseries_granularity,
                )
            # mark unconditionally: the stage is planned whenever the
            # ts col is set, so a no-numeric frame must still advance
            # the progress plan (ADVICE r12)
            _mark("timeseries")

        # target-relevance ranking (relevance_target= config; beyond the
        # reference): every other column's association with the declared
        # target via the batched kernels — skipped under redact (scores
        # are aggregates, but the section invites value-level follow-ups
        # and segments/ts make the same call)
        relevance: list[dict[str, Any]] = []
        if cfg.relevance_target and not cfg.redact:
            tgt = cfg.relevance_target
            if tgt not in types:
                raise ValueError(
                    f"relevance_target column {tgt!r} not in the profiled "
                    f"columns"
                )
            from pandas_profiling_personal_spark.operators.correlations import (  # noqa: E501
                target_relevance,
            )

            num_f = [c for c, vt in types.items()
                     if vt is VT.NUMERIC and c != tgt]
            cat_f = [
                c for c, vt in types.items()
                if vt in (VT.CATEGORICAL, VT.BOOLEAN) and c != tgt
            ]
            if num_f or cat_f:
                try:
                    relevance = target_relevance(
                        df, tgt, numeric_cols=num_f,
                        categorical_cols=cat_f,
                        max_categories=(
                            cfg.categorical_maximum_correlation_distinct
                        ),
                    )
                except ValueError as e:
                    # the id-like-target cardinality gate needs a scan, so
                    # it can only fire here — degrade to a recorded skip
                    # instead of losing the whole multi-pass profile
                    # (ADVICE r12)
                    relevance = [{
                        "feature": tgt, "method": "skipped",
                        "score": None, "reason": str(e),
                    }]
            _mark("target_relevance")

        # relationship mining (``discover_fds=True``, beyond the
        # reference): single-column FDs via the HLL prune + screen +
        # exact-melt tiers (operators/checks.py:discover_fds). Rows carry
        # column names and group counts only — no data values — so the
        # section is redact-safe. The cardinality gate reuses the
        # profile's correlation-distinct ceiling.
        relationships: list[dict[str, Any]] = []
        if cfg.discover_fds:
            from pandas_profiling_personal_spark.operators.checks import (
                discover_fds,
            )

            fd_cols = [
                c for c, vt in types.items()
                if vt in (VT.NUMERIC, VT.CATEGORICAL, VT.BOOLEAN,
                          VT.DATETIME)
            ]
            if len(fd_cols) >= 2:
                # the rider's precomputed cardinalities (pass-1 pair-struct
                # HLLs + per-column distincts + exact null flags) replace
                # both of discover_fds' screen scans; any missing piece
                # falls back to the operator's own scans
                pre = None
                if fd_rider_pairs:
                    nd_map: dict[str, int] = {}
                    complete = True
                    for c in fd_cols:
                        ndv = variables[c].get("n_distinct")
                        if ndv is None:
                            complete = False
                            break
                        nd_map[c] = int(ndv)
                    if complete:
                        pre = {
                            "nd": nd_map,
                            "has_null": {
                                c: bool(variables[c].get("n_missing"))
                                for c in fd_cols
                            },
                            "pair_nd": {
                                p: int(extras[f"fdpair_{k}"])
                                for k, p in enumerate(fd_rider_pairs)
                                if extras.get(f"fdpair_{k}") is not None
                            },
                        }
                try:
                    relationships = [
                        r.asDict()
                        for r in discover_fds(
                            df, columns=fd_cols,
                            max_determinant_distinct=(
                                cfg.categorical_maximum_correlation_distinct
                            ),
                            precomputed=pre,
                        ).collect()
                    ]
                except ValueError:
                    relationships = []  # nothing survives the prune
            _mark("fd_discovery")

        # key-candidate mining (``discover_keys=True``, beyond the
        # reference): unique column combinations via the HLL screen +
        # TANE lattice + one shared uniqueness melt (operators/checks.py:
        # discover_keys). Rows carry column names and counts only —
        # redact-safe like the FD section.
        key_candidates: list[dict[str, Any]] = []
        if cfg.discover_keys:
            from pandas_profiling_personal_spark.operators.checks import (
                discover_keys,
            )

            kd_cols = [
                c for c, vt in types.items() if vt is not VT.BINARY
            ]
            if kd_cols:
                try:
                    key_candidates = [
                        r.asDict()
                        for r in discover_keys(
                            df, columns=kd_cols
                        ).collect()
                    ]
                except ValueError as exc:
                    if "max_candidates" in str(exc):
                        # the loud lattice refusal must not be silently
                        # swallowed (ADVICE r13): fall back to unary keys
                        # (already-verified results kept) and surface the
                        # level-2 skip reason in the report
                        key_candidates = [
                            r.asDict()
                            for r in discover_keys(
                                df, columns=kd_cols, max_arity=1
                            ).collect()
                        ]
                        # full row shape (ADVICE r14): the sentinel renders
                        # in the same HTML table as real candidates, so it
                        # must carry every column those rows carry
                        key_candidates.append(
                            {
                                "key": None,
                                "arity": 2,
                                "uniqueness_ratio": None,
                                "is_key": None,
                                "null_free": None,
                                "exact": False,
                                "skipped": str(exc),
                            }
                        )
                    else:
                        key_candidates = []  # nothing to score
            _mark("key_discovery")

        dataset_meta = {
            k: v
            for k, v in {
                "description": cfg.dataset_description,
                "creator": cfg.dataset_creator,
                "author": cfg.dataset_author,
                "copyright_holder": cfg.dataset_copyright_holder,
                "copyright_year": cfg.dataset_copyright_year,
                "url": cfg.dataset_url,
            }.items()
            if v
        }
        var_desc = {
            c: t for c, t in (cfg.variable_descriptions or ()) if t
        }
        unknown_desc = sorted(set(var_desc) - set(variables))
        metadata: dict[str, Any] = {"title": cfg.title}
        if dataset_meta:
            metadata["dataset"] = dataset_meta
        if var_desc:
            metadata["variable_descriptions"] = var_desc
            metadata["show_variable_description"] = (
                cfg.show_variable_description
            )
        if unknown_desc:
            # surfaced, not fatal: a stale description map shouldn't kill a
            # multi-hour profile, but it shouldn't vanish either
            metadata["unknown_variable_descriptions"] = unknown_desc
        style = {
            k: v
            for k, v in {
                "theme": cfg.html_theme,
                "primary_color": cfg.html_primary_color,
                "logo": cfg.html_logo,
            }.items()
            if v
        }
        if not cfg.html_navbar:
            style["navbar"] = False
        if cfg.html_full_width:
            style["full_width"] = True
        if style:
            metadata["style"] = style

        result = ProfileResult(
            table=table,
            variables=variables,
            metadata=metadata,
            relevance=relevance,
            relationships=relationships,
            key_candidates=key_candidates,
            correlations=correlations,
            missing=missing,
            sample=sample,
            duplicates=duplicates,
            scatter=scatter,
            segments=segments,
            timeseries=timeseries,
            analysis={
                "duration_sec": round(time.time() - t0, 3),
                "exact": cfg.exact,
                "pass_durations_sec": _passes,
            },
            package={
                "engine": "pandas_profiling_personal_spark",
                "version": "0.1.0",
            },
        )
        result.alerts = compute_alerts(result, cfg)
        if cfg.layout_advice:
            from pandas_profiling_personal_spark.operators.layout import (
                suggest_layout_from_profile,
            )

            # keys absent from the profiled columns are dropped, not fatal
            # (the profile may be column-scoped); zero Spark jobs
            jk = [k for k in cfg.layout_join_keys if k in variables]
            result.layout = suggest_layout_from_profile(
                result, join_keys=jk or None
            )
        return result
    finally:
        if persisted:
            df.unpersist()
        try:
            df.sparkSession.sparkContext.setJobDescription(None)
        except Exception:
            pass


def profile_column(
    df: DataFrame, column: str, config: ProfileConfig | None = None
) -> dict[str, Any]:
    """Single-column describe — the modular seam the reference exposes as
    ``describe_1d`` (reference: summary.py:47-121, SURVEY.md §3.2). Runs the
    constant-pass pipeline restricted to one column and returns its stats dict."""
    result = profile(df, config, columns=[column])
    return result.variables[column]


def _matrix_dict(m: dict) -> dict[str, dict[str, float | None]]:
    out: dict[str, dict[str, float | None]] = {}
    for (a, b), v in m.items():
        out.setdefault(a, {})[b] = v
        out.setdefault(b, {})[a] = v
    return out


def _json_default(o):
    if isinstance(o, (_dt.datetime, _dt.date)):
        return o.isoformat()
    if isinstance(o, _dt.timedelta):
        return o.total_seconds()
    if isinstance(o, bytes):
        return o.hex()
    if hasattr(o, "value") and isinstance(o, VT):
        return o.value
    try:
        import numpy as np

        if isinstance(o, np.generic):
            return o.item()
    except ImportError:  # pragma: no cover
        pass
    return str(o)
