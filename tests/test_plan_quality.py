"""Physical-plan quality gates — the properties that make the engine scale.

These assert what .explain shows, so a regression that silently de-optimizes a
plan (extra scans, lost pushdown, Python in the hot path, lost map-side
combine) fails CI rather than a 100 TB run."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from pandas_profiling_personal_spark.functions import stats as S
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_scalar_agg_is_one_scan_partial_final(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    agg = df.agg(
        S.mean(F.col("l_quantity")).alias("m"),
        S.n_zeros(F.col("l_quantity")).alias("z"),
        S.stddev(F.col("l_extendedprice")).alias("s"),
    )
    p = _plan(agg)
    # formatted explain prints each node twice (tree + details)
    assert p.count("Scan parquet") == 2, "scalar summary must be a single scan"
    assert "partial_avg" in p, "map-side partial aggregation must be present"
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double>" in p, (
        "column pruning must reach the parquet scan"
    )


def test_numeric_summary_prunes_to_numeric_columns(spark):
    df = E.queries()["numeric_summary_lineitem"](spark, SF_DIR)
    p = _plan(df)
    # two scan branches by design: declarative aggregates and typed-imperative
    # percentiles run as separate (optimally compiled) aggregations joined on
    # their 1-row results
    assert p.count("Scan parquet") == 4
    for line in (l for l in p.splitlines() if "ReadSchema" in l):
        assert "l_returnflag" not in line and "l_shipdate" not in line


def test_value_counts_pushes_notnull_filter(spark):
    df = E.queries()["value_counts_returnflag"](spark, SF_DIR)
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(l_returnflag)]" in p
    assert "ReadSchema: struct<l_returnflag:string>" in p


def test_cosine_topk_broadcasts_queries(spark):
    df = E.queries()["cosine_topk_embeddings"](spark, SF_DIR)
    p = _plan(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "Python" not in p, "similarity search must stay JVM-side"


def test_no_python_in_dedup_plans(spark):
    for name in (
        "minhash_lsh_dedup_documents",
        "simhash_documents",
        "text_profile_documents",
    ):
        p = _plan(E.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{name} must not drop into Python"
        )


def test_lsh_candidate_dedup_shuffles_ids_only(spark):
    """The candidate .distinct() in the LSH ANN / embedding near-dup paths must
    not carry vector payloads through the exchange (n_tables copies of every
    embedding, ~6 KB/row at 768-d) — distinct on id pairs, re-join vectors."""
    from pandas_profiling_personal_spark.operators.similarity import (
        ann_topk_lsh,
        embedding_near_duplicates,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    q = emb.where(F.col("vec_id") < 2)
    for df in (
        ann_topk_lsh(emb, q, dim=dim, k=3),
        embedding_near_duplicates(emb, dim=dim, threshold=0.9),
    ):
        p = _plan(df)
        # distinct compiles to HashAggregate grouping keys == distinct columns;
        # vector columns in the Keys list mean the payload rode the shuffle
        for line in (l for l in p.splitlines() if "Keys" in l):
            assert "__v" not in line and "__cv" not in line and "__qv" not in line, (
                f"vector payload in distinct keys: {line}"
            )


def test_histogram_single_scan_all_columns(spark):
    from pandas_profiling_personal_spark.operators.histogram import histogram_all
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    df = read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    specs = {
        "l_quantity": (10, 1.0, 50.0),
        "l_extendedprice": (10, 900.0, 100000.0),
        "l_discount": (10, 0.0, 0.1),
    }
    # histogram_all collects; rebuild its internal pairs plan to inspect
    from pyspark.sql import functions as F

    structs = []
    for name, (bins, lo, hi) in specs.items():
        c = S.col(name)
        structs.append(
            F.struct(
                F.lit(name).alias("column"),
                F.when(
                    c.isNotNull(),
                    S.bucket_index(c.cast("double"), F.lit(lo), F.lit(hi), bins),
                ).alias("bucket"),
            )
        )
    pairs = (
        df.select(F.explode(F.array(*structs)).alias("kv"))
        .select("kv.column", "kv.bucket")
        .groupBy("column", "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    p = _plan(pairs)
    assert p.count("Scan parquet") == 2, "all histograms must share one scan"
    assert "partial_count" in p, "histogram agg must map-side combine"


def test_moment_pass_matches_spark_estimators(spark):
    """Pass 1c reconstructs std/variance/skew/kurt from mean-shifted power
    sums (Spark's CentralMomentAgg is ~quadratic in aggregate count on wide
    tables). The reconstruction must agree with Spark's own estimators to
    ~1e-9 — including a column with a huge mean offset, where unshifted
    power sums would catastrophically cancel."""
    import math
    import random

    from pandas_profiling_personal_spark.operators.summary import scalar_summary

    rng = random.Random(5)
    rows = [
        (
            rng.gauss(0, 1),
            1e9 + rng.gauss(0, 3),  # mean >> std: the cancellation trap
            7.5,  # constant
            rng.expovariate(0.2),
        )
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "a double, big double, const double, e double")
    out = scalar_summary(df)
    ref = df.agg(
        *[
            e
            for c in ("a", "big", "e")
            for e in (
                F.stddev(c).alias(f"{c}_std"),
                F.variance(c).alias(f"{c}_var"),
                F.skewness(c).alias(f"{c}_g1"),
                F.kurtosis(c).alias(f"{c}_g2"),
            )
        ]
    ).collect()[0]
    n = 3000.0
    for c in ("a", "big", "e"):
        assert out[c]["std"] == pytest.approx(ref[f"{c}_std"], rel=1e-9)
        assert out[c]["variance"] == pytest.approx(ref[f"{c}_var"], rel=1e-9)
        # scalar_summary reports bias-corrected skew/kurt; apply the same
        # correction to Spark's population estimators
        skew_ref = ref[f"{c}_g1"] * math.sqrt(n * (n - 1)) / (n - 2)
        kurt_ref = (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * ref[f"{c}_g2"] + 6)
        # both sides carry their own fp accumulation error; 1e-5 relative is
        # ~10 orders tighter than report rounding
        assert out[c]["skewness"] == pytest.approx(skew_ref, rel=1e-5, abs=1e-6)
        assert out[c]["kurtosis"] == pytest.approx(kurt_ref, rel=1e-5, abs=1e-6)
    # zero-variance column: 0/0 -> NaN, exactly as F.skewness reports
    assert out["const"]["variance"] == 0.0
    assert math.isnan(out["const"]["skewness"])
    # single-row frame: sample estimators undefined -> NaN (Spark semantics);
    # all-null column -> None
    one = spark.createDataFrame([(2.0, None)], "x double, y double")
    o1 = scalar_summary(one)
    assert math.isnan(o1["x"]["std"]) and math.isnan(o1["x"]["variance"])
    assert o1["y"]["std"] is None and o1["y"]["variance"] is None


def test_wide_profile_constant_job_count(spark):
    """VERDICT r2 #4 (bound adjusted r15 per VERDICT r14 #3): growing the
    column count must NOT grow the number of Spark jobs — the pass
    structure is one wide agg per pass, not per-column actions (the
    reference's job-storm disease). r15 splits very wide pass-1 aggregates
    into a FIXED number of concurrent batches (_WIDE_AGG_BATCHES), so the
    job count steps up once at the threshold and is O(1) in width above
    it — compared here at 96 vs 192 columns, both fully batched (pass-1a
    and the moment pass each cross _WIDE_AGG_FIELD_CAP at both widths)."""
    import random
    import time

    from pandas_profiling_personal_spark import ProfileConfig, profile
    from pandas_profiling_personal_spark.operators import summary as SU

    rng = random.Random(9)

    def frame(n_cols):
        rows = [
            tuple(rng.uniform(0, 100 + i) for i in range(n_cols))
            for _ in range(500)
        ]
        return spark.createDataFrame(
            rows, ", ".join(f"n{i} double" for i in range(n_cols))
        )

    cfg = ProfileConfig(correlations=(), duplicates=False, missing_diagrams=False)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def fence(group):
        # one tiny job in its own group; the status store is fed by a FIFO
        # listener bus, so once it lists this job it lists every job
        # submitted before it. Returns the fence job's id.
        sc.setJobGroup(group, "status-store fence")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setJobGroup(None, None)
        deadline = time.monotonic() + 60
        while not (ids := tracker.getJobIdsForGroup(group)):
            assert time.monotonic() < deadline, f"{group} never listed"
            time.sleep(0.05)
        return ids[0]

    jobs = {}
    for n_cols in (96, 192):
        lo = fence(f"wide-{n_cols}-before")
        sc.setJobGroup(f"wide-{n_cols}", "wide profile job growth")
        try:
            r = profile(frame(n_cols), cfg)
        finally:
            sc.setJobGroup(None, None)
        hi = fence(f"wide-{n_cols}-after")
        assert len(r.variables) == n_cols
        jobs[n_cols] = len(tracker.getJobIdsForGroup(f"wide-{n_cols}"))
        # every job of the profile, the pass-1 batch jobs run from a
        # thread pool included, lands in the caller's job group — else
        # the count below cannot see them and cancelJobGroup misses them
        escaped = [j for j in tracker.getJobIdsForGroup() if lo < j < hi]
        assert not escaped, f"jobs outside the caller's group: {escaped}"
    assert jobs[192] >= SU._WIDE_AGG_BATCHES, jobs
    # identical pass structure; allow +2 for AQE sub-job variance
    assert jobs[192] <= jobs[96] + 2, f"job growth with width: {jobs}"


def test_get_session_sets_codegen_cap_on_existing_session(spark):
    """get_session on a JVM that already has a plain session must still
    leave spark.sql.codegen.maxFields=320 — the cap the pass-1 batch size
    (_WIDE_AGG_FIELD_CAP) is sized to; a builder may return the existing
    session without applying its options."""
    from pandas_profiling_personal_spark.session import get_session

    keys = (
        "spark.sql.codegen.maxFields",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.ansi.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.codegen.maxFields", "100")
    try:
        s = get_session()
        assert s is spark
        assert s.conf.get("spark.sql.codegen.maxFields") == "320"
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_freq_near_unique_gate(spark):
    """Explicit-ratio 100 TB lever: near-unique columns skip the exact pass-2
    frequency work (their table would be all count-1 rows); low-cardinality
    columns keep exact stats; the auto default leaves sub-min-count tables
    fully profiled (see test_freq_near_unique_gate_auto_default)."""
    from pandas_profiling_personal_spark import ProfileConfig, profile

    rows = [(float(i), "c%d" % (i % 3)) for i in range(500)]
    df = spark.createDataFrame(rows, "uid double, cat string")

    r = profile(
        df,
        ProfileConfig(
            freq_near_unique_ratio=0.9, correlations=(), duplicates=False
        ),
    )
    uid, cat = r.variables["uid"], r.variables["cat"]
    assert uid.get("freq_skipped_near_unique") is True
    assert uid["n_distinct"] >= 450  # pass-1 estimate retained
    assert "top_values" not in uid and "extreme_obs" not in uid
    assert cat["n_distinct"] == 3 and cat["n_unique"] == 0  # exact, ungated
    assert len(cat["top_values"]) == 3

    # default: no gating — uid keeps exact frequency stats
    r2 = profile(df, ProfileConfig(correlations=(), duplicates=False))
    assert r2.variables["uid"]["n_unique"] == 500
    assert "freq_skipped_near_unique" not in r2.variables["uid"]

    # all columns gated: profile still completes
    r3 = profile(
        df.select("uid"),
        ProfileConfig(
            freq_near_unique_ratio=0.0, correlations=(), duplicates=False
        ),
    )
    assert r3.variables["uid"].get("freq_skipped_near_unique") is True


def test_freq_near_unique_gate_auto_default(spark):
    """VERDICT r3 #2: the gate is DEFAULT-ON ("auto") in the approx tier for
    columns clearing freq_gate_min_count; exact/oracle mode and small tables
    are never gated by default."""
    from pandas_profiling_personal_spark import ProfileConfig, profile

    n = 12_000  # > freq_gate_min_count
    df = spark.range(n).selectExpr(
        "cast(id as double) as uid", "concat('c', id % 3) as cat"
    )

    # default config (exact=False, ratio="auto"): near-unique uid gated,
    # low-cardinality cat keeps exact stats
    r = profile(df, ProfileConfig(correlations=(), duplicates=False))
    assert r.variables["uid"].get("freq_skipped_near_unique") is True
    assert "top_values" not in r.variables["uid"]
    assert r.variables["cat"]["n_distinct"] == 3
    assert len(r.variables["cat"]["top_values"]) == 3

    # exact/oracle mode: auto never gates — hash-matched results unchanged
    r2 = profile(
        df, ProfileConfig(exact=True, correlations=(), duplicates=False)
    )
    assert "freq_skipped_near_unique" not in r2.variables["uid"]
    assert r2.variables["uid"]["n_unique"] == n

    # explicit None disables everywhere
    r3 = profile(
        df,
        ProfileConfig(
            freq_near_unique_ratio=None, correlations=(), duplicates=False
        ),
    )
    assert "freq_skipped_near_unique" not in r3.variables["uid"]


def test_lsh_plan_constant_in_dim(spark):
    """VERDICT r2 #3: the hyperplane matrix must ship as one nested-array
    Literal, not dim x planes x tables literal nodes. At 768-d x 12 planes x
    4 tables the literal form is ~37k expression nodes and plan build alone
    takes minutes; the folded form must build AND execute in seconds."""
    import time

    from pandas_profiling_personal_spark.operators.similarity import ann_topk_lsh

    dim = 768
    rows = [
        (i, [float(((i * 31 + j * 17) % 19) - 9) for j in range(dim)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.where(F.col("vec_id") < 2)
    t0 = time.time()
    out = ann_topk_lsh(emb, q, dim=dim, k=3, n_planes=12, n_tables=4)
    plan = _plan(out)
    out.collect()
    elapsed = time.time() - t0
    assert elapsed < 30, f"768-d LSH plan+run took {elapsed:.1f}s"
    # one aggregate fold per table, not one when-branch per plane component
    assert plan.count("aggregate(") <= 64


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed_table is the shuffle-amortization path: two tables
    bucketed on the same key with the same bucket count must SortMergeJoin
    with ZERO exchange on either side — that is the entire point of paying
    the bucketed write once at 100 TB."""
    from pandas_profiling_personal_spark.sources import writers as W
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    left, right = "t_bkt_docs_a", "t_bkt_docs_b"
    spark.sql(f"DROP TABLE IF EXISTS {left}")
    spark.sql(f"DROP TABLE IF EXISTS {right}")
    try:
        W.write_bucketed_table(
            docs.select("doc_id", "text"), left,
            bucket_by=["doc_id"], n_buckets=4, sort_by=["doc_id"],
        )
        W.write_bucketed_table(
            docs.select("doc_id", "lang"), right,
            bucket_by=["doc_id"], n_buckets=4, sort_by=["doc_id"],
        )
        a, b = spark.table(left), spark.table(right)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "doc_id")
            plan = _plan(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() == docs.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {left}")
        spark.sql(f"DROP TABLE IF EXISTS {right}")


def test_incremental_dedup_bucketed_store_no_store_exchange(spark):
    """The daily-dedup 100 TB shape: persist the fingerprint store as a
    table BUCKETED on fingerprint (write_bucketed_table) and the store
    side of incremental_exact_dedup's join reads co-located buckets with
    NO exchange — only the (small) daily shard shuffles. The store is the
    side that grows with history, so this is the term that matters."""
    from pandas_profiling_personal_spark.operators.dedup import (
        dedup_store_update,
        incremental_exact_dedup,
    )
    from pandas_profiling_personal_spark.sources import writers as W
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    tbl = "t_fp_store_bkt"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        store = dedup_store_update(
            None, incremental_exact_dedup(docs.where("doc_id % 2 = 0"), None)
        )
        W.write_bucketed_table(
            store, tbl, bucket_by=["fingerprint"], n_buckets=4,
            sort_by=["fingerprint"],
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = incremental_exact_dedup(
                docs.where("doc_id % 2 = 1"), spark.table(tbl)
            )
            out.collect()
            plan = _plan(out)
            final = plan.split("Initial Plan")[0]
            # exactly ONE exchange family in the executed join: the shard
            # side (fingerprint window + join reuse one exchange); the
            # bucketed store scan must contribute none
            import re

            n_ex = len(
                re.findall(r"Exchange hashpartitioning\(fingerprint", final)
            )
            assert n_ex <= 1, (n_ex, final)
            # and the store scan really is the bucketed table
            assert tbl in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_scalar_summary_sql_matches_column_builders(spark):
    """Pass 1 is built as ONE SQL string (Py4J chatter on a 100-column
    profile measured 4.2 s of pure driver time); this pins the SQL fragments
    to the canonical Column builders in functions/stats.py on a frame with
    quoting hazards (dots, spaces, backticks), NaN/inf floats, nulls, empty
    strings, booleans and timestamps."""
    import datetime as dt
    import math

    from pandas_profiling_personal_spark.operators.summary import scalar_summary
    from pandas_profiling_personal_spark.config import ProfileConfig

    rows = [
        (1.5, float("nan"), "a", True, dt.datetime(2021, 1, 1, 12), 0),
        (-2.0, float("inf"), "", False, dt.datetime(2022, 6, 1), 3),
        (0.0, 2.25, "bbb", None, None, None),
        (None, float("-inf"), None, True, dt.datetime(2021, 1, 1, 12), 0),
    ]
    df = spark.createDataFrame(
        rows,
        "`dotted.name` double, `with space` double, `tick``y` string, "
        "flag boolean, ts timestamp, n int",
    )
    out = scalar_summary(df, ProfileConfig(exact=True))
    d = out["dotted.name"]
    assert d["count"] == 3 and d["n_zeros"] == 1 and d["n_negative"] == 1
    assert d["q_0_5"] == 0.0 and abs(d["mean"] - (-1.0 / 6.0)) < 1e-12
    w = out["with space"]
    assert w["n_infinite"] == 2 and w["n_nan"] == 1
    t = out["tick`y"]
    assert t["n_empty"] == 1 and t["max_length"] == 3 and t["n_distinct"] == 3
    assert out["flag"]["n_true"] == 2
    assert out["ts"]["min_epoch"] == dt.datetime(
        2021, 1, 1, 12, tzinfo=dt.timezone.utc
    ).timestamp()
    nn = out["n"]
    assert nn["std"] == math.sqrt(3.0) and nn["sum"] == 3

    # SQL extras fold into the same pass; Column extras (legacy) still work
    from pyspark.sql import functions as F

    _, extras = scalar_summary(
        df,
        ProfileConfig(exact=False),
        extra_exprs={
            "sqlx": "sum(CASE WHEN `dotted.name` > 0 THEN 1 ELSE 0 END)",
            "colx": F.max(F.col("n")),
        },
    )
    assert extras["sqlx"] == 1 and extras["colx"] == 3


def test_contamination_broadcasts_benchmark(spark):
    """contamination_keep_list: the benchmark shingle set must broadcast —
    the 100 TB corpus side joins an eval-sized in-memory set with no corpus
    shuffle; the only exchange is the bounded (doc_id, count) rollup."""
    from pandas_profiling_personal_spark.operators.dedup import (
        contamination_keep_list,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 11 == 0)
    out = contamination_keep_list(docs, bench)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan

    # a benchmark member is trivially contaminated; most others survive
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["keep"] is False and rows[0]["n_matched"] > 0
    kept = sum(1 for r in rows.values() if r["keep"])
    assert 0 < kept < len(rows)


def test_scalar_summary_hits_cache(spark):
    """The SQL-fragment build of pass 1 must keep the DataFrame lineage so a
    persisted input actually caches: spark.sql("... FROM {df}") substitution
    produced a plan the CacheManager did not match — the cache never
    materialized and EVERY pass of the profile recomputed the input from
    source (measured +3.2 s flat on each later action of a wide profile)."""
    from pyspark import StorageLevel

    from pandas_profiling_personal_spark.operators.summary import scalar_summary

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        scalar_summary(df)  # pass 1 must both USE and MATERIALIZE the cache
        frag_plan = df.selectExpr("count(1) AS n")
        assert "InMemoryTableScan" in _plan(frag_plan), (
            "selectExpr lost the cached lineage"
        )
        jdf = df._jdf
        assert jdf.queryExecution().optimizedPlan().toString().startswith(
            "InMemoryRelation"
        )
        # the cache is materialized (storage holds blocks), not just planned
        sc = spark.sparkContext
        rdd_infos = sc._jsc.sc().getRDDStorageInfo()
        assert any(i.numCachedPartitions() > 0 for i in rdd_infos), (
            "persisted input never materialized — passes recompute from source"
        )
    finally:
        df.unpersist()


def test_categorical_drift_single_count_exchange(spark):
    """drift_profile_categorical: both snapshots reduce through ONE shared
    (column, value) count exchange (side-conditional counts over the union
    melt) — everything after runs on the bounded distinct-value aggregate.
    Gate: exactly one exchange whose hash partitioning keys include the
    melted value column; no Python UDFs anywhere in the plan."""
    from pandas_profiling_personal_spark.operators.drift import (
        drift_profile_categorical,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    out = drift_profile_categorical(
        docs, docs.where(F.col("lang") != "de"), ["lang", "source"], top_n=8
    )
    plan = _plan(out)
    # no Python EXECUTION nodes (the all-null-columns literal frame shows up
    # as a driver-built ExistingRDD — that's createDataFrame, not a UDF)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
    # the raw-data exchange is the one keyed by (column, value); later
    # exchanges key on `column` alone (rank window, final agg) over the
    # bounded aggregate. Formatted mode puts the partitioning on an
    # `Arguments: hashpartitioning(...)` line of its own.
    import re

    data_exchanges = [
        m
        for m in re.findall(r"hashpartitioning\([^)]*\)", plan)
        if "value#" in m
    ]
    assert len(data_exchanges) == 1, (len(data_exchanges), plan)


def test_semantic_dedup_assignment_computed_once(spark):
    """semantic_dedup: the cell assignment (a full corpus scan + the
    centroid crossJoin fold) must execute ONCE — its explicit cell_id
    repartition is the shared exchange the pair self-join reads twice via
    ReuseExchange and the keep join reshuffles from. Without it the
    assignment ran three times (measured)."""
    from pandas_profiling_personal_spark.operators.similarity import (
        semantic_dedup,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    out = semantic_dedup(emb, "vec_id", "embedding", n_cells=8, threshold=0.3)
    out.collect()  # AQE resolves exchange reuse at runtime
    plan = _plan(out)
    assert "ReusedExchange" in plan, plan

    # the hot-cell sub-split (max_cell_size) must ride the SAME cell_id
    # exchange: window partitioned by cell_id + a join clustering on a
    # superset of the partition key add a sort, never a new shuffle
    capped = semantic_dedup(
        emb, "vec_id", "embedding", n_cells=8, threshold=0.3,
        max_cell_size=20,
    )
    capped.collect()
    cplan = _plan(capped)
    assert "ReusedExchange" in cplan, cplan
    import re

    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    n_ex_capped = len(re.findall(r"Exchange hashpartitioning", cplan))
    assert n_ex_capped <= n_ex, (n_ex, n_ex_capped, cplan)


def test_image_near_dup_decodes_once(spark):
    """image_near_duplicates: the Arrow-batched decode pass (the expensive
    part for real images) must execute ONCE — the explicit id repartition
    under the signature table is the exchange both self-join sides read
    via ReusedExchange. Without it mapInPandas (which has no exchange
    boundary of its own) re-ran per side (review r7; found by reading the
    executed plan, fixed the same day)."""
    from pyspark.sql import functions as F

    from pandas_profiling_personal_spark.operators.multimodal import (
        image_near_duplicates,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = (
        read_parquet(spark, f"{SF_DIR}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.col("text").cast("binary").alias("blob"))
    )
    out = image_near_duplicates(
        docs, "blob", "doc_id", decoder="fake",
        max_hamming=8, band_bits=6, bits=60, key_blocks=2,
    )
    out.collect()  # AQE resolves exchange reuse at runtime
    final = _plan(out).split("Initial Plan")[0]
    assert final.count("MapInPandas") == 1, final
    assert "ReusedExchange" in final, final


def test_pack_sequences_bounded_windows(spark):
    """pack_sequences: the prefix sum must never run a single-partition
    window over the CORPUS — the only global (unpartitioned) window sits
    over the bounded bucket-total rollup, and the per-row cumsum is
    partitioned by the id bucket."""
    from pandas_profiling_personal_spark.operators.text import pack_sequences
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    out = pack_sequences(
        docs, "doc_id", "n_chars", context_len=500, bucket_size=100
    )
    plan = _plan(out)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, plan
    # the per-doc cumsum window is PARTITIONED by the bucket column (spec
    # lists __b as a partition key followed by the doc_id ordering); the
    # only unpartitioned spec (leading 'ASC' right after __b = pure
    # ordering) runs over the bounded bucket-total rollup
    partitioned = [s for s in specs if re.match(r"__b#\d+L, ", s)]
    unpartitioned = [s for s in specs if re.match(r"__b#\d+L ASC", s)]
    assert partitioned and unpartitioned, specs
    assert len(partitioned) + len(unpartitioned) == len(specs), specs
    # structural spot-check: a broadcast carries the bucket offsets back
    assert "BroadcastExchange" in plan, plan


def test_audio_near_dup_decodes_once(spark):
    """audio_near_duplicates: the Arrow-batched signature decode (full PCM
    sample pass on the WAV tier) must execute ONCE — same explicit id
    exchange + ReusedExchange contract as image_near_duplicates, gated on
    the AUTO-geometry default path the bare call takes."""
    from pyspark.sql import functions as F

    from pandas_profiling_personal_spark.operators.multimodal import (
        audio_near_duplicates,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = (
        read_parquet(spark, f"{SF_DIR}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.col("text").cast("binary").alias("blob"))
    )
    out = audio_near_duplicates(docs, "blob", "doc_id", decoder="fake")
    out.collect()  # AQE resolves exchange reuse at runtime
    final = _plan(out).split("Initial Plan")[0]
    assert final.count("MapInPandas") == 1, final
    assert "ReusedExchange" in final, final


def test_incremental_pearson_adds_no_jobs(spark):
    """partial_profile(correlations=True): the pairwise co-moment sums must
    RIDE the existing moment-pass aggregate — turning correlations on adds
    ZERO Spark jobs (the alternative, a separate pair pass, would double
    the numeric scan cost of every shard)."""
    from pandas_profiling_personal_spark.plans.incremental import (
        partial_profile,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    li = read_parquet(spark, f"{SF_DIR}/lineitem.parquet").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    sc = spark.sparkContext
    jobs = {}
    for flag in (False, True):
        group = f"inc-pearson-{flag}"
        sc.setJobGroup(group, "incremental pearson job growth")
        try:
            part = partial_profile(li, correlations=flag)
        finally:
            sc.setJobGroup(None, None)
        assert (part.pairs is not None) == flag
        jobs[flag] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[True] == jobs[False], f"correlations=True grew jobs: {jobs}"


def test_video_near_dup_decodes_once(spark):
    """video_near_duplicates: the frame-sampling mapInPandas must execute
    ONCE — the explicit encoded-frame-id exchange is what both banded
    self-join sides reuse (same contract as the image/audio operators).
    Duplicates are planted so the result is non-empty: AQE collapses an
    empty aggregate to EmptyRelation, leaving no final plan to inspect
    (exchange reuse is a RUNTIME stage feature — the initial plan always
    shows two pipelines)."""
    from pyspark.sql import functions as F

    from pandas_profiling_personal_spark.operators.multimodal import (
        video_near_duplicates,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    base = (
        read_parquet(spark, f"{SF_DIR}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    planted = base.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    docs = base.unionAll(planted).select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    out = video_near_duplicates(docs, "blob", "doc_id", n_frames=4)
    assert out.count() > 0  # non-vacuous: the final plan materializes
    out.collect()
    final = _plan(out).split("Initial Plan")[0]
    assert final.count("MapInPandas") == 1, final
    assert "ReusedExchange" in final, final


def test_video_metadata_scan_speed_plan(spark):
    """video_metadata: ONE Arrow-batched mapInPandas over the scan, zero
    exchanges — the header-only metadata pass must run at scan speed like
    its image/audio siblings (the same seam policy: Python only at the
    codec boundary, nothing upstream forces a shuffle)."""
    from pyspark.sql import functions as F

    from pandas_profiling_personal_spark.operators.multimodal import (
        video_metadata,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    docs = (
        read_parquet(spark, f"{SF_DIR}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.col("text").cast("binary").alias("blob"))
    )
    out = video_metadata(docs, "blob", decoder="fake")
    p = _plan(out)
    # formatted explain lists each node twice (tree + detail section):
    # count in the tree block only
    tree = p.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1, p
    assert "Exchange" not in p, p


def test_group_pairs_melt_single_exchange_no_python(spark):
    """partial_profile(group_pairs=): the per-category [n, Σy, Σy²] cell
    pass is ONE melt whose exchange carries category cells (map-side
    combined), never data rows — exactly one extra job over the base
    profile, a single shuffle in its plan, and no Python evaluation."""
    from pyspark.sql import functions as F

    from pandas_profiling_personal_spark.functions import stats as S
    from pandas_profiling_personal_spark.plans.incremental import (
        partial_profile,
    )
    from pandas_profiling_personal_spark.sources.readers import read_parquet

    li = read_parquet(spark, f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    pairs = [("l_returnflag", "l_extendedprice"),
             ("l_linestatus", "l_extendedprice")]
    sc = spark.sparkContext
    jobs = {}
    for flag in (False, True):
        group = f"group-pairs-{flag}"
        sc.setJobGroup(group, "group-moment pass job growth")
        try:
            part = partial_profile(
                li, top_m=0, group_pairs=pairs if flag else None
            )
        finally:
            sc.setJobGroup(None, None)
        assert (part.group_pairs is not None) == flag
        jobs[flag] = len(sc.statusTracker().getJobIdsForGroup(group))
    # ONE collect over the melt; AQE materializes its shuffle map stage as
    # its own job, so the pass reads as <=2 job ids — the invariant that
    # matters (a per-pair loop would add 2 jobs PER PAIR) is that the count
    # is independent of len(pairs), pinned by the single-exchange plan gate
    assert jobs[True] - jobs[False] <= 2, (
        f"group_pairs added {jobs[True] - jobs[False]} jobs: {jobs}"
    )

    # the melt plan itself: one shuffle, no Python (mirror the operator's
    # construction — explode -> filter -> groupBy agg)
    structs = [
        F.struct(
            F.lit(k).alias("pid"),
            S.col(gc).cast("string").alias("g"),
            S.col(yc).cast("double").alias("y"),
        )
        for k, (gc, yc) in enumerate(pairs)
    ]
    cells = (
        li.select(F.explode(F.array(*structs)).alias("kv"))
        .select("kv.pid", "kv.g", "kv.y")
        .where(F.col("g").isNotNull() & F.col("y").isNotNull()
               & ~F.isnan(F.col("y")))
        .groupBy("pid", "g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"),
             F.sum(F.col("y") * F.col("y")).alias("ss"))
    )
    plan = _plan(cells)
    assert plan.count("Exchange hashpartitioning") <= 2  # tree + details
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_relevance_stream_single_aggregation_no_python(spark):
    """relevance_stream: the whole per-window ranking rides ONE
    aggregation (two-phase partial/final HashAggregate over the window
    key — no per-feature jobs, no second aggregation for eta^2 thanks to
    the declared-domain conditional sums) with no Python evaluation."""
    import datetime as dt

    from pandas_profiling_personal_spark.streaming.relevance_stream import (
        relevance_stream,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, i % 10), float(i), 2.0 * i,
          "ab"[i % 2]) for i in range(40)],
        "ts timestamp, y double, lin double, g string",
    )
    out = relevance_stream(
        df, "y", "ts", numeric_cols=["lin"],
        categorical_domains={"g": ["a", "b"]})
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one exchange on the window key (tree + details print it twice)
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_spearman_raw_default_is_scale_safe(spark, monkeypatch):
    """VERDICT r13 #7: a user calling spearman_matrix raw (no method=)
    must get the distributed 'ml' ranking path — never the oracle tier's
    single-partition Window.orderBy rank join."""
    from pandas_profiling_personal_spark.operators import correlations as C

    df = spark.range(100).select(
        F.col("id").cast("double").alias("a"),
        (F.col("id") * 2).cast("double").alias("b"),
    )
    routed = {}

    def _fake_ml(frame, cols, method):
        routed["method"] = method
        return {(cols[0], cols[1]): 1.0}

    monkeypatch.setattr(C, "_ml_corr", _fake_ml)
    out = C.spearman_matrix(df, ["a", "b"])
    assert routed.get("method") == "spearman", (
        "default spearman_matrix must route through the distributed "
        "ml.stat path"
    )
    assert out == {("a", "b"): 1.0}


def test_pass2_one_linear_exchange_chain(spark):
    """Pass 2 on a profile-shaped call (k=51, n_extreme=10, categorical
    frequency columns that are NOT extreme columns) must shuffle the
    frequency table ONCE with no exchange reuse to lean on: the final plan
    holds exactly one (column, value) exchange, at most three shuffle
    exchanges in all, and no Union. The r14 top/min/max union passed a
    looser "ReusedExchange somewhere" check while its branches' exchanges
    stopped matching (Catalyst pushed the extreme filter below the
    aggregate), so the table was counted and shuffled three times."""
    import re

    from pandas_profiling_personal_spark.operators import frequencies as FQ

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    num = ["l_quantity", "l_extendedprice"]
    ext = num + ["l_shipdate"]
    vc = FQ.value_counts_all(df, ext + ["l_returnflag", "l_linestatus"])
    q = FQ._topk_extremes_linear(vc, 51, 10, num, ext)
    q.collect()  # AQE settles the plan at runtime: read the FINAL plan
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "isFinalPlan=true" in plan, plan[:500]
    final = plan.split("== Initial Plan ==")[0]
    assert len(
        re.findall(r"Exchange hashpartitioning\(column#\d+, value#", final)
    ) == 1, final
    assert len(re.findall(r"(?<!Broadcast)Exchange \w", final)) <= 3, final
    assert "Union" not in final, final


def test_engine_joins_shj_hinted_user_joins_default(spark):
    """r15 (VERDICT r14 #6): the r14 session-global
    preferSortMergeJoin=false is replaced by SHUFFLE_HASH hints scoped to
    the engine's bounded-build-side joins. The engine's keep/store joins
    must still plan ShuffledHashJoin; an arbitrary user-frame equi-join
    must keep Spark's sort-merge default."""
    from pandas_profiling_personal_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(64)], "doc_id long, text string"
    )
    store = spark.createDataFrame(
        [("fp0", 1)], "fingerprint string, doc_id long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        flags = DD.incremental_exact_dedup(docs, store)
        assert "ShuffledHashJoin" in _plan(flags)
        # a plain user join on the same session stays sort-merge
        a = spark.range(1000).withColumnRenamed("id", "k")
        b = spark.range(1000).withColumnRenamed("id", "k")
        user = a.join(b, "k")
        p = _plan(user)
        assert "SortMergeJoin" in p and "ShuffledHashJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the session no longer flips the global preference
    assert (
        spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
        == "true"
    )
