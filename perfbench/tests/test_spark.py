"""End-to-end checks of the benchmark's pieces on a 6,000-row input (the
size of sf0.001 lineitem), with a session pinned the way run.py pins it."""

import copy
import dataclasses

import pytest

import oracle
import run
import tracing
import workloads

ROWS = 6_000
SEED = 7


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_environment(work)
    parquet = f"{work}/lineitem.parquet"
    workloads.write_input(parquet, SEED, ROWS)
    from pandas_profiling_personal_spark.session import get_session

    spark = get_session(app_name="perfbench-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, parquet, oracle.reference(parquet)
    run.stop_session(spark)


def test_reference_sees_the_generated_input(env):
    _, _, ref = env
    assert ref["n"] == ROWS
    assert set(ref["variables"]) == set(workloads.lineitem_table(SEED, 10).column_names)
    assert ref["variables"]["l_discount"]["n_missing"] > 0
    assert ref["variables"]["l_linestatus"]["n_missing"] > 0


def test_profile_passes_and_corruptions_fail(env):
    spark, parquet, ref = env
    wl = workloads.ProfileWorkload(spark, parquet, SEED, ref)
    result, html, js = wl.run()
    assert wl.check((result, html, js)) == []

    bad_mean = copy.deepcopy(result)
    bad_mean.variables["l_tax"]["mean"] *= 1.001
    bad_count = copy.deepcopy(result)
    bad_count.variables["l_discount"]["n_missing"] += 1
    bad_rows = dataclasses.replace(result, table={**result.table, "n": ROWS - 1})
    for bad in (bad_mean, bad_count, bad_rows):
        assert wl.check((bad, html, js))
    assert wl.check((result, html.replace("l_suppkey", "x"), js))
    assert wl.check((result, html, js[:-1]))


def test_incremental_passes_and_corruption_fails(env):
    spark, parquet, ref = env
    wl = workloads.IncrementalWorkload(spark, parquet, SEED, ref)
    final = wl.run()
    assert wl.check(final) == []
    bad = copy.deepcopy(final)
    bad["variables"]["l_shipdate"]["max"] = bad["variables"]["l_shipdate"]["min"]
    assert wl.check(bad)


def test_traced_incremental_nests_and_adds_up(env):
    spark, parquet, ref = env
    wl = workloads.IncrementalWorkload(spark, parquet, SEED, ref)
    m = run.Measurement(wl, tracing.StageLog(spark.sparkContext))
    tracer = tracing.Tracer()
    m.traced_run(tracer)
    assert m.sums_ok and m.failed == 0
    names = {s.name for s in tracer.spans}
    assert {"run", "partial_profile", "histogram_all", "top_k_counts"} <= names
    for s in tracer.spans:
        if s.name == "histogram_all":
            assert tracer.spans[s.parent].name == "partial_profile"
    table = m.traced[0]["table"]
    assert table["partial_profile"]["calls"] == workloads.SHARDS
    assert table["partial_profile"]["jobs"] > 0
    assert table["profile"]["calls"] == 0
    total = sum(row["self_s"] for row in table.values())
    assert total == pytest.approx(m.traced[0]["wall"], rel=1e-9)
    assert m.traced[0]["cpu"] > 0
