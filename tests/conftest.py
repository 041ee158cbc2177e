import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pandas_profiling_personal_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# The CLI tests start one JVM per command (87 over the suite), each on
# a few dozen rows, so a command's time is mostly JVM start-up: loading
# Spark's classes, then JIT work that never pays back inside a short run.
# The CLI subprocesses therefore share one class-data archive (AppCDS),
# dumped once from a CLI run below, and stop at the C1 JIT tier. Both are
# transparent to the program: the same code runs, only class loading and
# compilation get cheaper (a cold `--minimal` CLI profile on a 4-core host:
# 21.9 s -> 12.4 s). The session fixture's own JVM is left as it is: its
# tests run long enough for C2 to pay back (C1-only made the oracle-parity
# and semantics files 430 s -> 521 s).
_DUMP_CLI = """
import sys
from pyspark import SparkContext
from pandas_profiling_personal_spark import cli
rc = cli.main(sys.argv[1:])
# the archive is written at JVM exit: close the gateway's stdin (the JVM
# exits on EOF) and wait, so the file is complete when this returns
proc = SparkContext._gateway.proc
proc.stdin.close()
sys.exit(rc or proc.wait(timeout=300))
"""


def _cli_jvm_env(tmp: Path) -> dict:
    """SPARK_* variables for CLI subprocesses; only the JIT flag when the
    archive cannot be built (CDS refuses a non-empty directory on the
    classpath, so Spark's conf dir must hold nothing but templates)."""
    import pandas as pd

    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    jit = {"SPARK_SUBMIT_OPTS": f"{opts} -XX:TieredStopAtLevel=1".strip()}
    conf = Path(os.environ.get("SPARK_CONF_DIR")
                or Path(os.environ.get("SPARK_HOME", "/nonexistent"), "conf"))
    if conf.is_dir() and any(
        not p.name.endswith(".template") for p in conf.iterdir()
    ):
        return jit
    empty_conf = tmp / "conf"
    empty_conf.mkdir()
    src = tmp / "warm.parquet"
    pd.DataFrame({
        "i": range(40),
        "x": [i / 7 if i % 5 else None for i in range(40)],
        "s": [f"v{i % 6}" for i in range(40)],
        "b": [i % 2 == 0 for i in range(40)],
        "t": pd.date_range("2024-01-01", periods=40, freq="h"),
    }).to_parquet(src)
    jsa = tmp / "cli.jsa"
    env = dict(os.environ, SPARK_CONF_DIR=str(empty_conf), **jit)
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _DUMP_CLI, str(src), str(tmp / "r.html"),
             "--master", "local[2]"],
            env=dict(env, SPARK_SUBMIT_OPTS=(
                f"{jit['SPARK_SUBMIT_OPTS']} -XX:ArchiveClassesAtExit={jsa}"
            )),
            capture_output=True, timeout=600,
            cwd=Path(__file__).resolve().parent.parent,
        )
    except subprocess.TimeoutExpired:
        return jit
    if proc.returncode != 0 or not jsa.is_file():
        return jit
    return {
        "SPARK_CONF_DIR": str(empty_conf),
        "SPARK_SUBMIT_OPTS":
            f"{jit['SPARK_SUBMIT_OPTS']} -XX:SharedArchiveFile={jsa}",
    }


@pytest.fixture(scope="session", autouse=True)
def _cli_jvm_startup(spark, tmp_path_factory):
    # depends on `spark` so the session JVM starts before the env changes
    tmp = tmp_path_factory.mktemp("cli_jvm")
    with pytest.MonkeyPatch.context() as mp:
        for k, v in _cli_jvm_env(tmp).items():
            mp.setenv(k, v)
        yield
    (tmp / "cli.jsa").unlink(missing_ok=True)


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"
