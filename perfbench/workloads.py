"""Seeded inputs and the workloads that run on them.

The input is a lineitem-shaped table generated from the seed (the TPC-H
lineitem columns the repository's test data has, with uniform values in the
same ranges, plus 1% missing values in two columns so that the missing-value
paths run). It is written to parquet and read back with
``spark.read.parquet``, so the package only ever sees the generated
DataFrame, through the same scan a user's table would take.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

#: rows of the generated table: sf0.01 lineitem
ROWS = 60_000
SHARDS = 2
HIST_BINS = 50
_DAY0 = np.datetime64("1995-01-02", "us")


def lineitem_table(seed: int, rows: int) -> pa.Table:
    rng = np.random.default_rng(seed)

    def with_nulls(values):
        return pa.array(values, mask=rng.random(rows) < 0.01)

    days = rng.integers(0, 2500, rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, max(rows // 4, 1), rows),
            "l_partkey": rng.integers(0, max(rows // 30, 1), rows),
            "l_suppkey": rng.integers(0, 100, rows),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, rows), 2),
            "l_discount": with_nulls(rng.integers(0, 11, rows) / 100),
            "l_tax": rng.integers(0, 9, rows) / 100,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), rows),
            "l_linestatus": with_nulls(rng.choice(np.array(["F", "O"]), rows)),
            "l_shipdate": pa.array(_DAY0 + days, pa.timestamp("us")),
        }
    )


class ProfileWorkload:
    """One run: ``profile()`` + ``render_html()`` + ``to_json()``."""

    def __init__(self, spark, parquet: str, seed: int, ref: dict):
        from pandas_profiling_personal_spark.config import ProfileConfig

        self.df = spark.read.parquet(parquet)
        self.config = ProfileConfig(exact=False, seed=seed)
        self.ref = ref

    def run(self):
        # module attributes are looked up per call, so traced wrappers apply
        from pandas_profiling_personal_spark.plans import profile as P
        from pandas_profiling_personal_spark.report import html as H

        result = P.profile(self.df, self.config)
        return result, H.render_html(result), result.to_json()

    def check(self, out) -> list[str]:
        return oracle.check_report(self.ref, *out)


class IncrementalWorkload:
    """One run: ``partial_profile`` of each shard (a seeded hash of
    ``l_orderkey``; the first shard fixes the histogram edges), then
    ``merge_partials`` and ``finalize_partial``."""

    def __init__(self, spark, parquet: str, seed: int, ref: dict):
        from pyspark.sql import functions as F

        self.spark = spark
        self.df = spark.read.parquet(parquet)
        self.shard = F.pmod(F.hash("l_orderkey", F.lit(seed)), F.lit(SHARDS))
        self.ref = ref

    def run(self):
        from pandas_profiling_personal_spark.plans import incremental as I

        parts, histograms = [], HIST_BINS
        for k in range(SHARDS):
            part = I.partial_profile(
                self.df.where(self.shard == k),
                histograms=histograms,
                correlations=True,
            )
            if k == 0:
                histograms = I.histogram_specs_of(part)
            parts.append(part)
        return I.finalize_partial(I.merge_partials(parts), self.spark)

    def check(self, final) -> list[str]:
        return oracle.check_finalized(self.ref, final)


WORKLOADS = {
    "lineitem_profile": ProfileWorkload,
    "lineitem_incremental": IncrementalWorkload,
}


def write_input(path: str, seed: int, rows: int = ROWS) -> None:
    pq.write_table(lineitem_table(seed, rows), path)
