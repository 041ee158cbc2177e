#!/usr/bin/env python3
"""A/B the wide100 pass-1 main declarative aggregate shapes (VERDICT r14 #3).

Variants over the SAME persisted wide100 frame (sf0.1), interleaved
min-of-N:
  single     - one selectExpr action with all ~750 fragments (r14 shape)
  seq4       - 4 contiguous batches, sequential actions
  par4       - 4 contiguous batches, 4 driver threads (guide 2.6)
  par4_cg    - par4 with spark.sql.codegen.maxFields raised to 320
  par8       - 8 batches (~95 fields each, under default maxFields), 4 threads
Prints one JSON line with per-variant attempt lists and mins.
"""
from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, "/root/repo")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = int(os.environ.get("AB_N", "5"))

    from pandas_profiling_personal_spark.session import get_session

    spark = get_session(app_name="pass1_batch_ab")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark import StorageLevel

    from pandas_profiling_personal_spark.benchmarks import wide100_frame
    from pandas_profiling_personal_spark.config import ProfileConfig
    from pandas_profiling_personal_spark.functions.stats import sq
    from pandas_profiling_personal_spark.sources.readers import read_parquet
    from pandas_profiling_personal_spark.types import (
        VariableType as VT,
        variable_types,
    )

    df = wide100_frame(read_parquet(spark, f"{sf_dir}/lineitem.parquet"))
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()

    # rebuild pass-1a's declarative fragment list exactly as scalar_summary
    # does in the approx tier (HLLs split out, percentiles split out)
    types = variable_types(df)
    frags = ["count(1) AS __n"]
    for i, (name, vt) in enumerate(types.items()):
        q = sq(name)
        p = f"c{i}"
        frags.append(f"count({q}) AS {p}__count")
        if vt is VT.NUMERIC:
            frags += [
                f"avg({q}) AS {p}__mean",
                f"min({q}) AS {p}__min",
                f"max({q}) AS {p}__max",
                f"sum({q}) AS {p}__sum",
                f"coalesce(sum(CASE WHEN {q} = 0 THEN 1 ELSE 0 END), 0) AS {p}__n_zeros",
                f"coalesce(sum(CASE WHEN {q} < 0 THEN 1 ELSE 0 END), 0) AS {p}__n_negative",
            ]
        elif vt is VT.CATEGORICAL:
            frags.append(
                f"coalesce(sum(CASE WHEN {q} = '' THEN 1 ELSE 0 END), 0) AS {p}__n_empty"
            )
            frags += [
                f"min(length({q})) AS {p}__min_length",
                f"avg(length({q})) AS {p}__mean_length",
                f"max(length({q})) AS {p}__max_length",
            ]
    print(f"n_frags={len(frags)}", file=sys.stderr)

    def chunks(lst, k):
        size = (len(lst) + k - 1) // k
        return [lst[i:i + size] for i in range(0, len(lst), size)]

    def run_single():
        df.selectExpr(*frags).collect()

    def run_seq(k):
        for ch in chunks(frags, k):
            df.selectExpr(*ch).collect()

    def run_par(k, workers=4):
        with ThreadPoolExecutor(max_workers=workers) as ex:
            list(ex.map(lambda ch: df.selectExpr(*ch).collect(),
                        chunks(frags, k)))

    def with_cg(fn, max_fields):
        def wrapped():
            old = spark.conf.get("spark.sql.codegen.maxFields")
            spark.conf.set("spark.sql.codegen.maxFields", str(max_fields))
            try:
                fn()
            finally:
                spark.conf.set("spark.sql.codegen.maxFields", old)
        return wrapped

    variants = {
        "single": run_single,
        "seq4": lambda: run_seq(4),
        "par4": lambda: run_par(4),
        "par4_cg": with_cg(lambda: run_par(4), 320),
        "par8": lambda: run_par(8),
    }
    # warm each variant once (codegen/JIT), then interleave timed attempts
    for fn in variants.values():
        fn()
    att: dict[str, list[float]] = {k: [] for k in variants}
    for _ in range(n):
        for name, fn in variants.items():
            t0 = time.time()
            fn()
            att[name].append(round(time.time() - t0, 3))
    print(json.dumps({
        "n_frags": len(frags),
        "attempts": att,
        "min": {k: min(v) for k, v in att.items()},
        "median": {k: sorted(v)[len(v) // 2] for k, v in att.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
