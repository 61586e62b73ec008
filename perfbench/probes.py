"""Environment baselines, measured in the benchmark's own Spark session.

They decide whether a change in a layer is the program's or the host's:
- ``job_floor_s``: a trivial one-partition job (driver submit + schedule);
- ``pyworker_stage_floor_s``: a one-row-per-partition mapInPandas stage over
  every core (the per-stage JVM↔Python round trip every query pays);
- ``ceiling_probe_s``: a fixed, perfectly parallel numpy burn over every core
  (what the box gives a Spark job right now).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd


def _noop(batches):
    for b in batches:
        yield pd.DataFrame({"v": [len(b)]})


def _burn(batches):
    for _ in batches:
        x = np.arange(50_000, dtype=np.float64)
        s = 0.0
        for _i in range(200):
            s += float((x * 1.0001 + 0.5).sum())
        yield pd.DataFrame({"v": [s]})


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def job_floor_s(spark, reps: int = 5) -> float:
    return _median_s(lambda: spark.range(1).count(), reps)


def pyworker_stage_floor_s(spark, cores: int, reps: int = 3) -> float:
    df = spark.range(cores).repartition(cores)
    return _median_s(lambda: df.mapInPandas(_noop, "v long").count(), reps)


def ceiling_probe_s(spark, cores: int, reps: int = 2) -> float:
    df = spark.range(4 * cores).repartition(4 * cores)
    return _median_s(lambda: df.mapInPandas(_burn, "v double").count(), reps)
