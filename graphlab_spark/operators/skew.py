"""Skew diagnostics: measure before you salt.

The reference's ingress prints per-machine replication/balance stats at
``finalize()`` (``distributed_graph.hpp:460-466``,
``distributed_ingress_base.hpp`` finalize reporting); on Spark the
equivalent operational question before a 100 TB run is *which keys are
hot and how unbalanced are the shuffle partitions*.  This module answers
it with two aggregation-only passes (no collect of raw data, no window
sorts):

- ``key_skew_report``: per-key count quantiles + the top-k hot keys +
  a recommended salt count sized so the hottest key's rows fit a
  target partition budget — for a join keyed on a skewed column.  The
  engine's gathers need no salt: their partial aggregate pre-sums a
  hub's messages per task before the shuffle;
- ``partition_balance``: realized rows per partition of a DataFrame
  (max/mean balance ratio) — the same signal the checkpoint manifests
  record per superstep, available ad hoc.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-partition row budget the salt recommendation targets; at 32-byte
#: rows this is ~32 MB of key-group per task — comfortably in-memory
DEFAULT_TARGET_ROWS = 1_000_000


def key_skew_report(
    df: DataFrame,
    keys: list[str],
    top_k: int = 10,
    target_rows: int = DEFAULT_TARGET_ROWS,
) -> dict:
    """One aggregation pass over per-key counts; returns::

        {n_keys, rows, mean, p50, p90, p99, max,
         top: [{key..., count}...],
         recommended_salts}

    ``recommended_salts`` is ``ceil(max_key_count / target_rows)``
    (1 = no salting needed).  Quantiles are exact only up to
    approxQuantile's default error — fine for a diagnostic.
    """
    counts = df.groupBy(*keys).agg(F.count("*").alias("__n")).persist()
    try:
        stats = counts.agg(
            F.count("*").alias("n_keys"),
            F.sum("__n").alias("rows"),
            F.max("__n").alias("mx"),
            F.avg("__n").alias("mean"),
        ).collect()[0]
        q50, q90, q99 = counts.approxQuantile("__n", [0.5, 0.9, 0.99], 0.001)
        top = [
            {**{k: r[k] for k in keys}, "count": int(r["__n"])}
            for r in counts.orderBy(F.desc("__n"), *keys).take(top_k)
        ]
        mx = int(stats["mx"] or 0)
        return {
            "n_keys": int(stats["n_keys"]),
            "rows": int(stats["rows"] or 0),
            "mean": float(stats["mean"] or 0.0),
            "p50": q50, "p90": q90, "p99": q99,
            "max": mx,
            "top": top,
            "recommended_salts": max(1, math.ceil(mx / target_rows)),
        }
    finally:
        counts.unpersist()


def partition_balance(df: DataFrame) -> dict:
    """Realized rows per partition: ``{partitions, rows, max, mean,
    balance}`` where ``balance = max/mean`` (1.0 = perfect).  One
    grouped aggregation on ``spark_partition_id()``."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("__p"))
        .agg(F.count("*").alias("__n"))
        .agg(F.count("*").alias("parts"), F.sum("__n").alias("rows"),
             F.max("__n").alias("mx"), F.avg("__n").alias("mean"))
        .collect()[0]
    )
    mean = float(rows["mean"] or 0.0)
    return {
        "partitions": int(rows["parts"]),
        "rows": int(rows["rows"] or 0),
        "max": int(rows["mx"] or 0),
        "mean": mean,
        "balance": (float(rows["mx"]) / mean) if mean else 1.0,
    }
