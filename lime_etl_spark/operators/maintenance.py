"""Table-maintenance operators: small-file compaction and plan
introspection.

Small files are the classic lake failure mode: a streaming sink or
per-batch append at 100 TB produces millions of KB-sized files, and
scan planning starts to dominate query time (one footer read + task
per file). ``compact_parquet`` rewrites a directory to
target-sized files; run it from a scheduled admin batch exactly like
``DeleteOldLogs``.

``explain_report`` exposes the plan properties our plan-quality tests
assert (pushed filters, read schema, joins, exchanges) as data, so
pipelines can fail fast when a deploy regresses pushdown.
"""

from __future__ import annotations

import math
import os
import re
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from lime_etl_spark.sources.fs import overwrite_dir


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: Optional[List[str]] = None,
) -> int:
    """Rewrite a parquet directory into ~target-sized files.

    Returns the new file count. The swap is sources/fs.py's
    crash-safe overwrite_dir; a lake table format would express this as
    a compaction transaction instead — the sizing logic is the part
    that transfers.
    """

    def write(tmp: str) -> None:
        n_files = max(1, math.ceil(dir_bytes(path) / (target_file_mb * 1024 * 1024)))
        writer = spark.read.parquet(path).repartition(n_files).write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

    overwrite_dir(spark, path, write)
    return parquet_file_count(path)


def explain_report(df: DataFrame) -> dict:
    """Physical-plan facts as data (pre-execution, AQE initial plan)."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    return {
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "read_schemas": re.findall(r"ReadSchema: struct<([^>]*)>", plan),
        "broadcast_joins": len(re.findall(r"\n\(\d+\) BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"\n\(\d+\) SortMergeJoin", plan)),
        "exchanges": len(re.findall(r"\n\(\d+\) Exchange", plan)),
        "cartesian": "CartesianProduct" in plan,
        "python_row_udfs": "BatchEvalPython" in plan,
        "plan": plan,
    }


def observe_dq(
    df: DataFrame,
    name: str = "dq",
    money_col: Optional[str] = None,
    key_col: Optional[str] = None,
):
    """Attach zero-extra-pass data-quality counters to a DataFrame.

    ``df.observe`` evaluates aggregate expressions INSIDE the job that
    materializes the frame — row count, null keys, negative money —
    so a pipeline gets its DQ telemetry without a second scan (the
    way ``DataTestJob`` re-reads the output to assert on it). Returns
    ``(observed_df, observation)``; read ``observation.get`` AFTER an
    action on ``observed_df``.

    Scale: observation aggregates are map-side accumulators merged on
    the driver — constant overhead per task, no shuffle, no extra
    scan, which is exactly why in-flight counters beat a follow-up
    audit query at 100 TB.

    lime-etl analog: the post-run ``test()`` hook
    (/root/reference/lime_etl/domain/job_spec.py:40) — but evaluated
    in-flight instead of as a second read.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    exprs = [F.count(F.lit(1)).alias("n_rows")]
    if key_col is not None:
        exprs.append(
            F.sum(F.when(F.col(key_col).isNull(), 1).otherwise(0)).alias(
                "n_null_keys"
            )
        )
    if money_col is not None:
        exprs.append(
            F.sum(F.when(F.col(money_col) < 0, 1).otherwise(0)).alias(
                "n_negative_money"
            )
        )
    obs = Observation(name)
    return df.observe(obs, *exprs), obs
