"""Helpers shared by the workloads."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def write_input(df: pd.DataFrame, path: str, files: int = 4) -> None:
    """Write a generated frame as `files` parquet files (one scan task each)."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part], preserve_index=False),
                       os.path.join(path, f"part-{i}.parquet"))


def output_dir(df) -> str:
    """Directory of the parquet files a DataFrame was read from."""
    return os.path.dirname(df.inputFiles()[0]).removeprefix("file:")


def read_output(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """Read a Spark-written parquet directory back with pyarrow."""
    return pq.read_table(path, columns=columns).to_pandas()


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from its footers."""
    return ds.dataset(path, format="parquet").count_rows()


def force(df):
    """Materialize a layer's output so the next layer starts from it."""
    return df.localCheckpoint(eager=True)


def partition_skew(df) -> tuple[int, float]:
    """(rows, max/mean partition rows) of a materialized DataFrame."""
    from pyspark.sql import functions as F

    rows = [r["c"] for r in df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("c")).collect()]
    n_part = max(df.rdd.getNumPartitions(), len(rows), 1)
    total = sum(rows)
    return total, (max(rows) * n_part / total if total else 0.0)
