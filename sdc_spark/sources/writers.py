"""Sinks (SURVEY.md §2.1).

The reference only ever had ``to_csv`` in its legacy distributed pass
(ref: sdc/distributed.py:938-975) and ``arr.tofile``; Spark's writers give
us csv/parquet/json/orc with partitioning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def to_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", str(bool(header)).lower()).csv(path)


def to_numpy_binary(df: DataFrame, col: str, path: str, dtype: str = "float64") -> None:
    """``np.ndarray.tofile`` equivalent (ref sdc/io/np_io.py:58-180 write
    side): raw little-endian binary of one numeric column.

    Distributed form: each partition writes ``part-NNNNN.bin`` under
    ``path`` via mapInPandas (Arrow batches -> numpy -> bytes, no per-row
    Python); the directory of parts IS the dataset, matching the
    reference's MPI-rank-per-file layout. ``np.fromfile`` of the
    concatenated parts round-trips. Ordering across parts follows the
    input partitioning — order-sensitive callers sort first."""
    import numpy as np
    import pandas as pd

    os.makedirs(path, exist_ok=True)

    def write(batches):
        import pyspark

        pid = pyspark.TaskContext.get().partitionId()
        out = os.path.join(path, f"part-{pid:05d}.bin")
        with open(out, "wb") as f:
            for pdf in batches:
                np.asarray(pdf[col], dtype=dtype).tofile(f)
        yield pd.DataFrame({"part": [out]})

    df.select(col).mapInPandas(write, "part string").collect()


def to_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def to_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ndjson writer (one JSON object per line — the splittable layout)."""
    df.write.mode(mode).json(path)


def write_dataset(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Curated-dataset export: the final hop of a training-data pipeline.

    - ``partition_by``: hive-style directory partitioning (readers prune
      whole directories on partition predicates);
    - ``sort_by``: rows sorted inside each file (parquet min-max row-group
      stats become selective for these columns — the cheap half of
      Z-ordering when one sort key dominates);
    - ``max_records_per_file``: bounds file size without a repartition
      (Spark splits as it writes).

    The single repartition on the partition columns makes each output
    directory be written by few tasks (no small-file explosion: without
    it, every task writes a file into EVERY partition dir — task_count ×
    partition_count files at 100 TB)."""
    out = df
    if partition_by:
        out = out.repartition(*[out[c] for c in partition_by])
        if sort_by:
            out = out.sortWithinPartitions(*partition_by, *sort_by)
    elif sort_by:
        out = out.repartitionByRange(*[out[c] for c in sort_by]).sortWithinPartitions(
            *sort_by
        )
    w = out.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
