"""Table IO: parquet writes.

``write_table`` always writes parquet, directory-partitioned when
``partition_by`` is given; there is no Iceberg path. The resume
checkpoints an Iceberg sink would get from its atomic snapshot commits
(analog of the reference's staged DB commits, reference
import_data_db.py:586, 787, 852, 952) come from sources/checkpoint.py
instead: one atomic commit-marker file per partition group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
