from arcane_framework_scala_spark.sinks.merge_sink import (
    MergeSink,
    SnapshotParquetTarget,
    CatalogTarget,
    REFERENCE_MAX_ROWS_PER_FILE,
)
from arcane_framework_scala_spark.sinks.table_stats import (
    TableStats,
    table_stats,
    table_size_sql,
    column_sizes_sql,
    partition_count,
    partition_count_sql,
)

__all__ = [
    "MergeSink",
    "SnapshotParquetTarget",
    "CatalogTarget",
    "REFERENCE_MAX_ROWS_PER_FILE",
    "TableStats",
    "table_stats",
    "table_size_sql",
    "column_sizes_sql",
    "partition_count",
    "partition_count_sql",
]
