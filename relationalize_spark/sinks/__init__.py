from .jdbc import jdbc_column_types, postgres_load_plan, redshift_copy_sql, write_jdbc
from .upsert import overwrite_partitions, upsert_keys, write_partitioned
from .writers import (
    TableWriteError,
    write_csv_sorted,
    write_jsonl,
    write_orc,
    write_parquet,
    write_tables,
)

__all__ = [
    "jdbc_column_types",
    "postgres_load_plan",
    "redshift_copy_sql",
    "write_jdbc",
    "overwrite_partitions",
    "upsert_keys",
    "write_partitioned",
    "TableWriteError",
    "write_csv_sorted",
    "write_jsonl",
    "write_orc",
    "write_parquet",
    "write_tables",
]
