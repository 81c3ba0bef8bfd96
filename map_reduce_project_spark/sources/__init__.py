from map_reduce_project_spark.sources.io import (
    TABLES,
    read_csv,
    read_json,
    read_table,
    register_views,
    write_csv,
    write_json,
)

__all__ = [
    "TABLES",
    "read_csv",
    "read_json",
    "read_table",
    "register_views",
    "write_csv",
    "write_json",
]
