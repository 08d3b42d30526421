from parquet_query_spark.sources.registry import (
    SUPPORTED_SUFFIXES,
    collect_files,
    is_supported_file_path,
    load_table,
    reader_for,
    register_folder,
    TESTDATA_TABLES,
)

__all__ = [
    "SUPPORTED_SUFFIXES",
    "collect_files",
    "is_supported_file_path",
    "load_table",
    "reader_for",
    "register_folder",
    "TESTDATA_TABLES",
]
