from udacity_data_engineering_capstone_project_spark.sources.readers import (
    TABLES,
    load_tables,
    read_csv,
    read_parquet,
    read_table,
)
from udacity_data_engineering_capstone_project_spark.sources.sinks import (
    write_parquet,
)
from udacity_data_engineering_capstone_project_spark.sources.warc import (
    build_http_response,
    iter_warc_records,
    parse_http_response,
    parse_warc_bytes,
    read_warc,
    read_warc_stream,
    warc_documents,
    warc_http_documents,
    write_warc,
)

__all__ = [
    "TABLES",
    "load_tables",
    "build_http_response",
    "iter_warc_records",
    "parse_http_response",
    "parse_warc_bytes",
    "read_csv",
    "read_parquet",
    "read_table",
    "read_warc",
    "read_warc_stream",
    "warc_documents",
    "warc_http_documents",
    "write_parquet",
    "write_warc",
]
