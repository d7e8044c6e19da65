from .noaa_feed import RAW_SCHEMA, fetch_feed, parse_feed_text
from .csv_source import read_co2_csv
from .jsonl_source import (
    DOCUMENTS_JSONL_SCHEMA,
    quarantine_split,
    read_jsonl,
    write_jsonl,
)

__all__ = [
    "RAW_SCHEMA",
    "parse_feed_text",
    "fetch_feed",
    "read_co2_csv",
    "DOCUMENTS_JSONL_SCHEMA",
    "read_jsonl",
    "write_jsonl",
    "quarantine_split",
]
