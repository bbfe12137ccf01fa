"""Scalar expression factories (reference §2.5, X1–X9).

All native Column expressions — JVM-side, whole-stage-codegen'd; no Python
UDFs in this layer (SURVEY.md §2.9: everything here is natively expressible).
"""

from petfinder_database_distributor_spark.functions.scalars import (
    bool_to_string,
    clean_text,
    escape_newlines,
    extract_name_from_about,
    failed_field_count,
    normalize_url,
    parse_boolean,
    search_url,
    timestamp_fmt,
)

__all__ = [
    "bool_to_string",
    "clean_text",
    "escape_newlines",
    "extract_name_from_about",
    "failed_field_count",
    "normalize_url",
    "parse_boolean",
    "search_url",
    "timestamp_fmt",
]
