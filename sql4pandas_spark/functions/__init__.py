"""Function-library helpers shared by queries and operators.

The scalar function surface itself (string/date/math/json/array families) is
Spark built-ins — see queries/functions_lib.py for the declared coverage and
the Spark↔DuckDB rename table in SURVEY.md §2.12 #5. This module holds the
small cross-cutting helpers.
"""

from __future__ import annotations

#: Spark↔DuckDB function-name divergences (SURVEY.md §2.12 #5) — kept as data
#: so the test harness and future SQL transpilation share one table.
SPARK_TO_DUCKDB_FN = {
    "get_json_object": "json_extract_string",
    "size": "len",
    "explode": "unnest",
    "split": "string_split",
    "signum": "sign",
    "pow": "power",
    "substring": "substr",
    "rlike": "regexp_matches",
    # array/list family — same argument order and semantics, names differ;
    # higher-order functions share the `x -> expr` SQL lambda syntax in
    # both engines, so transform/filter are pure renames too
    "array_contains": "list_contains",
    "array_distinct": "list_distinct",
    "sort_array": "list_sort",
    "array_join": "array_to_string",
    "transform": "list_transform",
    "filter": "list_filter",
    # semantic trap, not just a rename: DuckDB log() is log10 while Spark
    # log() is ln — mapping Spark log10 <-> DuckDB log keeps both sides'
    # statements meaning what they meant
    "log10": "log",
    "hex": "to_hex",
}

