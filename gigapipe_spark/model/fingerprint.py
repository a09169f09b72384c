"""Label-set fingerprinting.

The reference computes a stream fingerprint as FNV-64a over name-sorted
(key, value) pairs with 0xFF separators (ref: writer/utils/fingerprint.go:27-41)
and a *second*, canonical fingerprint when queries re-group labels
(cityHash64 over "k=v,..." — ref: reader/logql/logql_transpiler/
clickhouse_planner/planner_by_without.go:14-28). Nothing outside the store
depends on the hash *values*, only on equality semantics, so this rebuild
uses ONE canonical scheme everywhere (SURVEY §7.4 risk 3):

  canonical string = "k=v" pairs, key-sorted, joined by 0xFF
  fingerprint      = xxhash64(canonical string)   (JVM-side, codegen'd)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SEP = "ÿ"


def sorted_entries(labels_col: Column) -> Column:
    """Key-sorted entries array for a MapType(String,String) column.

    array<struct<key,value>> is a valid GROUP BY key (maps are not), and
    grouping on it keeps MapType out of aggregation buffers — first(map)
    in an agg disqualifies HashAggregateExec and forces SortAggregate
    with a per-partition sort of every input row (the r14 PromQL find).
    map_from_entries() inverts it exactly (no separator escaping), and
    canonical_from_entries() derives the same canonical string / xxhash
    fingerprint the map itself would produce.
    """
    return F.array_sort(F.map_entries(labels_col))


def canonical_from_entries(entries_col: Column) -> Column:
    """Canonical "k=v" string from an already-sorted entries array."""
    return F.array_join(
        F.transform(
            entries_col, lambda e: F.concat(e["key"], F.lit("="), e["value"])
        ),
        _SEP,
    )


def canonical_labels_str(labels_col: Column) -> Column:
    """Key-sorted "k=v" canonical string for a MapType(String,String) column.

    Stays entirely in built-in functions (map_entries → sort → transform →
    join) so it participates in whole-stage codegen.
    """
    return canonical_from_entries(sorted_entries(labels_col))


def fingerprint_col(labels_col: Column) -> Column:
    """Distributed fingerprint of a MapType labels column (LongType)."""
    return F.xxhash64(canonical_labels_str(labels_col))
