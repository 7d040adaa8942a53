"""Field-level document diff / merge-patch (SURVEY.md §2.7 F17/F18).

The reference diffs two versions of a notice field-by-field into
``(new, modif, miss)`` dicts (ntp_entry.py:219-236, also
OLD/cleanPlace.py_old:13-29) and records per-merge ``patch_data``
{add: {...}, mod: {...}} while merging (ntp_entry.py:30-46).

Here both shapes are pure Column expressions over a joined pair of
rows — no Python, no per-row loops:

- ``diff_columns``: long-form (field, old_value, new_value, kind)
  rows via a stack of per-field comparisons; kind ∈ add|mod|del.
- ``patch_map``: MAP<STRING, STRING> of changed fields (new values),
  the set-oriented ``patch_data`` equivalent, JSON-serializable with
  to_json for storage in a string column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def diff_columns(
    joined: DataFrame,
    fields: list[str],
    key_cols: list[str],
    old_prefix: str = "old_",
    new_prefix: str = "new_",
) -> DataFrame:
    """Long-form field diff of a pre-joined (old, new) row pair.

    kind: 'add' (old null/empty → new non-empty), 'del' (old non-empty
    → new null/empty), 'mod' (both non-empty, different). Unchanged
    fields are dropped.
    """
    diffs = []
    for f in fields:
        old_v = F.col(f"{old_prefix}{f}").cast("string")
        new_v = F.col(f"{new_prefix}{f}").cast("string")
        old_has = old_v.isNotNull() & (old_v != "")
        new_has = new_v.isNotNull() & (new_v != "")
        kind = (
            F.when(~old_has & new_has, F.lit("add"))
            .when(old_has & ~new_has, F.lit("del"))
            .when(old_has & new_has & (old_v != new_v), F.lit("mod"))
        )
        diffs.append(
            F.struct(
                F.lit(f).alias("field"),
                old_v.alias("old_value"),
                new_v.alias("new_value"),
                kind.alias("kind"),
            )
        )
    exploded = joined.select(
        *key_cols, F.explode(F.array(*diffs)).alias("_d")
    ).select(*key_cols, "_d.field", "_d.old_value", "_d.new_value", "_d.kind")
    return exploded.filter(F.col("kind").isNotNull())


def patch_map(fields: list[str], old_prefix: str = "_old_") -> Column:
    """MAP<field, new_value> of fields whose incoming value is non-empty
    and differs from the stored one — the ``patch_data`` payload
    (ntp_entry.py:30-46: add when absent before, mod when changed)."""
    entries = []
    for f in fields:
        old_v = F.col(f"{old_prefix}{f}").cast("string")
        new_v = F.col(f).cast("string")
        changed = (
            new_v.isNotNull()
            & (new_v != "")
            & (old_v.isNull() | (old_v != new_v))
        )
        entries.append(F.when(changed, F.struct(F.lit(f).alias("k"), new_v.alias("v"))))
    arr = F.filter(F.array(*entries), lambda e: e.isNotNull())
    return F.map_from_entries(arr)
