"""Field-level document diff / merge-patch (SURVEY.md §2.7 F17/F18).

The reference diffs two versions of a notice field-by-field into
``(new, modif, miss)`` dicts (ntp_entry.py:219-236, also
OLD/cleanPlace.py_old:13-29) and records per-merge ``patch_data``
{add: {...}, mod: {...}} while merging (ntp_entry.py:30-46).

Here the diff is a pure Column expression over a joined pair of rows
— no Python, no per-row loops:

- ``diff_columns``: long-form (field, old_value, new_value, kind)
  rows via a stack of per-field comparisons; kind ∈ add|mod|del.

The ``patch_data`` change record is not built here: it is part of the
merge statement in ``versioning.merge_batch``, a MAP<STRING, STRING> of
the changed fields' new values, stored as JSON.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
