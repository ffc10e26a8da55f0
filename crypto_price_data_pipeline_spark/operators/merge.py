"""MERGE INTO semantics (CDC upsert/delete apply) without a table
format: the operational primitive behind ``UPDATE``/``DELETE``/
``INSERT``-by-key maintenance of a large snapshot table.

Reference parity: the reference's per-record maintenance loop
(``dump_with_postgres.py`` update/delete paths) mutates one row at a
time through a cursor; here the whole change batch applies in one
declarative plan.

Scale design (the part that matters at 100 TB):

- The BASE side never shuffles. Matched-row handling is a single
  ``base LEFT JOIN broadcast(changes)`` — a CDC batch is normally
  orders of magnitude smaller than the snapshot, so the big table
  streams through a broadcast hash join, applies updates/deletes as
  projections/filters, and is written back partition-local.
- The only shuffle touches the base's KEY COLUMN alone: finding
  not-matched inserts needs ``changes ANTI JOIN base`` and the scan
  for it is column-pruned to the join key (bytes-per-row, not rows).
  With a bucketed base this anti join is co-located too.
- ``broadcast_changes=False`` flips to a shuffle hash join for the
  rare full-snapshot-sized change set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["latest_per_key", "merge_upsert"]


def latest_per_key(df: DataFrame, key_col: str, ts_col: str, tiebreak_col: str) -> DataFrame:
    """Each key's latest row of ``df`` (ORDER BY ts DESC, tiebreak
    DESC). An argmax over a total order is associative, so the latest
    rows of several batches, reduced again, are the latest rows of
    their union — the CDC change set merges from per-batch partials."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).desc(), F.col(tiebreak_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    on: str,
    *,
    update_set: dict[str, str],
    insert_values: dict[str, Column],
    op_col: str = "op",
    action_col: str = "merge_action",
    broadcast_changes: bool = True,
    validate: bool = True,
) -> DataFrame:
    """Apply a keyed change batch to ``base`` with MERGE semantics.

    ``changes`` carries one row per key: ``on`` (join key), ``op_col``
    in ``('upsert', 'delete')``, plus payload columns. Matched +
    ``upsert`` overwrites each base column in ``update_set`` (mapping
    base column -> changes payload column); matched + ``delete`` drops
    the row; unmatched + ``upsert`` inserts a row built from
    ``insert_values`` (mapping base column -> Column expression over
    the changes row); unmatched + ``delete`` is a no-op.

    Returns the merged table with ``action_col`` in
    ``('kept', 'updated', 'inserted')`` — deletes are absent by
    construction. Keys must be unique on both sides (standard MERGE
    precondition; a duplicate-key change batch would make the result
    nondeterministic in any engine). With ``validate=True`` (default)
    a duplicate change key FAILS THE JOB via an in-plan ``assert_true``
    riding the changes projection — one per-key count window on the
    (small) CDC batch — instead of silently fanning out base rows
    through the left join and double-inserting via the anti join.
    Disable it only for the full-snapshot-sized change path where the
    extra changes-side shuffle matters AND uniqueness is guaranteed
    upstream. Base-side duplicates are NOT checked (SQL MERGE only
    requires source uniqueness; duplicate base keys each receive the
    same change row, which is standard MERGE-on-non-unique-target
    behavior).

    ``insert_values`` expressions are evaluated against the unmatched
    CHANGES rows, whose payload columns appear under a ``_chg_``
    prefix (e.g. the changes column ``new_bal`` is visible as
    ``_chg_new_bal``); the join key keeps its own name.
    """
    payload_cols = [c for c in changes.columns if c != on]
    ch = changes.select(on, *[F.col(c).alias(f"_chg_{c}") for c in payload_cols])
    if validate:
        from pyspark.sql.window import Window

        # in-plan uniqueness guard (packing.py idiom): assert_true is
        # NULL on success, so coalesce-concat onto the op column keeps
        # it referenced through column pruning; a duplicate key raises
        # at execution instead of producing a silently-fanned-out merge.
        guard = F.assert_true(
            F.count(F.lit(1)).over(Window.partitionBy(on)) == F.lit(1),
            F.concat(
                F.lit(f"merge_upsert: duplicate key in changes on {on!r}: "),
                # a NULL key would NULL the whole concat and erase the
                # diagnostic from the raised error — coalesce keeps it
                F.coalesce(F.col(on).cast("string"), F.lit("NULL")),
            ),
        )
        ch = ch.withColumn(
            f"_chg_{op_col}",
            F.concat(
                F.coalesce(guard.cast("string"), F.lit("")),
                F.col(f"_chg_{op_col}"),
            ),
        )
    ch_b = F.broadcast(ch) if broadcast_changes else ch
    chg_op = F.col(f"_chg_{op_col}")

    # matched path: base streams, changes broadcast; deletes filtered,
    # updates projected in place.
    joined = base.join(ch_b, on, "left").where(
        chg_op.isNull() | (chg_op != F.lit("delete"))
    )
    matched_cols: list[Column] = []
    for c in base.columns:
        if c in update_set:
            matched_cols.append(
                F.when(chg_op == "upsert", F.col(f"_chg_{update_set[c]}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            matched_cols.append(F.col(c))
    survivors = joined.select(
        *matched_cols,
        F.when(chg_op == "upsert", F.lit("updated"))
        .otherwise(F.lit("kept"))
        .alias(action_col),
    )

    # not-matched inserts: the base side is pruned to its key column
    # before the anti join, so the big table contributes keys only.
    inserts_src = ch.where(chg_op == "upsert").join(
        base.select(on), on, "left_anti"
    )
    inserts = inserts_src.select(
        *[
            (F.col(on) if c == on else insert_values[c]).alias(c)
            for c in base.columns
        ],
        F.lit("inserted").alias(action_col),
    )
    return survivors.unionByName(inserts)
