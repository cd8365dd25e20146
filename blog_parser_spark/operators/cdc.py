"""Change-data-capture application: merge a change stream (upserts +
deletes) into a base snapshot, and build SCD2-style validity intervals
from the change history.

This is the batch MERGE a lakehouse table format runs under the hood,
expressed with open DataFrame ops so it works on plain parquet:

- latest-change-per-key is a row_number over (key) ordered by change
  sequence desc, filtered to rank 1 — Spark 4 rewrites it to
  WindowGroupLimit, so superseded changes collapse map-side before the
  shuffle;
- the merge itself is ONE anti-join (base rows whose key has no change
  survive untouched) plus a union with the surviving upserts. A typical
  CDC batch is tiny next to the base table, so the anti-join's change
  side is broadcast-able (`broadcast_changes=True`); the base table then
  never shuffles at all — the plan is scan + broadcast-anti-join + union,
  which is the shape you want when base is 100 TB and the delta is GBs.

Determinism: callers must make (key, seq) unique, or pass an op column
whose descending sort breaks ties ('u' > 'd'); both window orders here
carry (seq DESC, op DESC) so the same change wins on every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def latest_changes(changes: DataFrame, key_col: str, seq_col: str,
                   op_col: str) -> DataFrame:
    """One row per key: the change with the highest (seq, op) — the only
    change that matters for a snapshot merge."""
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(seq_col).desc(), F.col(op_col).desc()))
    return (changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def apply_changes(base: DataFrame, changes: DataFrame, key_col: str,
                  seq_col: str = "seq", op_col: str = "op",
                  broadcast_changes: bool = False) -> DataFrame:
    """Merged snapshot: base rows without changes + latest upserts.
    Keys whose latest change is a delete ('d') disappear; op values other
    than 'u'/'d' raise at plan build. Output schema == base schema."""
    latest = latest_changes(changes, key_col, seq_col, op_col)
    checked = latest.withColumn(
        op_col,
        F.when(F.col(op_col).isin("u", "d"), F.col(op_col))
         .otherwise(F.raise_error(F.concat(F.lit("unknown CDC op: "),
                                           F.col(op_col)))))
    keys = checked.select(key_col)
    if broadcast_changes:
        keys = F.broadcast(keys)
    survivors = base.join(keys, key_col, "left_anti")
    upserts = checked.filter(F.col(op_col) == "u") \
        .select(*[F.col(c) for c in base.columns])
    return survivors.unionByName(upserts)


def merge_change_log(state: DataFrame | None, batch: DataFrame,
                     key_col: str, seq_col: str = "seq",
                     op_col: str = "op") -> DataFrame:
    """Fold a new change batch into a persisted change-log state: the
    state rows are themselves (payload, op, seq) — including DELETE
    TOMBSTONES, which must persist so a late-arriving lower-seq upsert
    cannot resurrect a deleted key. Union + latest-change-wins; applying
    the same batch twice is a no-op (ties are identical rows), so
    checkpoint-replayed micro-batches are safe."""
    all_ch = batch if state is None else state.unionByName(batch)
    return latest_changes(all_ch, key_col, seq_col, op_col)


def live_rows(state: DataFrame, op_col: str = "op",
              seq_col: str = "seq") -> DataFrame:
    """The queryable snapshot: drop tombstones and CDC bookkeeping."""
    return state.filter(F.col(op_col) == "u").drop(op_col, seq_col)


def scd2_intervals(changes: DataFrame, key_col: str, seq_col: str = "seq",
                   op_col: str = "op") -> DataFrame:
    """Slowly-changing-dimension type-2 history: every change becomes a
    row with [valid_from_seq, valid_to_seq) — valid_to is the next
    change's seq, NULL while current. is_current marks the live version
    (deletes are never current: a delete closes the key's history).
    One window per key, same shuffle as latest_changes."""
    w = Window.partitionBy(key_col).orderBy(F.col(seq_col).asc(),
                                            F.col(op_col).asc())
    nxt = F.lead(seq_col).over(w)
    return (changes
            .withColumn("valid_from_seq", F.col(seq_col).cast("long"))
            .withColumn("valid_to_seq", nxt.cast("long"))
            .withColumn("is_current",
                        nxt.isNull() & (F.col(op_col) == "u")))
