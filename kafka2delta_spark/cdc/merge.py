"""CDC MERGE semantics as pure DataFrame transforms.

The reference applies each deduped micro-batch slice with two sequential
Delta ``MERGE INTO`` statements: an upsert MERGE with an LSN monotonic guard
(ref stream/stream.py:114-133, guard at :125) then an unguarded delete MERGE
(ref stream/stream.py:135-148). Folded here into ONE merge pass (SURVEY §4's
recommended fix — halves the target-table joins and closes the upsert/delete
ordering gap), with the LSN guard extended to deletes, closing the
reference's late-replayed-delete gap (an old delete batch redelivered after
a newer re-insert must be a no-op, same as a stale upsert):

  for the (already latest-per-key) change row of key K:
    * ``__deleted = 'true'``  → K removed from state iff
      ``change.lsn > state.lsn``; a delete for an absent key is a no-op.
    * otherwise (including NULL flag) → insert if K absent; update only if
      ``change.lsn > state.lsn`` (replay-idempotent upserts).

A NULL ``__deleted`` flag counts as an upsert on BOTH execution paths
(``COALESCE(__deleted = 'true', false)``) — previously the Delta path
silently dropped such rows because NULL matched no merge clause.

Two merge executors, one apply call: the streaming layer applies every
deduped slice through ``store.merge`` (``kafka2delta_spark.state.store``),
and the store picks the executor:
  * ``apply_cdc_delta`` — Delta ``DeltaTable.merge`` (single MERGE with
    whenMatchedDelete / whenMatchedUpdate(guard) / whenNotMatchedInsert),
    behind ``DeltaStateStore.merge``. At scale this rewrites only matched
    files (partition-pruned when ON includes partition columns).
  * ``merge_cdc_batch`` — engine-neutral full-outer-join merge producing the
    new state DataFrame, behind ``ParquetStateStore.merge`` (run over the
    touched partitions or the whole snapshot). It also carries schema
    evolution (Delta ``mergeSchema`` parity). Shuffle profile: one shuffle
    of each side on the key columns (AQE picks broadcast when the batch
    side is small, the common CDC case).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka2delta_spark.config import DELETED_COL, LSN_COL


def defined_keys_predicate(key_cols: list[str]):
    """``k1 IS NOT NULL AND k2 IS NOT NULL AND ...`` over the PK columns."""
    return reduce(and_, (F.col(k).isNotNull() for k in key_cols))


def exclude_null_key_changes(
    changes_df: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Enforce the Debezium PK contract on a change set: drop NULL-key rows.

    A NULL primary key can never MERGE-match (``ON t.k = s.k`` is false
    for NULL = NULL on every engine, Delta included), so a malformed row
    would fire the not-matched INSERT on every redelivery and grow state
    unboundedly — the corruption mode the reference inherits from Delta
    MERGE (ref stream/stream.py:114-148). The drop is made *observable*
    upstream: ``streaming.stream.process_topic_slice`` counts NULL-key rows
    on the deduped slice before the merge, or rejects the batch under
    ``TableConfig.on_null_key='error'``.
    """
    if not key_cols:
        return changes_df
    return changes_df.filter(defined_keys_predicate(key_cols))


def split_upserts_deletes(
    df: DataFrame, deleted_col: str = DELETED_COL
) -> tuple[DataFrame, DataFrame]:
    """Split a change set on the Debezium soft-delete flag.

    ``__deleted`` is the *string* 'true'/'false' (tombstones rewritten by the
    SMT — ref resources/kafka-connector.yaml:38-53; filters at
    ref stream/stream.py:115,136).
    """
    is_del = F.col(deleted_col) == F.lit("true")
    return df.filter(~is_del | F.col(deleted_col).isNull()), df.filter(is_del)


def merge_cdc_batch(
    state_df: DataFrame | None,
    changes_df: DataFrame,
    key_cols: list[str],
    lsn_col: str = LSN_COL,
    deleted_col: str = DELETED_COL,
) -> DataFrame:
    """Apply a deduped change set to the current state; returns new state.

    ``changes_df`` must hold at most one row per key (use
    :func:`kafka2delta_spark.cdc.dedup.latest_per_key` first — the reference
    enforces the same precondition because Delta MERGE forbids multiple
    source matches, ref stream/stream.py:92-96).

    The new state's schema is ``changes_df`` minus ``deleted_col``
    (target schema = source minus the delete flag, ref stream/stream.py:106).

    Schema evolution (Delta ``mergeSchema`` / Debezium ALTER-TABLE parity):
    when the state's column set differs from the change set's — the
    upstream table gained a column, or a replayed pre-evolution batch lacks
    one the state already has — each side is padded with typed NULL columns
    for the other side's extras, state columns first and new change columns
    appended (the Delta column-ordering rule). Rows the change set never
    touches read NULL in a new column. Key, LSN and delete-flag columns must
    exist on the change side; a new column may not be a key (Delta rejects
    that too).

    NULL-key change rows are excluded: a NULL primary key violates the
    Debezium PK contract and CANNOT be merged — the key equi-join (this
    full-outer join, and equally Delta's own ``MERGE ... ON t.k = s.k``,
    which the reference uses) never matches NULL = NULL, so a malformed
    null-key row would take the not-matched INSERT branch on EVERY batch it
    appears in and accumulate duplicate state rows unboundedly. The reference
    inherits exactly that corruption from Delta MERGE; here it is closed
    at the operator — observably (see :func:`exclude_null_key_changes`).
    """
    changes_df = exclude_null_key_changes(changes_df, key_cols)
    target_cols = [c for c in changes_df.columns if c != deleted_col]

    if state_df is None:
        live, _ = split_upserts_deletes(changes_df, deleted_col)
        return live.select(*target_cols)

    if set(state_df.columns) != set(target_cols):
        target_cols = list(dict.fromkeys([*state_df.columns, *target_cols]))
    dtypes = {
        f.name: f.dataType for f in (*changes_df.schema, *state_df.schema)
    }

    def padded(df: DataFrame) -> list:
        # typed NULLs (never NullType — parquet can't store void)
        return [
            F.col(c) if c in df.columns else F.lit(None).cast(dtypes[c]).alias(c)
            for c in target_cols
        ]

    s = state_df.select(
        *[F.col(c).alias(f"__k_{c}") for c in key_cols],
        F.struct(*padded(state_df)).alias("__s"),
    )
    c = changes_df.select(
        *[F.col(c_).alias(f"__k_{c_}") for c_ in key_cols],
        F.struct(*padded(changes_df)).alias("__c"),
        F.coalesce(F.col(deleted_col) == F.lit("true"), F.lit(False)).alias(
            "__is_delete"
        ),
    )
    joined = s.join(c, on=[f"__k_{k}" for k in key_cols], how="full_outer")

    # LSN monotonic guard (ref stream/stream.py:125) on upserts AND deletes:
    # only a strictly newer change replaces or removes existing state.
    newer = F.col(f"__c.{lsn_col}") > F.col(f"__s.{lsn_col}")
    row = (
        F.when(F.col("__c").isNull(), F.col("__s"))
        .when(
            F.col("__s").isNull(),
            F.when(F.col("__is_delete"), F.lit(None)).otherwise(F.col("__c")),
        )
        .when(F.col("__is_delete"), F.when(newer, F.lit(None)).otherwise(F.col("__s")))
        .when(newer, F.col("__c"))
        .otherwise(F.col("__s"))
    )
    return (
        joined.select(row.alias("__row"))
        .filter(F.col("__row").isNotNull())
        .select("__row.*")
    )


def delta_merge_spec(
    changes_cols: list[str],
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    lsn_col: str = LSN_COL,
    deleted_col: str = DELETED_COL,
) -> dict:
    """The complete Delta MERGE clause specification as plain strings —
    pure and jar-free, so the dormant Delta leg's guarantees are testable
    in environments without delta-spark (the jar-gated
    :func:`apply_cdc_delta` consumes this verbatim):

    * ``on`` equi-joins every key column AND every partition column —
      partition pruning of the target during the MERGE join (ref
      stream/stream.py:116-117; caveat preserved: partition cols must
      derive from immutable columns or a moved key duplicates);
    * the delete clause carries its own LSN guard (``s.lsn > t.lsn``) —
      the reference's unguarded-delete replay gap, closed;
    * the update clause carries the same guard, so stale updates are
      no-ops;
    * the insert clause suppresses tombstones for unseen keys;
    * the SET/VALUES map assigns every source column EXCEPT the
      ``deleted_col`` control column (it never lands in the target).
    """
    on = " AND ".join(
        f"t.`{c}` = s.`{c}`" for c in list(key_cols) + list(partition_cols or [])
    )
    set_map = {c: f"s.`{c}`" for c in changes_cols if c != deleted_col}
    return {
        "on": on,
        "delete_condition": (
            f"s.`{deleted_col}` = 'true' AND s.`{lsn_col}` > t.`{lsn_col}`"
        ),
        "update_condition": (
            f"NOT COALESCE(s.`{deleted_col}` = 'true', false) "
            f"AND s.`{lsn_col}` > t.`{lsn_col}`"
        ),
        "insert_condition": f"NOT COALESCE(s.`{deleted_col}` = 'true', false)",
        "set_map": set_map,
    }


def apply_cdc_delta(
    spark,
    target_table_or_path: str,
    changes_df: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    lsn_col: str = LSN_COL,
    deleted_col: str = DELETED_COL,
) -> None:
    """Single combined Delta MERGE (requires delta-spark on the classpath).

    All clause conditions come from :func:`delta_merge_spec` — see its
    docstring for the pruning/guard guarantees; the spec is unit-tested
    jar-free and this function only binds it to the DeltaTable API.

    NULL-key change rows are excluded before the MERGE, mirroring
    :func:`merge_cdc_batch`: Delta's
    ``ON t.k = s.k`` never matches a NULL key, so such a row would fire
    the not-matched INSERT on every replayed batch and accumulate
    duplicate state rows (the reference inherits this exact behavior from
    Delta MERGE).
    """
    from delta.tables import DeltaTable  # gated import

    changes_df = exclude_null_key_changes(changes_df, key_cols)

    target = (
        DeltaTable.forPath(spark, target_table_or_path)
        if "/" in target_table_or_path
        else DeltaTable.forName(spark, target_table_or_path)
    )
    spec = delta_merge_spec(
        list(changes_df.columns), key_cols, partition_cols, lsn_col, deleted_col
    )
    (
        target.alias("t")
        .merge(changes_df.alias("s"), spec["on"])
        .whenMatchedDelete(condition=spec["delete_condition"])
        .whenMatchedUpdate(
            condition=spec["update_condition"], set=spec["set_map"]
        )
        .whenNotMatchedInsert(
            condition=spec["insert_condition"], values=spec["set_map"]
        )
        .execute()
    )
