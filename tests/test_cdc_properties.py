"""Property-based tests for the CDC merge invariants.

The two guarantees the whole pipeline rests on (SURVEY §4: the LSN guard is
what turns at-least-once foreachBatch into effectively-exactly-once):

  * **batch-split invariance** — applying a change log in one batch or in
    any contiguous split of batches yields the same final state (micro-batch
    boundaries are an accident of trigger timing, never semantics);
  * **replay idempotence** — re-applying any already-applied batch (Kafka
    redelivery, checkpoint recovery) leaves state unchanged — for delete
    batches too, because the LSN guard covers deletes as well as upserts
    (the reference's delete MERGE has no guard — ref stream/stream.py:135-148
    — so a late-replayed delete there removes newer re-inserted state; this
    engine closes that gap).

Random change logs come from hypothesis; each log is reduced per batch with
``latest_per_key`` before merging, mirroring the pipeline. A driver-side
model (plain dict replay of the per-batch latest rows) is the oracle.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka2delta_spark.cdc.dedup import latest_per_key
from kafka2delta_spark.cdc.merge import merge_cdc_batch

KEYS = [1, 2, 3]
SCHEMA = "pk long, val string, __log_sequence_number long, __deleted string"


def _op(draw_key, lsn, deleted):
    return (draw_key, f"v{lsn}", lsn, "true" if deleted else "false")


ops_strategy = st.lists(
    st.tuples(st.sampled_from(KEYS), st.booleans()),
    min_size=1,
    max_size=12,
).map(lambda pairs: [_op(k, i + 1, d) for i, (k, d) in enumerate(pairs)])


def _model_apply(state: dict, batch_rows) -> None:
    """Driver-side oracle: replay the per-batch latest rows in merge order."""
    latest = {}
    for pk, val, lsn, deleted in batch_rows:
        if pk not in latest or lsn > latest[pk][2]:
            latest[pk] = (pk, val, lsn, deleted)
    for pk, row in latest.items():
        if row[3] == "true":
            # LSN-guarded delete: only strictly newer deletes remove state
            if pk in state and row[2] > state[pk][2]:
                state.pop(pk)
        elif pk not in state or row[2] > state[pk][2]:
            state[pk] = (pk, row[1], row[2], None)


def _spark_apply(spark, state_df, batch_rows):
    batch = spark.createDataFrame(batch_rows, SCHEMA)
    deduped = latest_per_key(batch, ["pk"], "__log_sequence_number")
    return merge_cdc_batch(state_df, deduped, ["pk"])


def _collect(state_df):
    return sorted(
        (r["pk"], r["val"], r["__log_sequence_number"]) for r in state_df.collect()
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=ops_strategy, split=st.integers(min_value=0, max_value=11))
def test_batch_split_invariance(spark, ops, split):
    """One batch vs two batches split anywhere: same final state, and both
    equal the dict-model oracle."""
    cut = min(split, len(ops))
    one = _spark_apply(spark, None, ops)

    two = _spark_apply(spark, None, ops[:cut]) if cut else None
    if ops[cut:]:
        two = _spark_apply(spark, two, ops[cut:])
    model: dict = {}
    if cut:
        _model_apply(model, ops[:cut])
    if ops[cut:]:
        _model_apply(model, ops[cut:])
    expected = sorted((pk, v[1], v[2]) for pk, v in model.items())
    assert _collect(one) == expected
    assert _collect(two) == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=ops_strategy)
def test_replay_idempotence(spark, ops):
    """Re-applying any already-applied batch — deletes included — must not
    change state: the LSN guard covers both merge branches."""
    once = _spark_apply(spark, None, ops)
    twice = _spark_apply(spark, once, ops)
    assert _collect(once) == _collect(twice)


def test_late_replayed_delete_is_noop(spark):
    """The reference's gap, closed: a delete batch redelivered after a newer
    re-insert must not remove the newer state."""
    state = _spark_apply(spark, None, [(1, "v1", 1, "false")])
    state = _spark_apply(spark, state, [(1, "del", 2, "true")])
    state = _spark_apply(spark, state, [(1, "v3", 3, "false")])
    replayed = _spark_apply(spark, state, [(1, "del", 2, "true")])
    assert _collect(replayed) == [(1, "v3", 3)]


@pytest.mark.parametrize("stale_lsn", [1, 5])
def test_out_of_order_batch_cannot_regress(spark, stale_lsn):
    """A whole batch arriving late (lower LSNs than state) is a no-op for
    its keys — monotonicity holds batch-to-batch, not just within a batch."""
    fresh = [(1, "new", 10, "false")]
    stale = [(1, "old", stale_lsn, "false")]
    state = _spark_apply(spark, None, fresh)
    after = _spark_apply(spark, state, stale)
    assert _collect(after) == [(1, "new", 10)]


# -- partition-selective merge equivalence ---------------------------------

PART_SCHEMA = (
    "pk long, val string, __log_sequence_number long, year int, __deleted string"
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(KEYS), st.sampled_from([2023, 2024]), st.booleans()
        ),
        min_size=1,
        max_size=10,
    )
)
def test_selective_merge_equals_full_merge(spark, tmp_path_factory, ops):
    """ParquetStateStore.merge (partition-selective, hardlinked untouched
    partitions) must produce exactly the state of the full
    read-merge-overwrite path, for any batch split across partitions.
    Keys are pinned to one partition each (pk→year is a function), the same
    immutability caveat the reference documents for its MERGE ON clause."""
    from kafka2delta_spark.state.store import ParquetStateStore

    # make the partition a function of the key (pk odd→2023, even→2024) so
    # the partition-immutability precondition holds
    rows = [
        (pk, f"v{i + 1}", i + 1, 2023 if pk % 2 else 2024, "true" if d else "false")
        for i, (pk, _, d) in enumerate(ops)
    ]
    base = [(1, "b", 0, 2023, "false"), (2, "b", 0, 2024, "false")]

    d = tmp_path_factory.mktemp("selmerge")
    sel = ParquetStateStore(spark, str(d / "sel"), partition_cols=["year"])
    full = ParquetStateStore(spark, str(d / "full"), partition_cols=["year"])
    for s in (sel, full):
        s.overwrite(
            spark.createDataFrame(base, PART_SCHEMA).drop("__deleted")
        )
    batch = latest_per_key(
        spark.createDataFrame(rows, PART_SCHEMA), ["pk"], "__log_sequence_number"
    )
    v_before = sel._version()
    sel.merge(batch, ["pk"], "__log_sequence_number", "__deleted")
    # selective path: a partition the batch never touches is hardlinked
    # from the previous version, not rewritten
    def inodes(v, year):
        leaf = os.path.join(sel._dir(v), f"year={year}")
        return {os.stat(os.path.join(leaf, f)).st_ino for f in os.listdir(leaf)}

    for year in {2023, 2024} - {r[3] for r in rows}:
        assert inodes(sel._version(), year) == inodes(v_before, year)
    full.overwrite(
        merge_cdc_batch(
            full.read(), batch, ["pk"], "__log_sequence_number", "__deleted"
        )
    )
    got = sorted(tuple(r) for r in sel.read().collect())
    want = sorted(tuple(r) for r in full.read().collect())
    assert got == want


def test_null_key_change_rows_cannot_accumulate_state():
    """A malformed NULL-key change row violates the Debezium PK contract
    and can never be merged: the key equi-join (ours AND Delta's
    ``MERGE ... ON t.k = s.k``, which the reference uses) never matches
    NULL = NULL, so without the operator guard such a row would fire the
    not-matched INSERT branch on EVERY batch and grow state unboundedly.
    The guard drops it; real-key rows in the same batch are unaffected."""
    from kafka2delta_spark.session import build_session

    spark = build_session(
        "cdc_nullkey", master="local[4]", shuffle_partitions=4
    )
    bad_batch = [(None, "ghost", 1, "false"), (7, "real", 1, "false")]
    state = _spark_apply(spark, None, bad_batch)
    state = _spark_apply(spark, state, [(None, "ghost", 2, "false")])
    state = _spark_apply(spark, state, [(None, "ghost", 3, "false")])
    assert _collect(state) == [(7, "real", 1)]  # no NULL-key rows, ever
