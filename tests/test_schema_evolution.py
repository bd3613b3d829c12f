"""merge_cdc_batch schema evolution: Delta mergeSchema parity on the
engine-neutral path — widening (change set adds a column), narrowing (old
replayed batch lacks a column the store already has), and the LSN/delete
semantics must pass through unchanged.
"""

from pyspark.sql import functions as F

from kafka2delta_spark.cdc.merge import merge_cdc_batch


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_widening_null_fills_untouched_rows(spark):
    state = _df(spark, [(1, 10, "a"), (2, 20, "b")], "id long, lsn long, v string")
    changes = _df(
        spark,
        [(2, 21, "b2", 99, "false"), (3, 5, "c", 7, "false")],
        "id long, lsn long, v string, extra long, __deleted string",
    )
    out = {
        r["id"]: (r["lsn"], r["v"], r["extra"])
        for r in merge_cdc_batch(state, changes, ["id"], lsn_col="lsn").collect()
    }
    assert out == {
        1: (10, "a", None),   # untouched: new column null-filled
        2: (21, "b2", 99),    # updated: carries the new column
        3: (5, "c", 7),       # inserted
    }
    # column order: state columns first, new column appended
    cols = merge_cdc_batch(state, changes, ["id"], lsn_col="lsn").columns
    assert cols == ["id", "lsn", "v", "extra"]


def test_narrowing_replayed_old_batch(spark):
    # store already evolved; a replayed pre-evolution batch lacks `extra`
    state = _df(
        spark, [(1, 10, "a", 5)], "id long, lsn long, v string, extra long"
    )
    old_batch = _df(
        spark,
        [(1, 9, "stale", "false"), (2, 3, "new", "false")],
        "id long, lsn long, v string, __deleted string",
    )
    out = {
        r["id"]: (r["lsn"], r["v"], r["extra"])
        for r in merge_cdc_batch(state, old_batch, ["id"], lsn_col="lsn").collect()
    }
    # stale update rejected by the LSN guard; insert gets NULL extra
    assert out == {1: (10, "a", 5), 2: (3, "new", None)}


def test_delete_and_guard_semantics_survive_evolution(spark):
    state = _df(spark, [(1, 10, "a"), (2, 20, "b")], "id long, lsn long, v string")
    changes = _df(
        spark,
        [
            (1, 11, "x", 1, "true"),   # newer delete → removed
            (2, 19, "y", 2, "true"),   # stale delete → no-op
            (9, 1, "z", 3, "true"),    # delete of absent key → no-op
        ],
        "id long, lsn long, v string, extra long, __deleted string",
    )
    out = {
        r["id"]: r["v"]
        for r in merge_cdc_batch(state, changes, ["id"], lsn_col="lsn").collect()
    }
    assert out == {2: "b"}


def test_new_column_type_preserved(spark):
    state = _df(spark, [(1, 10, "a")], "id long, lsn long, v string")
    changes = _df(
        spark,
        [(1, 11, "a2", 1.5, "false")],
        "id long, lsn long, v string, score double, __deleted string",
    )
    merged = merge_cdc_batch(state, changes, ["id"], lsn_col="lsn")
    assert dict(merged.dtypes)["score"] == "double"
    assert merged.collect()[0]["score"] == 1.5


def test_store_full_rewrite_path_with_evolution(spark, tmp_path):
    """End-to-end through ParquetStateStore: a schema-changing batch skips
    the partition-selective path, and ``store.merge`` itself commits the
    full read → merge_cdc_batch → overwrite result — a new version whose
    schema is the union, with prior rows null-filled and time travel back
    to the pre-evolution snapshot intact."""
    from kafka2delta_spark.state.store import ParquetStateStore

    store = ParquetStateStore(
        spark, str(tmp_path / "state"), partition_cols=["bucket"]
    )
    v1 = _df(
        spark,
        [(1, 0, 10, "a"), (2, 1, 20, "b")],
        "id long, bucket int, lsn long, v string",
    )
    store.overwrite(v1)
    changes = _df(
        spark,
        [(2, 1, 21, "b2", 7, "false"), (3, 0, 5, "c", 9, "false")],
        "id long, bucket int, lsn long, v string, extra long, __deleted string",
    )
    # the state equals the full evolving merge of the prior snapshot
    want = sorted(
        merge_cdc_batch(store.read(), changes, ["id"], lsn_col="lsn")
        .select("id", "bucket", "lsn", "v", "extra")
        .collect()
    )
    store.merge(changes, ["id"], lsn_col="lsn", deleted_col="__deleted")
    assert sorted(
        store.read().select("id", "bucket", "lsn", "v", "extra").collect()
    ) == want
    out = {
        r["id"]: (r["v"], r["extra"]) for r in store.read().collect()
    }
    assert out == {1: ("a", None), 2: ("b2", 7), 3: ("c", 9)}
    # pre-evolution snapshot still readable (no `extra` column)
    old_cols = store.read(version=store.history()[0]).columns
    assert "extra" not in old_cols and len(store.history()) == 2
