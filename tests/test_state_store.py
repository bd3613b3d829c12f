"""ParquetStateStore: commit protocol, time travel, retention, compaction."""

from __future__ import annotations

import os

import pytest

from kafka2delta_spark.cdc.merge import merge_cdc_batch
from kafka2delta_spark.state.store import ParquetStateStore


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _by_name(df):
    """Column set plus rows keyed by column name, independent of order."""
    cols = sorted(df.columns)
    return cols, sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)


def _full_merge(store, changes):
    """``merge_cdc_batch(prior, changes)``, materialised before the commit."""
    return _by_name(
        merge_cdc_batch(store.read(), changes, ["id"], "lsn", "__deleted")
    )


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetStateStore(spark, str(tmp_path / "tbl"), retain_versions=2)


def test_read_before_any_commit(store):
    assert store.read() is None
    assert store.history() == []


def test_commit_and_time_travel(spark, store):
    store.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    store.overwrite(spark.createDataFrame([(1, "b"), (2, "c")], "id long, v string"))
    assert _rows(store.read()) == [(1, "b"), (2, "c")]
    assert store.history() == [1, 2]
    assert _rows(store.read(version=1)) == [(1, "a")]


def test_retention_ages_out_old_versions(spark, store):
    for i in range(4):
        store.overwrite(spark.createDataFrame([(i,)], "id long"))
    assert store.history() == [3, 4]
    assert _rows(store.read()) == [(3,)]
    with pytest.raises(ValueError, match="not available"):
        store.read(version=1)


def test_dangling_writer_dir_invisible(spark, store, tmp_path):
    store.overwrite(spark.createDataFrame([(1,)], "id long"))
    # a crashed writer leaves v00000002 without flipping the pointer
    spark.createDataFrame([(99,)], "id long").write.parquet(
        str(tmp_path / "tbl" / "v00000002")
    )
    assert store.history() == [1]
    assert _rows(store.read()) == [(1,)]


def test_optimize_compacts_files(spark, store):
    df = spark.createDataFrame([(i, i % 3) for i in range(300)], "id long, k long")
    store.overwrite(df.repartition(16))
    v = store._version()
    n_before = len(
        [f for f in os.listdir(store._dir(v)) if f.endswith(".parquet")]
    )
    assert n_before > 1
    store.optimize(target_files=1)
    v2 = store._version()
    n_after = len(
        [f for f in os.listdir(store._dir(v2)) if f.endswith(".parquet")]
    )
    assert n_after == 1
    assert _rows(store.read()) == _rows(df)
    # pre-compaction snapshot still time-travel readable
    assert _rows(store.read(version=v)) == _rows(df)


def test_catalog_registration_repoints_per_commit(spark, tmp_path):
    """S4 metastore parity: a named store is queryable via spark.table and
    the catalog entry follows the version pointer across commits."""
    store = ParquetStateStore(
        spark, str(tmp_path / "named"), table_name="k2d_cat.users"
    )
    store.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    assert spark.catalog.tableExists("k2d_cat.users")
    assert _rows(spark.table("k2d_cat.users")) == [(1, "a")]
    store.overwrite(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert _rows(spark.table("k2d_cat.users")) == [(2, "b")]


def test_create_table_if_not_exists_registers_name(spark, tmp_path):
    from pyspark.sql import types as T

    from kafka2delta_spark.config import TableConfig
    from kafka2delta_spark.state.store import create_table_if_not_exists

    cfg = TableConfig(
        schema_name="k2d_cat2", table_name="t", path=str(tmp_path / "t")
    )
    schema = T.StructType([T.StructField("id", T.LongType())])
    store = create_table_if_not_exists(spark, schema, cfg)
    assert spark.catalog.tableExists("k2d_cat2.t")
    assert spark.table("k2d_cat2.t").count() == 0
    assert store.read().schema == schema


def test_optimize_cluster_by_gives_disjoint_file_ranges(spark, store):
    """OPTIMIZE ZORDER parity: after cluster_by compaction each file covers
    a disjoint key range, so parquet min/max stats can skip whole files."""
    df = spark.createDataFrame(
        [((i * 37) % 500, f"p{i}") for i in range(500)], "k long, payload string"
    )
    store.overwrite(df.repartition(8))  # keys scattered across files
    store.optimize(target_files=4, cluster_by=["k"])
    v = store._version()
    files = [
        os.path.join(store._dir(v), f)
        for f in os.listdir(store._dir(v))
        if f.endswith(".parquet")
    ]
    assert len(files) == 4
    ranges = []
    for f in files:
        row = spark.read.parquet(f).agg({"k": "min"}).collect()[0]
        lo = row[0]
        hi = spark.read.parquet(f).agg({"k": "max"}).collect()[0][0]
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next  # no overlap -> min/max skipping works
    assert _rows(store.read()) == _rows(df)


# -- partition-selective merge ---------------------------------------------


SCHEMA = "id long, v string, lsn long, year int"
CHANGE_SCHEMA = "id long, v string, lsn long, year int, __deleted string"


@pytest.fixture()
def pstore(spark, tmp_path):
    s = ParquetStateStore(spark, str(tmp_path / "ptbl"), partition_cols=["year"])
    s.overwrite(
        spark.createDataFrame(
            [(1, "a", 10, 2023), (2, "b", 10, 2023), (3, "c", 10, 2024)], SCHEMA
        )
    )
    return s


def _leaf_inodes(store, version, part):
    d = os.path.join(store._dir(version), part)
    return {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)
            if f.endswith(".parquet")}


def test_selective_merge_rewrites_only_touched_partition(spark, pstore):
    changes = spark.createDataFrame(
        [(3, "c2", 20, 2024, "false"), (4, "d", 20, 2024, "false")], CHANGE_SCHEMA
    )
    pstore.merge(changes, ["id"], "lsn", "__deleted")
    assert _rows(pstore.read().select("id", "v")) == [
        (1, "a"), (2, "b"), (3, "c2"), (4, "d")
    ]
    # untouched partition's files are hardlinks of the previous version's
    v1, v2 = pstore.history()
    assert set(_leaf_inodes(pstore, v2, "year=2023").values()) == set(
        _leaf_inodes(pstore, v1, "year=2023").values()
    )
    # touched partition was rewritten (fresh inodes)
    assert not set(_leaf_inodes(pstore, v2, "year=2024").values()) & set(
        _leaf_inodes(pstore, v1, "year=2024").values()
    )
    # time travel still sees the old snapshot
    assert _rows(pstore.read(version=v1).select("id", "v")) == [
        (1, "a"), (2, "b"), (3, "c")
    ]


def test_selective_merge_deleting_whole_partition(spark, pstore):
    changes = spark.createDataFrame([(3, "c", 20, 2024, "true")], CHANGE_SCHEMA)
    pstore.merge(changes, ["id"], "lsn", "__deleted")
    assert _rows(pstore.read().select("id")) == [(1,), (2,)]
    # the emptied partition must not resurrect via hardlinking
    assert not os.path.isdir(
        os.path.join(pstore._dir(pstore.history()[-1]), "year=2024")
    )


def test_selective_merge_falls_back_on_schema_change(spark, pstore):
    changes = spark.createDataFrame(
        [(5, "e", 20, 2023, "+49", "false")],
        "id long, v string, lsn long, year int, phone string, __deleted string",
    )
    want = _full_merge(pstore, changes)
    pstore.merge(changes, ["id"], "lsn", "__deleted")
    assert _by_name(pstore.read()) == want
    assert "phone" in pstore.read().columns and len(pstore.history()) == 2


def test_selective_merge_falls_back_on_null_partition_value(spark, pstore):
    changes = spark.createDataFrame(
        [(5, "e", 20, None, "false")], CHANGE_SCHEMA
    )
    want = _full_merge(pstore, changes)
    pstore.merge(changes, ["id"], "lsn", "__deleted")
    assert _by_name(pstore.read()) == want


def test_merge_unpartitioned_store_equals_full_merge(spark, store):
    store.overwrite(
        spark.createDataFrame([(1, "a", 10, 2023), (2, "b", 10, 2023)], SCHEMA)
    )
    changes = spark.createDataFrame(
        [(1, "a2", 20, 2023, "false"), (2, "b", 20, 2023, "true"),
         (3, "c", 5, 2024, "false")],
        CHANGE_SCHEMA,
    )
    want = _full_merge(store, changes)
    store.merge(changes, ["id"], "lsn", "__deleted")
    assert _by_name(store.read()) == want
    assert _rows(store.read().select("id", "v")) == [(1, "a2"), (3, "c")]
    assert store.history() == [1, 2]


def test_selective_merge_empty_changes_is_noop(spark, pstore):
    before = pstore.history()[-1]
    changes = spark.createDataFrame([], CHANGE_SCHEMA)
    pstore.merge(changes, ["id"], "lsn", "__deleted")
    assert pstore.history()[-1] == before  # no new version committed
    assert _rows(pstore.read().select("id", "v")) == [(1, "a"), (2, "b"), (3, "c")]


def test_selective_merge_falls_back_on_hive_unsafe_partition_value(
    spark, tmp_path
):
    # boolean partition values: Python str() gives "True" but the hive
    # writer emits "true" — the computed leaf name would miss the on-disk
    # dir and hardlink a touched partition (row duplication). Must take
    # the full-rewrite path instead.
    schema = "id long, v string, lsn long, flag boolean"
    s = ParquetStateStore(spark, str(tmp_path / "btbl"), partition_cols=["flag"])
    s.overwrite(spark.createDataFrame([(1, "a", 10, True)], schema))
    changes = spark.createDataFrame(
        [(1, "a2", 20, True, "false")], schema + ", __deleted string"
    )
    want = _full_merge(s, changes)
    s.merge(changes, ["id"], "lsn", "__deleted")
    assert _by_name(s.read()) == want
    assert _rows(s.read().select("id", "v")) == [(1, "a2")]
    # string values containing hive-escaped characters likewise
    s2 = ParquetStateStore(spark, str(tmp_path / "stbl"), partition_cols=["v"])
    s2.overwrite(spark.createDataFrame([(1, "a:b", 10, True)], schema))
    ch2 = spark.createDataFrame(
        [(1, "a:b", 20, True, "false")], schema + ", __deleted string"
    )
    want2 = _full_merge(s2, ch2)
    s2.merge(ch2, ["id"], "lsn", "__deleted")
    assert _by_name(s2.read()) == want2
    assert _rows(s2.read().select("id", "lsn")) == [(1, 20)]


def test_partitioned_named_store_commits_empty_snapshot(spark, tmp_path):
    """Deleting every row of a partitioned, catalog-named store commits a
    snapshot with no data file; the catalog view must still resolve, typed
    from the stored schema, instead of failing schema inference after the
    version pointer has already flipped."""
    s = ParquetStateStore(
        spark, str(tmp_path / "etbl"), partition_cols=["year"],
        table_name="k2d_empty.t1",
    )
    s.overwrite(spark.createDataFrame([(1, "a", 10, 2023)], SCHEMA))
    changes = spark.createDataFrame([(1, "a", 20, 2023, "true")], CHANGE_SCHEMA)
    s.merge(changes, ["id"], "lsn", "__deleted")
    assert s.history() == [1, 2]
    view = spark.table("k2d_empty.t1")
    assert view.count() == 0
    assert view.schema == s.read().schema


def test_read_changes_change_data_feed(spark, store):
    """Delta CDF parity: insert / delete / update pre+post images between
    two retained versions."""
    store.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, n long"
        )
    )
    store.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "B", 25), (4, "d", 40)], "id long, v string, n long"
        )
    )
    out = store.read_changes(1, 2, ["id"])
    rows = {(r["id"], r["_change_type"]): (r["v"], r["n"]) for r in out.collect()}
    assert rows == {
        (4, "insert"): ("d", 40),
        (3, "delete"): ("c", 30),
        (2, "update_preimage"): ("b", 20),
        (2, "update_postimage"): ("B", 25),
    }
    # unchanged row (id=1) emits nothing
    assert out.count() == 4


def test_read_changes_null_safe_comparison(spark, store):
    """NULL -> value and value -> NULL transitions are updates (the
    null-safe comparison catches both); NULL -> NULL is unchanged."""
    store.overwrite(
        spark.createDataFrame(
            [(1, None), (2, "x"), (3, None)], "id long, v string"
        )
    )
    store.overwrite(
        spark.createDataFrame(
            [(1, "now"), (2, None), (3, None)], "id long, v string"
        )
    )
    out = store.read_changes(1, 2, ["id"]).collect()
    kinds = sorted((r["id"], r["_change_type"]) for r in out)
    assert kinds == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (2, "update_postimage"),
        (2, "update_preimage"),
    ]


def test_read_changes_across_optimize_is_empty(spark, store):
    """Compaction is content-neutral: the change feed across an OPTIMIZE
    version must be empty (a consumer chained on changes sees nothing)."""
    store.overwrite(
        spark.createDataFrame([(i, i % 3) for i in range(50)], "id long, k long")
        .repartition(8)
    )
    store.optimize(target_files=1)
    assert store.read_changes(1, 2, ["id"]).count() == 0
