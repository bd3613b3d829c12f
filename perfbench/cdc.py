"""CDC workloads: ``cdc_catchup`` and ``cdc_snapshot``.

Both drive ``stream_to_delta`` over a file source standing in for Kafka,
one Confluent-envelope parquet file per trigger (the reference's one
partition per topic), closed loop: the next file is published only after
the previous trigger has committed. Inputs come from the seed alone; the
final state is checked row by row against a model of the engine's
documented merge contract.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import harness
from perfbench.xxh64 import spark_xxhash64

TOPIC = "postgres.public.users"
KAFKA_SCHEMA = (
    "topic string, partition int, offset long, timestamp timestamp, "
    "timestampType int, key binary, value binary"
)
VALUE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "users",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "name", "type": "string"},
            {"name": "email", "type": "string"},
            {"name": "created_at", "type": {"type": "int", "logicalType": "date"}},
            {"name": "__deleted", "type": ["null", "string"], "default": None},
            {"name": "__timestamp", "type": ["null", "long"], "default": None},
            {"name": "__log_sequence_number", "type": ["null", "long"], "default": None},
        ],
    }
)
KEY_SCHEMA = json.dumps(
    {"type": "record", "name": "k", "fields": [{"name": "id", "type": "int"}]}
)
# Column kinds of the decoded, cast row in schema order (for the model's
# xxhash64 tie-break).
ROW_KINDS = ["int", "string", "string", "date", "string", "long", "long"]
STATE_COLS = ["name", "email", "created_at", "__timestamp", "__log_sequence_number"]

_EPOCH = dt.date(1970, 1, 1)
BASE_DATE = dt.date(2020, 1, 1)
DATE_SPAN = 1500
TS_BASE = 1_700_000_000_000
EVENT_LSN0 = 10_000_000  # above every seeded row's LSN (its id)
SNAPSHOT_LSN = 5_000_000


@dataclass(frozen=True)
class Shape:
    """Input properties of one CDC workload (see README.md for why)."""

    name: str
    keys: int  # primary-key space
    seeded_rows: int  # rows written through ParquetStateStore.overwrite
    events_per_trigger: int
    delete_share: float
    redeliver_share: float  # copies of the previous trigger's events
    same_lsn_dup_share: float  # second, different row for a key at its LSN
    max_triggers: int  # backlog generated
    drain_all: bool  # load every trigger, else a count set by --seconds
    warmup_triggers: int
    replay_triggers: int  # triggers replayed layer by layer when traced
    nominal_trigger_s: float = 2.0  # sizes the timed trigger count


def timed_triggers(shape: Shape, seconds: float) -> int:
    """Timed triggers in a run: every trigger after the warm-up for a
    drain-all shape, else ``seconds`` worth at the nominal trigger time.
    A fixed count (not a deadline) keeps each run's sample the same size;
    with a deadline the count flips between runs when triggers last about
    ``seconds / k``, and the still-warming triggers it adds or drops move
    the median."""
    if shape.drain_all:
        return shape.max_triggers - shape.warmup_triggers
    return max(1, round(seconds / shape.nominal_trigger_s))


CATCHUP = Shape(
    name="cdc_catchup",
    keys=500_000,
    seeded_rows=500_000,
    events_per_trigger=20_480,
    delete_share=0.02,
    redeliver_share=0.01,
    same_lsn_dup_share=0.0,
    max_triggers=40,
    drain_all=False,
    warmup_triggers=3,
    replay_triggers=2,
)
SNAPSHOT = Shape(
    name="cdc_snapshot",
    keys=200_000,
    seeded_rows=0,
    events_per_trigger=100_000,
    delete_share=0.0,
    redeliver_share=0.0,
    same_lsn_dup_share=0.001,
    max_triggers=3,
    drain_all=True,
    warmup_triggers=1,
    replay_triggers=1,
)
SHAPES = {s.name: s for s in (CATCHUP, SNAPSHOT)}


# -- inputs ------------------------------------------------------------------


@dataclass
class Events:
    """One trigger's change events, as the model sees them."""

    ids: np.ndarray  # int64
    lsn: np.ndarray  # int64
    deleted: np.ndarray  # bool
    variant: np.ndarray  # int8: 1 = the alternative row at the same LSN


def generate(shape: Shape, seed: int, triggers: int) -> list[Events]:
    """The first ``triggers`` triggers of the workload's event sequence
    (a prefix: asking for more triggers does not change earlier ones)."""
    rng = np.random.default_rng([seed, zlib.crc32(shape.name.encode())])
    if shape.seeded_rows:
        return _catchup_events(shape, rng, triggers)
    return _snapshot_events(shape, rng)


def _catchup_events(shape: Shape, rng, triggers: int) -> list[Events]:
    e = shape.events_per_trigger
    out: list[Events] = []
    for t in range(triggers):
        ev = Events(
            ids=rng.integers(0, shape.keys, e, dtype=np.int64),
            lsn=EVENT_LSN0 + t * e + np.arange(e, dtype=np.int64),
            deleted=rng.random(e) < shape.delete_share,
            variant=np.zeros(e, np.int8),
        )
        if out:
            # at-least-once redelivery: byte-identical copies of events
            # the previous trigger already carried (stale by LSN)
            k = int(e * shape.redeliver_share)
            pos = rng.choice(e, k, replace=False)
            src = rng.choice(e, k, replace=False)
            prev = out[-1]
            for name in ("ids", "lsn", "deleted", "variant"):
                getattr(ev, name)[pos] = getattr(prev, name)[src]
        out.append(ev)
    return out


def _snapshot_events(shape: Shape, rng) -> list[Events]:
    keys = rng.permutation(shape.keys).astype(np.int64)
    n_dup = int(shape.keys * shape.same_lsn_dup_share)
    dup = rng.choice(shape.keys, n_dup, replace=False).astype(np.int64)
    ids = np.concatenate([keys, dup])
    variant = np.concatenate([np.zeros(len(keys), np.int8), np.ones(n_dup, np.int8)])
    order = rng.permutation(len(ids))
    ids, variant = ids[order], variant[order]
    # a small first trigger warms the stream up; the rest split evenly
    n_warm = shape.warmup_triggers * shape.events_per_trigger // 50
    n_trig = max(1, round((len(ids) - n_warm) / shape.events_per_trigger))
    idx = np.arange(len(ids))
    parts = [idx[:n_warm]] if n_warm else []
    parts += np.array_split(idx[n_warm:], n_trig)
    out = []
    for part in parts:
        out.append(
            Events(
                ids=ids[part],
                lsn=np.full(len(part), SNAPSHOT_LSN, np.int64),
                deleted=np.zeros(len(part), bool),
                variant=variant[part],
            )
        )
    return out


def _name(i: int, lsn: int, variant: int) -> str:
    return f"u{i}-{lsn}-b" if variant else f"u{i}-{lsn}"


def row_values(i: int, lsn: int, deleted: bool, variant: int) -> list:
    """The decoded row an event carries, in value-schema order."""
    return [
        i,
        _name(i, lsn, variant),
        f"u{i}@example.test",
        BASE_DATE + dt.timedelta(days=i % DATE_SPAN),
        "true" if deleted else "false",
        TS_BASE + lsn,
        lsn,
    ]


# Spark SQL for the same row, from (id, lsn, var): the seeded state and the
# expected final state are built with it.
ROW_SQL = {
    "id": "CAST(id AS INT)",
    "name": "concat('u', id, '-', lsn, IF(var = 1, '-b', ''))",
    "email": "concat('u', id, '@example.test')",
    "created_at": f"date_add(DATE'{BASE_DATE.isoformat()}', CAST(id % {DATE_SPAN} AS INT))",
    "__timestamp": f"{TS_BASE}L + lsn",
    "__log_sequence_number": "lsn",
}


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zigzag(len(b)) + b


def encode_value(row: list) -> bytes:
    """Avro binary of ``VALUE_SCHEMA`` for a ``row_values`` row (union
    branch 1 = the non-null one)."""
    i, name, email, created_at, deleted, ts, lsn = row
    return b"".join(
        (
            _zigzag(i),
            _string(name),
            _string(email),
            _zigzag((created_at - _EPOCH).days),
            b"\x02",
            _string(deleted),
            b"\x02",
            _zigzag(ts),
            b"\x02",
            _zigzag(lsn),
        )
    )


def encode_chunk(args) -> tuple[list[bytes], list[bytes]]:
    """Confluent-envelope key and value bytes for a slice of events."""
    key_sid, value_sid, ids, lsns, dels, vars_ = args
    kprefix = b"\x00" + key_sid.to_bytes(4, "big")
    vprefix = b"\x00" + value_sid.to_bytes(4, "big")
    keys = [kprefix + _zigzag(i) for i in ids]
    values = [
        vprefix + encode_value(row_values(i, l, d, v))
        for i, l, d, v in zip(ids, lsns, dels, vars_)
    ]
    return keys, values


def write_sources(events: list[Events], key_sid: int, value_sid: int,
                  stage: str, cores: int) -> list[str]:
    """Encode every trigger's events (in ``cores`` worker processes) and
    write one parquet file per trigger; returns the paths in order."""
    import multiprocessing as mp
    from concurrent.futures import ProcessPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(stage, exist_ok=True)
    chunks, owners = [], []
    for t, ev in enumerate(events):
        for part in np.array_split(np.arange(len(ev.ids)), cores):
            chunks.append((key_sid, value_sid, ev.ids[part].tolist(),
                           ev.lsn[part].tolist(), ev.deleted[part].tolist(),
                           ev.variant[part].tolist()))
            owners.append(t)
    with ProcessPoolExecutor(cores, mp_context=mp.get_context("spawn")) as pool:
        encoded = list(pool.map(encode_chunk, chunks))
    files = []
    ts = dt.datetime(2024, 3, 1)
    for t, ev in enumerate(events):
        keys = [k for o, (ks, _) in zip(owners, encoded) if o == t for k in ks]
        values = [v for o, (_, vs) in zip(owners, encoded) if o == t for v in vs]
        n = len(keys)
        table = pa.table(
            {
                "topic": pa.array([TOPIC] * n, pa.string()),
                "partition": pa.array(np.zeros(n, np.int32)),
                "offset": pa.array(np.arange(n, dtype=np.int64)),
                "timestamp": pa.array([ts] * n, pa.timestamp("us")),
                "timestampType": pa.array(np.zeros(n, np.int32)),
                "key": pa.array(keys, pa.binary()),
                "value": pa.array(values, pa.binary()),
            }
        )
        path = os.path.join(stage, f"{t:06d}.parquet")
        pq.write_table(table, path)
        files.append(path)
    return files


def seed_state(spark, path: str, rows: int) -> None:
    """Seed the target table through the engine's own snapshot writer."""
    from kafka2delta_spark import ParquetStateStore

    df = spark.range(rows).selectExpr("id", "id AS lsn", "0 AS var")
    df = df.selectExpr(*[f"{sql} AS {c}" for c, sql in ROW_SQL.items()])
    ParquetStateStore(spark, path, []).overwrite(df)


# -- model -------------------------------------------------------------------


class Model:
    """The engine's documented per-trigger contract, replayed on arrays.

    Per trigger: keep one row per key, the max of (LSN, xxhash64 of the
    row); then merge with the LSN guard: a strictly newer change updates or
    deletes, an older or equal one is skipped, an absent key is inserted
    by an upsert and untouched by a delete. A delete drops the key and its
    LSN with it (no tombstones yet), so a stale upsert that arrives after
    the delete re-inserts the key; ``resurrected`` counts those cases so
    the gap stays visible."""

    def __init__(self, keys: int, seeded_rows: int) -> None:
        self.present = np.zeros(keys, bool)
        self.lsn = np.full(keys, -1, np.int64)
        self.var = np.zeros(keys, np.int8)
        self.tomb = np.full(keys, -1, np.int64)
        self.present[:seeded_rows] = True
        self.lsn[:seeded_rows] = np.arange(seeded_rows)
        # every key's row in the state most keys end in: the seeded row
        # when seeded, else the snapshot row (the check ships only the keys
        # that end elsewhere)
        if seeded_rows:
            self.base_lsn = np.arange(keys, dtype=np.int64)
            self.base_lsn_sql = "id"
        else:
            self.base_lsn = np.full(keys, SNAPSHOT_LSN, np.int64)
            self.base_lsn_sql = f"{SNAPSHOT_LSN}L"
        self.counts = dict.fromkeys(
            ("rows_in", "rows_out", "inserted", "updated", "deleted",
             "stale_skipped", "resurrected"), 0)

    def apply(self, ev: Events) -> None:
        tie = np.zeros(len(ev.ids), np.int64)
        order = np.lexsort((ev.lsn, ev.ids))
        sid, slsn = ev.ids[order], ev.lsn[order]
        same = (sid[1:] == sid[:-1]) & (slsn[1:] == slsn[:-1])
        tied = np.unique(np.concatenate([order[1:][same], order[:-1][same]]))
        for j in tied:
            tie[j] = spark_xxhash64(
                row_values(int(ev.ids[j]), int(ev.lsn[j]), bool(ev.deleted[j]),
                           int(ev.variant[j])),
                ROW_KINDS,
            )
        order = np.lexsort((tie, ev.lsn, ev.ids))
        last = np.r_[ev.ids[order][1:] != ev.ids[order][:-1], True]
        w = order[last]
        wid, wl, wd, wv = ev.ids[w], ev.lsn[w], ev.deleted[w], ev.variant[w]
        present = self.present[wid]
        newer = wl > self.lsn[wid]
        ins = ~present & ~wd
        upd = present & newer & ~wd
        dele = present & newer & wd
        c = self.counts
        c["rows_in"] += len(ev.ids)
        c["rows_out"] += len(w)
        c["inserted"] += int(ins.sum())
        c["updated"] += int(upd.sum())
        c["deleted"] += int(dele.sum())
        c["stale_skipped"] += int((present & ~newer).sum())
        c["resurrected"] += int((ins & (self.tomb[wid] > wl)).sum())
        put = ins | upd
        self.present[wid[put]] = True
        self.lsn[wid[put]] = wl[put]
        self.var[wid[put]] = wv[put]
        self.present[wid[dele]] = False
        self.tomb[wid[dele]] = wl[dele]
        self.lsn[wid[dele]] = -1


def count_mismatches(spark, state_df, model: Model) -> int:
    """Rows of ``state_df`` that differ from the model's expected state,
    plus expected rows it lacks and duplicate keys it holds.

    The expected state is every key at the model's baseline (the seeded
    row, or the snapshot row) with the keys whose final row differs from
    the baseline joined in from the model."""
    from pyspark.sql import functions as F

    diff = np.nonzero(~model.present | (model.lsn != model.base_lsn) | (model.var != 0))[0]
    overrides = spark.createDataFrame(
        pd.DataFrame({
            "id": diff,
            "o_present": model.present[diff],
            "o_lsn": model.lsn[diff],
            "o_var": model.var[diff].astype(np.int32),
        })
    )
    expected = (
        spark.range(len(model.present))
        .selectExpr("id", f"{model.base_lsn_sql} AS b_lsn")
        .join(F.broadcast(overrides), "id", "left")
        .where("coalesce(o_present, true)")
        .selectExpr("id", "coalesce(o_lsn, b_lsn) AS lsn", "coalesce(o_var, 0) AS var")
        .selectExpr(*[f"{sql} AS {c}" for c, sql in ROW_SQL.items()])
    )
    s = state_df.select("id", *[F.col(c).alias(f"s_{c}") for c in STATE_COLS])
    e = expected.select("id", *[F.col(c).alias(f"e_{c}") for c in STATE_COLS])
    differs = F.lit(False)
    for c in STATE_COLS:
        differs = differs | ~F.col(f"s_{c}").eqNullSafe(F.col(f"e_{c}"))
    row = (
        s.join(e, "id", "full_outer")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("e_name").isNull().cast("long")).alias("state_only"),
            F.sum(differs.cast("long")).alias("bad"),
        )
        .collect()[0]
    )
    # expected ids are unique, so rows beyond expected + state-only ones
    # are duplicate state keys
    extra = int(row["n"]) - int(model.present.sum()) - int(row["state_only"] or 0)
    return int(row["bad"] or 0) + extra


# -- stream ------------------------------------------------------------------


class StreamRun:
    """One ``stream_to_delta`` query fed one file per trigger."""

    def __init__(self, spark, work_dir: str, shape: Shape, seed: int,
                 seconds: float, cores: int) -> None:
        from kafka2delta_spark import InMemorySchemaRegistry

        self.spark, self.work_dir, self.shape = spark, work_dir, shape
        self.registry = InMemorySchemaRegistry()
        self.key_sid = self.registry.register(KEY_SCHEMA)
        self.value_sid = self.registry.register(VALUE_SCHEMA)
        self.store_path = os.path.join(work_dir, "users")
        self.src = os.path.join(work_dir, "src")
        os.makedirs(self.src, exist_ok=True)
        n = min(shape.max_triggers, shape.warmup_triggers + timed_triggers(shape, seconds))
        self.events = generate(shape, seed, n)
        if shape.seeded_rows:
            seed_state(spark, self.store_path, shape.seeded_rows)
        self.files = write_sources(
            self.events, self.key_sid, self.value_sid,
            os.path.join(work_dir, "stage"), cores,
        )

    def snapshot_store(self, dst: str) -> None:
        """Hard-link copy of the store as it is now (for the layer replay)."""
        if os.path.isdir(self.store_path):
            shutil.copytree(self.store_path, dst, copy_function=os.link)

    def run(self, tracer=None) -> dict:
        from kafka2delta_spark import TableConfig, stream_to_delta

        spark, shape = self.spark, self.shape
        source = (
            spark.readStream.schema(KAFKA_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        cfg = TableConfig("cdc", "users", self.store_path)
        q = stream_to_delta(
            spark, "perfbench_cdc", "unused:9092", [TOPIC], {TOPIC: cfg},
            os.path.join(self.work_dir, "ckpt"), self.registry, source_df=source,
            store_backend="parquet",
        )
        walls: list[float] = []
        counts: list[tuple[int, int]] = []
        published: list[str] = []
        failed_events = 0
        timed_start = None
        try:
            for k, f in enumerate(self.files):
                if k == shape.warmup_triggers:
                    timed_start = time.perf_counter()
                dst = os.path.join(self.src, f"{k:06d}.parquet")
                os.rename(f, dst)
                published.append(dst)
                t0 = time.perf_counter()
                try:
                    if tracer:
                        with tracer.span("streaming.stream.trigger", trigger=k) as rec:
                            q.processAllAvailable()
                        counts.append((rec["jobs"], rec["tasks"]))
                    else:
                        q.processAllAvailable()
                except Exception:  # noqa: BLE001 - a failed trigger is a failed op
                    failed_events += len(self.events[k].ids)
                    break
                walls.append(time.perf_counter() - t0)
            timed_s = time.perf_counter() - timed_start if timed_start else 0.0
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
        finally:
            q.stop()
        return {
            "walls": walls,
            "counts": counts,
            "published": published,
            "failed_events": failed_events,
            "timed_s": timed_s,
            "progress": progress,
        }

    def check(self, applied: int) -> tuple[int, Model]:
        """Mismatching rows between the final state and the model after the
        first ``applied`` triggers."""
        from kafka2delta_spark import ParquetStateStore

        model = Model(self.shape.keys, self.shape.seeded_rows)
        for ev in self.events[:applied]:
            model.apply(ev)
        state = ParquetStateStore(self.spark, self.store_path, []).read()
        if state is None:
            return int(model.present.sum()), model
        return count_mismatches(self.spark, state, model), model


# -- layer replay (traced runs) ---------------------------------------------


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000.0


def replay_layers(spark, files: list[str], store_path: str, tracer) -> dict:
    """Replay triggers through the public layer functions on a copy of the
    store. Each layer's self time is the difference between consecutive
    materialized prefixes; decode is cached once so later prefixes do not
    decode again."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kafka2delta_spark import (
        ParquetStateStore,
        cast_debezium_columns,
        latest_per_key,
        merge_cdc_batch,
        parse_confluent_envelope,
    )
    from kafka2delta_spark.cdc.avro_codec import decode_avro
    from kafka2delta_spark.config import DELETED_COL, LSN_COL

    store = ParquetStateStore(spark, store_path, [])
    per: dict[str, list[float]] = {}

    def add(k: str, v: float) -> None:
        per.setdefault(k, []).append(v)

    for f in files:
        with tracer.span("cdc.replay_trigger", file=os.path.basename(f)):
            raw = spark.read.schema(KAFKA_SCHEMA).parquet(f)
            with tracer.span("scan"):
                t_scan = _noop(raw)
            parsed = parse_confluent_envelope(raw)
            with tracer.span("cdc.wire.parse_confluent_envelope"):
                t_parse = _noop(parsed)
            decoded = decode_avro(
                parsed.select("value_avro"), "value_avro", VALUE_SCHEMA, mode="FAILFAST"
            ).persist(StorageLevel.MEMORY_AND_DISK)
            with tracer.span("cdc.avro_codec.decode_avro") as rec:
                t0 = time.perf_counter()
                rows_in = decoded.count()
                t_decode = (time.perf_counter() - t0) * 1000.0
            decode_tasks = rec["tasks"]
            with tracer.span("cached_scan"):
                t_cached = _noop(decoded)
            typed = decoded.select(*cast_debezium_columns(VALUE_SCHEMA))
            with tracer.span("cdc.debezium.cast_debezium_columns"):
                t_cast = _noop(typed)
            latest = latest_per_key(typed, ["id"], LSN_COL, tie_break_hash=True)
            with tracer.span("cdc.dedup.latest_per_key"):
                t_dedup = _noop(latest)
            state = store.read()
            merged = merge_cdc_batch(state, latest, ["id"], LSN_COL, DELETED_COL)
            with tracer.span("cdc.merge.merge_cdc_batch"):
                t_merge = _noop(merged)
            # merge outcome counts against the pre-commit state
            lat = latest.select("id", F.col(LSN_COL).alias("c_lsn"),
                                (F.col(DELETED_COL) == "true").alias("is_del"))
            if state is None:
                j = lat.withColumn("s_lsn", F.lit(None).cast("long"))
            else:
                j = lat.join(state.select("id", F.col(LSN_COL).alias("s_lsn")), "id", "left")
            has, newer = F.col("s_lsn").isNotNull(), F.col("c_lsn") > F.col("s_lsn")
            oc = j.agg(
                F.count(F.lit(1)).alias("rows_out"),
                F.sum((~has & ~F.col("is_del")).cast("long")).alias("inserted"),
                F.sum((has & newer & ~F.col("is_del")).cast("long")).alias("updated"),
                F.sum((has & newer & F.col("is_del")).cast("long")).alias("deleted"),
                F.sum((has & ~newer).cast("long")).alias("stale"),
            ).collect()[0]
            with tracer.span("state.store.overwrite"):
                t0 = time.perf_counter()
                store.overwrite(merged)
                t_commit = (time.perf_counter() - t0) * 1000.0
            decoded.unpersist()
            state_rows = store.read().count()
            vdir = store._dir(store._version())
            written = sum(
                os.path.getsize(os.path.join(d, x))
                for d, _, xs in os.walk(vdir) for x in xs
            )
            changed = oc["inserted"] + oc["updated"] + oc["deleted"]
            add("wire.parse_ms", t_parse - t_scan)
            add("avro_codec.decode_ms", t_decode)
            add("avro_codec.decode_tasks", decode_tasks)
            add("avro_codec.decode_events_per_s", rows_in / max(t_decode / 1000.0, 1e-9))
            add("debezium.cast_ms", t_cast - t_cached)
            add("dedup.latest_ms", t_dedup - t_cast)
            add("dedup.rows_in", rows_in)
            add("dedup.rows_out", oc["rows_out"])
            add("merge.merge_ms", t_merge - t_dedup)
            add("merge.rows_inserted", oc["inserted"])
            add("merge.rows_updated", oc["updated"])
            add("merge.rows_deleted", oc["deleted"])
            add("merge.rows_stale_skipped", oc["stale"])
            add("store.commit_ms", t_commit - t_merge)
            add("store.state_rows", state_rows)
            add("store.bytes_written_per_trigger", written)
            add("store.rows_written_per_changed_row", state_rows / max(changed, 1))
    sums = {"dedup.rows_in", "dedup.rows_out", "merge.rows_inserted",
            "merge.rows_updated", "merge.rows_deleted", "merge.rows_stale_skipped"}
    return {k: (sum(v) if k in sums else harness.median(v)) for k, v in per.items()}


# -- workload entry ----------------------------------------------------------


def run(spark, ws, shape: Shape, seed: int, seconds: float, trace: bool,
        cores: int, t_start: float) -> dict:
    sr = StreamRun(spark, ws.dir, shape, seed, seconds, cores)
    setup_s = time.perf_counter() - t_start
    tracer = (
        harness.Tracer(f"{shape.name}-s{seed}", harness.SparkCounter(spark))
        if trace else None
    )
    replay_store = ws.path("replay_users")
    if trace:
        sr.snapshot_store(replay_store)
    res = sr.run(tracer)
    applied = len(res["walls"])
    mismatches, model = sr.check(applied)
    attempted = sum(len(e.ids) for e in sr.events[: len(res["published"])])
    failed = res["failed_events"] + mismatches

    timed_walls = res["walls"][shape.warmup_triggers:]
    timed_events = sum(
        len(e.ids) for e in sr.events[shape.warmup_triggers:applied]
    )
    events_per_s = timed_events / res["timed_s"] if res["timed_s"] else 0.0
    tail_v, tail_p, tail_n = harness.tail(timed_walls) if timed_walls else (0.0, 0.0, 0)
    out = {
        "setup_s": setup_s,
        "throughput_per_s": events_per_s,
        "op_p50_s": harness.median(timed_walls),
        "op_tail_s": tail_v,
        "loop_s": res["timed_s"],
        "trace_overhead_s": tracer.overhead_s if tracer else 0.0,
        "attempted": attempted,
        "failed": failed,
        "state_mismatches": mismatches,
        "events_per_s": events_per_s,
        "trigger_p50_s": harness.median(timed_walls),
        "trigger_tail": {"value": tail_v, "percentile": tail_p, "samples": tail_n},
        "triggers_applied": applied,
        "trigger_walls_s": res["walls"],
        "model": model.counts,
    }
    if not trace:
        return out

    timed_progress = [p for p in res["progress"] if p.batchId >= shape.warmup_triggers]
    dur = [p.durationMs for p in timed_progress]
    first = [p.durationMs for p in res["progress"] if p.batchId == 0]
    timed_counts = res["counts"][shape.warmup_triggers:]
    layers = {
        "stream.add_batch_ms_p50": harness.median([d.get("addBatch", 0) for d in dur]),
        "stream.shell_ms_p50": harness.median(
            [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur]
        ),
        "stream.first_trigger_ms": first[0].get("triggerExecution", 0) if first else 0,
        "stream.jobs_per_trigger": harness.median([c[0] for c in timed_counts]),
        "stream.tasks_per_trigger": harness.median([c[1] for c in timed_counts]),
    }
    layers.update(
        replay_layers(spark, res["published"][: shape.replay_triggers], replay_store,
                      tracer)
    )
    out["layers"] = layers
    out["tracer"] = tracer
    return out
