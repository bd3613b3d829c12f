#!/usr/bin/env python3
"""Self-tests of the benchmark's own checks (not of the engine).

    python3 perfbench/selftest.py

1. The CDC state check reports a state with one corrupted row as one
   failed operation, and a correct state (catch-up and snapshot shapes,
   including same-LSN tie-breaks) as none.
2. The job counter sees a streaming query's micro-batch jobs: at least one
   job per micro-batch, for a CDC stream and for a registered streaming
   query, whose batches run on the stream's own thread.
3. The model's xxhash64 equals Spark's on CDC rows.

Exits 0 when every test passes.
"""

from __future__ import annotations

import dataclasses
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_state_check(spark, ws) -> None:
    from pyspark.sql import functions as F

    from kafka2delta_spark import ParquetStateStore
    from perfbench import cdc

    catchup = dataclasses.replace(
        cdc.CATCHUP, keys=3000, seeded_rows=3000, events_per_trigger=600,
        max_triggers=3, drain_all=True, warmup_triggers=0)
    snapshot = dataclasses.replace(
        cdc.SNAPSHOT, keys=4000, events_per_trigger=2000, same_lsn_dup_share=0.05,
        warmup_triggers=0)
    for shape in (catchup, snapshot):
        sr = cdc.StreamRun(spark, ws.path(shape.name), shape, seed=11, seconds=0,
                           cores=2)
        res = sr.run()
        applied = len(res["walls"])
        assert applied == len(sr.events), (shape.name, applied)
        bad, model = sr.check(applied)
        assert bad == 0, f"{shape.name}: correct state reported {bad} mismatches"
        if shape is snapshot:
            assert model.counts["rows_in"] > model.counts["rows_out"], "no tie-break ran"
        # corrupt exactly one row and check again
        store = ParquetStateStore(spark, sr.store_path, [])
        victim = store.read().agg(F.min("id")).collect()[0][0]
        corrupted = store.read().withColumn(
            "name",
            F.when(F.col("id") == victim, F.lit("corrupted")).otherwise(F.col("name")),
        )
        store.overwrite(corrupted.localCheckpoint())
        bad, _ = sr.check(applied)
        assert bad == 1, f"{shape.name}: one corrupted row reported as {bad}"
    print("PASS state check: correct state 0 failed, one corrupted row 1 failed")


def test_stream_job_count(spark, ws) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    from kafka2delta_spark.queryset import QUERIES, load_all_querysets
    from perfbench import harness, tables

    class Batches(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches = 0
            self.terminated = threading.Event()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.batches += 1

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.set()

    load_all_querysets()
    sf_dir = ws.path("sf")
    tables.generate(sf_dir, 0.001, seed=3)
    counter = harness.SparkCounter(spark)
    listener = Batches()
    spark.streams.addListener(listener)
    sc = spark.sparkContext
    try:
        mark = counter.mark()
        sc.setJobGroup("perfbench-selftest", "caller-thread job group")
        QUERIES["q53_stream_tumbling_counts"](spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
        listener.terminated.wait(30)
        time.sleep(1)  # progress events are delivered asynchronously
        jobs, tasks = counter.since(mark)
        group_jobs = len(sc.statusTracker().getJobIdsForGroup("perfbench-selftest"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.streams.removeListener(listener)
    assert listener.batches >= 1, "q53 ran no micro-batch"
    assert jobs >= listener.batches, f"{jobs} jobs < {listener.batches} micro-batches"
    assert jobs >= group_jobs, f"counter saw {jobs} jobs, the job group {group_jobs}"
    print(f"PASS job count: q53 {listener.batches} micro-batches, {jobs} jobs "
          f"({group_jobs} in the caller's job group), {tasks} tasks")


def test_cdc_trigger_job_count(spark, ws) -> None:
    from perfbench import cdc, harness

    shape = dataclasses.replace(cdc.CATCHUP, keys=2000, seeded_rows=2000,
                       events_per_trigger=400, max_triggers=3, drain_all=True,
                       warmup_triggers=0)
    sr = cdc.StreamRun(spark, ws.path("jobs"), shape, seed=5, seconds=0, cores=2)
    res = sr.run(tracer=harness.Tracer("selftest", harness.SparkCounter(spark)))
    jobs = [c[0] for c in res["counts"]]
    assert len(jobs) == 3 and min(jobs) >= 1, jobs
    print(f"PASS job count: CDC jobs per trigger {jobs}")


def test_xxhash(spark) -> None:
    from pyspark.sql import functions as F

    from kafka2delta_spark.cdc.avro_codec import avro_schema_to_spark
    from perfbench import cdc
    from perfbench.xxh64 import spark_xxhash64

    rows = [
        tuple(cdc.row_values(i, lsn, d, v))
        for i, lsn, d, v in [(0, 1, False, 0), (7, 5_000_000, False, 1),
                             (999_999, 10_000_123, True, 0), (123_456, 42, False, 1)]
    ]
    df = spark.createDataFrame(rows, avro_schema_to_spark(cdc.VALUE_SCHEMA))
    got = [r[0] for r in df.select(F.xxhash64(*df.columns)).collect()]
    want = [spark_xxhash64(list(r), cdc.ROW_KINDS) for r in rows]
    assert got == want, (got, want)
    print("PASS xxhash64 matches Spark")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import harness

    ws = harness.Workspace(ROOT, "selftest")
    harness.pin_environment(ws, 2)
    spark = harness.start_session(ws, 2)
    failures = 0
    try:
        for test in (test_xxhash, test_state_check, test_cdc_trigger_job_count,
                     test_stream_job_count):
            try:
                test(spark) if test is test_xxhash else test(spark, ws)
            except Exception as exc:  # noqa: BLE001 - report every test
                failures += 1
                print(f"FAIL {test.__name__}: {exc!r}")
    finally:
        harness.stop_session(spark)
        ws.cleanup()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
