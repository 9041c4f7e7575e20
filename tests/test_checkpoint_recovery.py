"""Fault tolerance: restart from checkpoint must be exactly-once.

Reference relies on Flink's 30 s checkpoints (StreamJob.java:199);
Spark checkpoints every micro-batch. This test stops the rollup query
mid-stream, delivers the rest of the data, restarts against the SAME
checkpoint and sink, and asserts the final table equals the batch truth
with no duplicated windows."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from realtime_event_streaming_spark.sources.clickgen import (
    as_json_records,
    generate_clicks,
    write_stream_fixture,
)
from realtime_event_streaming_spark.streaming.agg import (
    EXACT_WATERMARK,
    minute_rollup_batch,
    minute_rollup_stream_exact,
    write_rollup,
)
from realtime_event_streaming_spark.streaming.ingest import (
    parse_clicks,
    read_json_file_stream,
)


_PROVIDERS = [
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
]


@pytest.mark.parametrize("provider", _PROVIDERS, ids=["hdfs", "rocksdb"])
def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path, provider):
    """Both state-store providers (the in-memory default and RocksDB —
    the 100 TB deployment choice for large keyed state) recover
    exactly-once from the same mid-stream restart. The provider class is
    pinned into the checkpoint at first run; each param uses its own
    tmp_path so the two never mix."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        _run_recovery_scenario(spark, tmp_path)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_restart_keeps_checkpointed_partition_count(spark, tmp_path):
    """A stateful query's shuffle-partition count is fixed in its
    checkpoint at first start. Phase 1 runs with 8 partitions; the
    restart runs under the session default (one per local core) and
    must still run 8 state partitions, exactly-once."""
    key = "spark.sql.shuffle.partitions"

    def phase1(run_once):
        old = spark.conf.get(key)
        spark.conf.set(key, "8")
        try:
            run_once()
        finally:
            spark.conf.set(key, old)

    restarted = _run_recovery_scenario(spark, tmp_path, phase1=phase1)
    (op,) = restarted.lastProgress["stateOperators"]
    assert op["numShufflePartitions"] == 8
    state = tmp_path / "ck" / "state" / "0"
    assert sorted(int(p) for p in os.listdir(state) if p.isdigit()) == list(range(8))


def _run_recovery_scenario(spark, tmp_path, phase1=lambda run_once: run_once()):
    """Stop mid-stream, deliver the rest, restart on the same checkpoint
    and sink; returns the restarted query. ``phase1`` runs the first
    start (a hook for confs that only the first start sees)."""
    d = str(tmp_path)
    clicks = generate_clicks(spark, n_events=3000, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, d + "/all", n_files=6)
    parts = sorted(p for p in os.listdir(d + "/all") if p.startswith("part-"))
    os.makedirs(d + "/in")
    for p in parts[:3]:
        shutil.copy2(os.path.join(d + "/all", p), os.path.join(d + "/in", p))

    def run_once():
        stream = parse_clicks(
            read_json_file_stream(spark, d + "/in"), watermark=EXACT_WATERMARK
        )
        q = write_rollup(
            minute_rollup_stream_exact(stream),
            d + "/agg",
            d + "/ck",
            trigger={"availableNow": True},
        )
        q.awaitTermination(300)
        return q

    phase1(run_once)
    n_phase1 = spark.read.parquet(d + "/agg").count()
    assert n_phase1 > 0, "phase 1 should finalize some windows"

    for p in parts[3:]:
        shutil.copy2(os.path.join(d + "/all", p), os.path.join(d + "/in", p))
    restarted = run_once()

    emitted = spark.read.parquet(d + "/agg").drop("month")
    truth = minute_rollup_batch(parse_clicks(as_json_records(clicks)))
    joined = emitted.alias("s").join(
        truth.alias("b"), ["window_start", "page", "country"]
    )
    mism = joined.where(
        (F.col("s.cnt") != F.col("b.cnt"))
        | (F.col("s.unique_users") != F.col("b.unique_users"))
    ).count()
    dups = (
        emitted.groupBy("window_start", "page", "country")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert emitted.count() > n_phase1, "restart must process the new files"
    assert mism == 0, "restarted query diverged from batch truth"
    assert dups == 0, "restart double-emitted windows"
    return restarted
