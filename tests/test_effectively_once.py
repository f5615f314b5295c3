"""Effectively-once delivery: batch-id ledger + per-batch overwrite
transport make checkpoint-replayed batches harmless (strictly stronger
than the reference's at-most-once fire-and-forget POST,
app.rb:229-234,258-262).  All through the one starter
``start_webhook_query`` and its ``webhook_foreach_batch`` /
``parquet_transport`` defaults."""

import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException

from nomad_event_streamer_spark.sources.synthetic import sample_stream
from nomad_event_streamer_spark.streaming.pipeline import task_event_pipeline
from nomad_event_streamer_spark.streaming.runner import (
    build_stream,
    read_ndjson_stream,
    start_webhook_query,
)
from nomad_event_streamer_spark.streaming.sinks import (
    discord_payload,
    effectively_once,
    parquet_transport,
    webhook_foreach_batch,
)


def _input(tmp_path, n):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(sample_stream(n)) + "\n")
    return str(input_dir)


def _dupes(out):
    return (
        out.groupBy("task_identifier", "event_time_ns")
        .count()
        .where(F.col("count") > 1)
        .count()
    )


def test_ledger_skips_replayed_batch(tmp_path, spark):
    calls = []

    def body(batch, batch_id):
        calls.append(batch_id)

    wrapped = effectively_once(body, str(tmp_path / "ledger"))
    df = spark.range(3)
    wrapped(df, 7)
    wrapped(df, 7)  # replay: must be skipped
    wrapped(df, 8)
    assert calls == [7, 8]


def test_overwrite_transport_replay_no_duplicates(tmp_path, spark):
    """Delivering the same batch twice (crash between delivery and
    ledger write) rewrites the same files instead of appending."""
    classified = build_stream(read_ndjson_stream(spark, _input(tmp_path, 4)))

    # run once through the streaming engine to produce a real batch,
    # capturing the batch DataFrame contents via the transport
    process = webhook_foreach_batch(
        parquet_transport(str(tmp_path / "out")),
        destinations=("discord",),
    )
    q = (
        classified.writeStream.foreachBatch(
            lambda b, bid: (process(b, bid), process(b, bid))  # deliver twice
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out" / "discord"))
    assert out.count() > 0 and _dupes(out) == 0


def test_end_to_end_restart_no_duplicates(tmp_path, spark):
    """Full query, run twice over the same checkpoint (second start
    is the recovery/no-new-data case): output stays duplicate-free."""
    input_dir = _input(tmp_path, 5)
    for _ in range(2):
        stream = read_ndjson_stream(spark, input_dir)
        q = start_webhook_query(
            build_stream(stream),
            checkpoint_dir=str(tmp_path / "ckpt"),
            output_dir=str(tmp_path / "out"),
        )
        q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out" / "discord"))
    assert out.count() > 0 and _dupes(out) == 0


def test_fault_after_delivery_before_ledger_marker(tmp_path, spark):
    """Batch 0 is delivered to both destinations, then the transport
    raises before the ledger marker is written.  A restart on the same
    checkpoint redelivers batch 0 into its own partition: the output is
    complete and duplicate-free."""
    input_dir = _input(tmp_path, 6)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    inner = parquet_transport(out)

    def deliver_then_crash(payloads, destination):
        inner(payloads, destination)
        if destination == "slack":
            raise RuntimeError("injected fault after delivery")

    q = start_webhook_query(
        build_stream(read_ndjson_stream(spark, input_dir)),
        ckpt,
        out,
        transport=deliver_then_crash,
    )
    with pytest.raises(StreamingQueryException, match="injected fault"):
        q.awaitTermination(120)
    assert os.path.isdir(os.path.join(out, "discord", "batch_id=0"))
    assert not os.path.exists(os.path.join(ckpt, "ledger", "batch-0.done"))

    q = start_webhook_query(
        build_stream(read_ndjson_stream(spark, input_dir)), ckpt, out
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert os.path.exists(os.path.join(ckpt, "ledger", "batch-0.done"))

    # oracle: the same lines through the batch payload projection (the
    # fixture has no duplicates, so skipping the stream dedup is neutral)
    want = {
        r["payload"]
        for r in discord_payload(
            task_event_pipeline(spark.read.text(input_dir))
        ).collect()
    }
    got = spark.read.parquet(os.path.join(out, "discord"))
    assert want and got.count() == len(want) and _dupes(got) == 0
    assert {r["payload"] for r in got.select("payload").collect()} == want


def test_fresh_checkpoint_redelivers_batch_0(tmp_path, spark):
    """The ledger shares the checkpoint's lifetime: after the checkpoint
    is reset, batch ids restart at 0 and batch 0 is delivered again
    instead of being skipped by a marker left over from the old run."""
    input_dir = _input(tmp_path, 4)
    ckpt = str(tmp_path / "ckpt")
    for run in range(2):
        q = start_webhook_query(
            build_stream(read_ndjson_stream(spark, input_dir)),
            ckpt,
            str(tmp_path / f"out{run}"),
        )
        q.awaitTermination(120)
        shutil.rmtree(ckpt)

    assert os.path.isdir(str(tmp_path / "out1" / "discord" / "batch_id=0"))
    first, second = (
        spark.read.parquet(str(tmp_path / f"out{run}" / "discord"))
        for run in (0, 1)
    )
    assert second.count() == first.count() > 0


def test_replay_after_ledger_marker_is_skipped(tmp_path, spark):
    """Crash after the ledger marker, before Spark's commit log entry:
    the restart replays the last batch, the ledger skips its delivery,
    and the skipped batch is still processed (Spark fails a stateful
    batch that foreachBatch left unprocessed)."""
    input_dir = _input(tmp_path, 4)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    calls = []
    inner = parquet_transport(out)

    def recording(payloads, destination):
        calls.append(destination)
        inner(payloads, destination)

    def run():
        q = start_webhook_query(
            build_stream(read_ndjson_stream(spark, input_dir)),
            ckpt,
            out,
            transport=recording,
        )
        q.awaitTermination(120)
        return q

    assert run().exception() is None
    delivered = spark.read.parquet(os.path.join(out, "discord")).count()
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    assert os.path.exists(os.path.join(ckpt, "ledger", f"batch-{last}.done"))

    calls.clear()
    q = run()
    assert q.exception() is None
    assert calls == []
    assert os.path.exists(os.path.join(commits, str(last)))
    got = spark.read.parquet(os.path.join(out, "discord"))
    assert got.count() == delivered > 0 and _dupes(got) == 0
