"""K3/K5: splayed JSON file sink (FileOutput.kt:16-37).

Contract: path = ``dir/<first-4-hex-of-sha256(height)>/<height lpad 10>.json``,
content = the StreamBlock as JSON, **idempotent** (skip if the file exists —
FileOutput.kt:32-35).  Combined with the streaming offset log this gives
effectively-once output across restarts.

The path/payload computation (sha2, lpad, to_json) is JVM-side; only the
small per-file writes run in Python, in at most one task per core: a Python
task's fixed cost outweighs a few dozen small writes, so the frame is
coalesced to the session's parallelism first (in a streaming flow that folds
the post-dedup state partitions into one wave of tasks).  At real scale one
file per block is the contract (the reference does exactly this); a lake-
friendly alternative is ``partitionBy(splay)`` parquet, which callers get by
writing ``splay_frame(df)`` with the normal file sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_stream_spark.functions import splay_filename, splay_key


def splay_frame(stream_blocks: DataFrame) -> DataFrame:
    """(splay, fname, payload) — all computed in codegen."""
    return stream_blocks.select(
        splay_key("height").alias("splay"),
        splay_filename("height").alias("fname"),
        F.to_json(F.struct(*stream_blocks.columns)).alias("payload"),
    )


def write_splayed_json_batch(
    batch_df: DataFrame, out_dir: str, *, chaos_flag: str | None = None
) -> None:
    """foreachBatch body: write one file per block, skipping existing
    files.  ``chaos_flag`` is the task-retry fault-injection seam
    (:mod:`event_stream_spark.chaos` / ``scripts/chaos_sinks.py``)."""
    frame = splay_frame(batch_df)

    def write_partition(rows) -> None:
        from event_stream_spark.chaos import claim_once

        for row in rows:
            d = os.path.join(out_dir, row["splay"])
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{row['fname']}.json")
            if os.path.exists(path):  # idempotence (FileOutput.kt:32-35)
                continue
            tmp = f"{path}.tmp"
            with open(tmp, "w") as fh:
                fh.write(row["payload"])
            os.replace(tmp, path)
            # chaos fires AFTER a file landed: the retry must absorb a
            # partially written partition (skip-if-exists is the proof)
            claim_once(chaos_flag)

    parallelism = batch_df.sparkSession.sparkContext.defaultParallelism
    frame.coalesce(parallelism).foreachPartition(write_partition)


def splayed_json_sink(stream_blocks: DataFrame, out_dir: str, checkpoint: str):
    """Streaming writer wired through foreachBatch."""
    return (
        stream_blocks.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(lambda df, _id: write_splayed_json_batch(df, out_dir))
    )


def write_kafka_fed_splay_batch(kafka_records: DataFrame, out_dir: str) -> None:
    """K5: Kafka-fed file sink — StreamBlock JSON consumed off a topic frame
    (S9 decode) splayed to the K3 file contract.  The reference's
    ``KafkaFileOutput`` composition: KafkaBlockSource → FileOutput.  Corrupt
    records are dropped (the SerializationException path); output files are
    byte-compatible with the direct K3 path because both serialize through
    ``to_json`` of the same STREAM_BLOCK struct."""
    from event_stream_spark.sources.kafka import decode_kafka_records

    blocks = decode_kafka_records(kafka_records, drop_corrupt=True).select("block.*")
    write_splayed_json_batch(blocks, out_dir)


def kafka_fed_splay_sink(kafka_records: DataFrame, out_dir: str, checkpoint: str):
    """Streaming form of K5 (topic → files, checkpointed)."""
    return (
        kafka_records.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(lambda df, _id: write_kafka_fed_splay_batch(df, out_dir))
    )
