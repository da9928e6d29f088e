"""Batch sinks + delivery retry (SURVEY.md §2.1 S4/S6/S7 analogs).

The reference's sinks are: Delta streaming tables (kinesis.py:232-236 —
covered by streaming.write_stream_append), a Kafka REST proxy POST
(batch_emul.py:69-83), and a Kinesis REST PUT with 3 retries and
2**attempt exponential backoff (stream_emul.py:47-72). Here:

  * ``write_table`` — columnar batch sink (parquet; ``fmt="delta"``
    works unchanged where delta-spark ships). ``partition_by`` is the
    scale lever: at 100 TB, partitioning by a date-ish key is what
    makes downstream partition pruning physical (SURVEY.md §4).
  * ``write_kafka`` — the engine-native producer replacing the HTTP
    proxy hop (S6): ``df.write.format("kafka")``. No broker ships in
    this environment, so it is exercised by a plan-level test only.
  * ``with_retries`` — the S7 retry/backoff policy as a reusable
    utility, semantics identical to the reference (max_retries
    attempts, sleep 2**attempt after failure #attempt, re-raise after
    the last).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Columnar batch sink; ``partition_by`` enables physical partition
    pruning for downstream scans (never a hard-coded ``partition=0``
    glob like the reference's mount.py:66)."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_kafka(df: DataFrame, bootstrap_servers: str, topic: str) -> None:
    """S6: engine-native Kafka producer (replaces the reference's REST
    proxy hop). ``df`` must have ``value`` (and optionally ``key``)
    columns, per Spark's Kafka sink contract."""
    (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def write_stream_foreach_batch(
    df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Streaming sink escape hatch: ``foreachBatch`` hands each
    micro-batch to arbitrary BATCH writer code (idempotent upsert /
    MERGE, multi-sink fan-out, JDBC writes — everything the built-in
    streaming sinks can't express). Exactly-once caveat baked into the
    contract: Spark guarantees ``batch_id`` is stable across retries,
    so ``batch_fn`` must be idempotent per (batch_id) — e.g. overwrite
    a batch_id-derived partition, or MERGE on a key — because a failed
    micro-batch re-runs with the SAME id. Update mode: an aggregating
    query hands over only the groups each batch changed (a stateless
    query behaves as append). Drains with ``Trigger.AvailableNow``;
    returns the started query."""
    return (
        df.writeStream.foreachBatch(batch_fn)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def with_retries(
    fn: Callable[[], T],
    max_retries: int = 3,
    backoff_base: float = 2.0,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """S7 delivery retry (stream_emul.py:47-72 semantics): try up to
    ``max_retries`` times, sleeping ``backoff_base ** attempt`` seconds
    after failed attempt number ``attempt`` (0-based), re-raising the
    last failure. ``sleep`` is injectable for tests."""
    if max_retries < 1:
        raise ValueError(f"max_retries must be >= 1, got {max_retries}")
    last: Exception | None = None
    for attempt in range(max_retries):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — delivery layer retries anything
            last = exc
            if attempt < max_retries - 1:
                sleep(backoff_base**attempt)
    assert last is not None
    raise last
