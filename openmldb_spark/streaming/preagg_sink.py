"""Streaming maintenance of the materialized pre-agg state — the
literal insert-time aggregator.

The reference updates its pre-aggregation buckets AS ROWS ARRIVE
(``src/storage/aggregator.cc``: every insert lands in the current
(key, bucket) aggregate, flushed on bucket rollover). The Structured
Streaming analogue: a ``foreachBatch`` sink that appends each
micro-batch into a :class:`~openmldb_spark.operators.preagg.PreAggTable`
— each batch is O(batch) work writing one partial generation; the
long-window DEPLOY serving path and ``long_window_agg`` reads see the
updated state immediately after the batch commits.

Ordering: Structured Streaming delivers micro-batches in processing
order. Each batch goes through the idempotent ``append_tail`` — rows
at or below a key's watermark are dropped (exactly the late-data rule
a watermarked stream would enforce), so replayed batches after a
failure do not double-count: the state commit is idempotent under
Structured Streaming's at-least-once ``foreachBatch`` semantics.
"""

from __future__ import annotations

from openmldb_spark.operators.preagg import PreAggTable

__all__ = ["preagg_sink"]


def preagg_sink(
    stream_df,
    state: PreAggTable,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
):
    """Attach ``stream_df`` (a streaming DataFrame with the state's
    key/order columns) to ``state`` and return the started
    ``StreamingQuery``. Each micro-batch appends one partial
    generation; call ``state.compact()`` periodically (e.g. from a
    maintenance job) to bound generation count."""

    def _sink(batch_df, batch_id: int) -> None:
        state.append_tail(batch_df)

    writer = stream_df.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
