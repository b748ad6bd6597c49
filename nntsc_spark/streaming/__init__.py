"""Structured Streaming: ingest, rollup maintenance, live export plumbing."""


def foreach_batch(stream, fn, checkpoint: str, trigger: dict | None = None):
    """Start ``stream`` with ``fn(batch_df, epoch_id)`` run on every
    micro-batch, checkpointed at ``checkpoint``; ``trigger`` takes
    ``DataStreamWriter.trigger`` keywords (default ``availableNow``).
    Returns the started query."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
