"""The one way the package drains a stream through a micro-batch door.
It imports nothing from the package, so ``operators/`` and
``streaming/`` can both use it."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def foreach_batch_available_now(
    stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start ``stream`` over the input available now, with
    ``apply_batch(batch_df, batch_id)`` as its foreachBatch sink and
    its progress checkpointed at ``checkpoint_dir``. Returns the
    started query; the caller awaits it."""
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
