"""The one way the package drains a stream through a micro-batch door,
and the one writer of a micro-batch's output partition. It imports
only the commit door from the package, so ``operators/`` and
``streaming/`` can both use it."""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from etl_8million_data__spark.operators.maintenance import swap_in


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


def write_batch_output(rows: DataFrame, out_path: str, scope: str, batch_id: int) -> None:
    """Replace micro-batch ``batch_id``'s output partition
    ``out_path/ingest_batch=<tag>/`` with ``rows`` in one commit
    (``maintenance.swap_in`` of that partition), where ``<tag>`` is
    ``md5(scope)[:8]-batch_id``: a redelivered batch rewrites its own
    partition instead of appending duplicates, and readers see the
    union of the batches through partition discovery. Empty ``rows``
    still land as a partition holding their schema."""
    tag = f"{hashlib.md5(scope.encode()).hexdigest()[:8]}-{batch_id}"
    with swap_in(out_path, ["ingest_batch"], [(tag,)]) as tmp:
        rows.write.parquet(os.path.join(tmp, f"ingest_batch={tag}"))
