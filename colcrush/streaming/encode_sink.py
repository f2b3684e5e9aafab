"""Streaming encode sink: an indefinite stream lands as a resumable
encoded dataset, one committed sub-dataset per epoch.

This is the full north_star composition: the rotating partitioned
sink's semantics (parquet4s ParquetPartitioningFlow — rotation by
count/time, postWriteHandler checkpoint,
/root/reference/akkaPekko/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetPartitioningFlow.scala:303-316,483-507)
with the colcrush codec layer underneath instead of parquet-mr.

Idempotency: Structured Streaming's foreachBatch is AT-LEAST-ONCE — an
epoch retried after a crash re-runs write_batch with the same epoch_id
and offsets. Each epoch therefore writes its own sub-dataset
``<path>/epoch=NNNNNNNN/`` in OVERWRITE mode: a retry replaces its own
partial output instead of appending a second copy, and a fully
committed epoch (its _commit.json record present) is skipped outright.
Chunk ids are namespaced by epoch so ids can never collide across
epochs (colliding ids would let the decoder's accumulator mix columns
from different chunks). Readers (read_manifest / read_chunks /
read_decoded) see only epochs whose record landed.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame

from ..engine import fsio
from ..engine.dataset import _committed, write_encoded


def encoded_stream_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    group_cols: list[str],
    post_commit: Callable[[int, int], None] | None = None,
    trigger_available_now: bool = True,
    **encode_kwargs,
):
    """Start a streaming query that encodes each micro-batch into the
    dataset at ``path`` (one overwrite-committed sub-dataset per epoch).
    ``post_commit(epoch_id, n_rows)`` is the postWriteHandler analog.
    Returns the StreamingQuery."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if _committed(path):
            # a committed compacted base short-circuits the epoch view,
            # so any epoch written now would be silently invisible to
            # readers — refuse instead of losing data
            raise RuntimeError(
                f"{path} has a committed compacted base dataset; "
                "streaming epochs written now would be invisible to "
                "readers. Point the sink at a fresh dataset path."
            )
        epoch_path = fsio.join(path, f"epoch={int(epoch_id):08d}")
        if _committed(epoch_path):
            return  # replay of a fully committed epoch: idempotent no-op
        n = batch_df.count()
        if n == 0:
            return
        write_encoded(
            batch_df,
            epoch_path,
            mode="overwrite",
            group_cols=group_cols,
            namespace=f"epoch-{int(epoch_id)}",
            **encode_kwargs,
        )
        if post_commit is not None:
            post_commit(epoch_id, n)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
