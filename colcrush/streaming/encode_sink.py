"""Streaming encode sink: an indefinite stream lands as a resumable
encoded dataset, one commit per micro-batch.

This is the full north_star composition: the rotating partitioned
sink's semantics (parquet4s ParquetPartitioningFlow — rotation by
count/time, postWriteHandler checkpoint,
/root/reference/akkaPekko/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetPartitioningFlow.scala:303-316,483-507)
with the colcrush codec layer underneath instead of parquet-mr.

Each non-empty micro-batch is the dataset's next commit, written as
``write_encoded(mode="append")`` writes one (engine/dataset.py), its
chunk ids namespaced ``epoch-<id>`` and its record carrying the epoch
id. So a stream may start on a written dataset and continue across
compactions (dataset.compact).

Idempotency: foreachBatch is AT-LEAST-ONCE. An epoch no higher than
the highest epoch a committed record carries is a replay and writes
nothing (Delta Lake keeps a stream's batch id in its log the same
way); a retried epoch whose record never landed takes the same commit
number and replaces its attempt. So a path takes one stream's epochs:
a new checkpoint there skips epochs up to the last stream's highest.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..engine.dataset import _append, _last_epoch


def write_batch(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    group_cols: list[str],
    post_commit: Callable[[int, int], None] | None = None,
    **encode_kwargs,
) -> None:
    """Commit micro-batch ``epoch_id`` to the dataset at ``path``: the
    foreachBatch body of :func:`encoded_stream_sink`."""
    if _last_epoch(path) >= epoch_id:
        return  # replay of a committed epoch: idempotent no-op
    n = batch_df.count()
    if n == 0:
        return
    _append(
        batch_df, path, {"epoch": int(epoch_id)}, group_cols=group_cols,
        namespace=f"epoch-{int(epoch_id)}", **encode_kwargs,
    )
    if post_commit is not None:
        post_commit(epoch_id, n)


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
    dataset at ``path`` (one commit per epoch, see :func:`write_batch`).
    ``post_commit(epoch_id, n_rows)`` is the postWriteHandler analog.
    Returns the StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(
        lambda batch_df, epoch_id: write_batch(
            batch_df, epoch_id, path, group_cols, post_commit, **encode_kwargs
        )
    ).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
