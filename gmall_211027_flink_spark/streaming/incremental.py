"""Incremental aggregate maintenance: fold mergeable partial aggregates
into a keyed store, one micro-batch at a time.

Why this exists: the DWS windowed aggregates here drain with
``complete`` output mode, which re-emits the whole result every batch —
fine for a gate check, linear-in-state-size at 100 TB. The shape that
scales is the reference's own incremental reduce (来一条聚合一条,
DwsTrafficVcChArIsNewPageViewWindow.java:118-180) lifted to micro-batch
granularity: each batch contributes a map-side PARTIAL aggregate
(count/sum/min/max — the mergeable algebra), and the store merge
combines partials per key. Batch cost is O(batch keys), store cost is
O(distinct keys), and no executor ever holds the full aggregate state.
Non-mergeable outputs decompose: avg = sum/count at read time; exact
COUNT(DISTINCT) needs the key in the grain or a sketch.

Invariant (tested, incl. a hypothesis chunking property): folding any
ts-arbitrary slicing of the input equals the one-shot batch
``groupBy(keys).agg(...)``. Deletion/retraction is out of scope (sums
are not invertible under late retraction without storing per-epoch
partials); the reference has no retracting aggregates upstream of DWS
either.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_211027_flink_spark.streaming.sinks import (
    commit, last_epoch, recover)

# op -> (partial aggregate of the input column, re-aggregate of partials)
_MERGE = {
    "count": (lambda c: F.count("*"), F.sum),
    "sum":   (F.sum, F.sum),
    "min":   (F.min, F.min),
    "max":   (F.max, F.max),
}


class IncrementalAggStore:
    """Keyed mergeable-aggregate store.

    ``specs`` maps output column -> (op, input column); e.g.
    ``{"pv_ct": ("count", None), "gmv": ("sum", "amount")}``.
    """

    def __init__(self, path: str, key_cols: list[str],
                 specs: dict[str, tuple[str, str | None]]):
        self.path = path.rstrip("/")
        self.key_cols = key_cols
        self.specs = specs
        for name, (op, _col) in specs.items():
            if op not in _MERGE:
                raise ValueError(f"{name}: unmergeable op {op!r} — "
                                 f"decompose it (avg = sum/count)")

    def write_batch(self, batch: DataFrame, epoch_id: int) -> None:
        # replay guard: merging a re-delivered batch would double-count;
        # the epoch is committed by the same rename as the rows
        if epoch_id <= last_epoch(self.path):
            return
        recover(self.path)
        part = batch.groupBy(*self.key_cols).agg(
            *[_MERGE[op][0](col).alias(name)
              for name, (op, col) in self.specs.items()])
        merged = part
        if os.path.exists(self.path):
            # the store holds partials: re-aggregate their union, read
            # with the partial's schema (no footer job) and cast back to
            # it (a decimal sum would widen by one digit per batch)
            cur = batch.sparkSession.read.schema(part.schema) \
                .parquet(self.path)
            merged = (cur.unionByName(part).groupBy(*self.key_cols)
                      .agg(*[_MERGE[op][1](name).alias(name)
                             for name, (op, _col) in self.specs.items()])
                      .select(*[F.col(f.name).cast(f.dataType)
                                for f in part.schema]))
        commit(merged, self.path, epoch_id)

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)


def run_incremental_agg(stream: DataFrame, store: IncrementalAggStore,
                        checkpoint: str) -> "object":
    return (stream.writeStream
            .foreachBatch(store.write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
