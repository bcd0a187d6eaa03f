"""Distributed sketch build: per-partition partials → tree merge.

This is the rebuild of the reference's aggregate pair (`cms_topn_add_agg`,
`cms_topn_union_agg`, §2.2 of SURVEY.md) in Spark's execution model, shaped
exactly as the north star prescribes (BASELINE.json:6):

- **partial build**: ``mapInArrow`` over the (optionally salted-repartitioned)
  input — each task streams its Arrow batches into ONE kernel state and emits
  a single row ``(partition_id, state BINARY, input_rows, build_wall_ms)``.
  No per-row Python anywhere: item bytes go zero-copy from Arrow buffers into
  the numpy murmur kernel.
- **salted repartition**: ``repartition(P)`` round-robins rows, so hot keys
  cannot skew task runtimes (building is key-shuffle-free; only partition
  *size* imbalance matters, and round-robin flattens it).
- **tree merge**: iterative ``groupBy(bucket).applyInPandas(merge)`` with
  bounded fan-in — O(log_F P) levels instead of a driver fan-in of P — then a
  final driver-side merge of ≤ F states. States are ~106 kB at default CMS
  parameters (BASELINE.md row 3), so each level shuffles only P·106 kB.

Scale notes (100 TB / 1000 executors): the input scan is the only big data
motion; everything after the partial build moves `P` sketch-sized rows. The
partial build preserves input partitioning (no shuffle) unless
``salt_partitions`` forces one, which is worth it only when upstream
partitions are pathologically uneven.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..core import encoding as enc
from ..core.base import merge_serialized, sketch_from_bytes
from ..sources.parquet_direct import Source, map_source, source_partitions

# merge strategy of a global build: up to _DIRECT_COLLECT_LIMIT partials are
# collected in one action and folded on the driver; above it a tree of
# _FANIN-way merge levels first shrinks them to at most _FANIN rows
_FANIN = 16
_DIRECT_COLLECT_LIMIT = 64

STATE_SCHEMA = "partition_id int, state binary, input_rows long, build_wall_ms long"

_PA_STATE_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("state", pa.binary()),
        ("input_rows", pa.int64()),
        ("build_wall_ms", pa.int64()),
    ]
)


def arrow_type_tag(t: pa.DataType) -> int:
    if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
        return enc.TYPE_INT32
    if pa.types.is_int64(t):
        return enc.TYPE_INT64
    if pa.types.is_floating(t):
        return enc.TYPE_FLOAT64
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return enc.TYPE_STRING
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return enc.TYPE_BINARY
    raise TypeError(f"composite types are not supported (got {t})")


def pack_arrow_array(arr: pa.Array) -> tuple[bytes | np.ndarray, np.ndarray, np.ndarray, int]:
    """Arrow array → (data, offsets, lengths, type_tag), nulls dropped.

    Strings/binary are zero-copy views over the Arrow buffers; fixed-width
    types are encoded via their canonical little-endian forms (§2.1 #10)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_dictionary(arr.type):
        arr = arr.cast(arr.type.value_type)
    tag = arrow_type_tag(arr.type)
    if arr.null_count:
        arr = arr.drop_null()
    if tag in (enc.TYPE_STRING, enc.TYPE_BINARY):
        data, offsets, lengths = enc.encode_arrow_strings(arr)
    elif tag == enc.TYPE_INT32:
        data, offsets, lengths = enc.encode_int32(arr.to_numpy(zero_copy_only=False))
    elif tag == enc.TYPE_INT64:
        data, offsets, lengths = enc.encode_int64(arr.to_numpy(zero_copy_only=False))
    else:
        data, offsets, lengths = enc.encode_float64(arr.to_numpy(zero_copy_only=False))
    return data, offsets, lengths, tag


def default_ingest(sketch, batch: pa.RecordBatch) -> None:
    """Feed column 0 of an Arrow batch into any packed-add sketch."""
    arr = batch.column(0)
    if len(arr) == 0 or arr.null_count == len(arr):
        return
    data, offsets, lengths, tag = pack_arrow_array(arr)
    if hasattr(sketch, "add_packed"):
        sketch.add_packed(data, offsets, lengths, type_tag=tag)
    else:  # KLL / t-digest: numeric values, no item typing
        sketch.add_batch(arr.drop_null().to_numpy(zero_copy_only=False))


def weighted_ingest(sketch, batch: pa.RecordBatch) -> None:
    """Feed (item, count) pairs — for pre-aggregated inputs, e.g. the output
    of an upstream groupBy that already holds partial counts."""
    tbl = pa.Table.from_batches([batch]).drop_null()
    if tbl.num_rows == 0:
        return
    data, offsets, lengths, tag = pack_arrow_array(tbl.column(0).combine_chunks())
    counts = tbl.column(1).combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    sketch.add_packed(data, offsets, lengths, counts=counts, type_tag=tag)


def numeric_ingest(sketch, batch: pa.RecordBatch) -> None:
    """Feed column 0 as float64 values (quantile sketches)."""
    arr = batch.column(0)
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return
    sketch.add_batch(arr.to_numpy(zero_copy_only=False).astype(np.float64))


def _partials_fold(
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None],
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The one-state-per-task fold as a batches→batches kernel."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.monotonic()
        sk = factory()
        rows = 0
        for rb in batches:
            ingest(sk, rb)
            rows += rb.num_rows
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": [pid],
                "state": [sk.to_bytes()],
                "input_rows": [rows],
                "build_wall_ms": [int((time.monotonic() - t0) * 1000)],
            },
            schema=_PA_STATE_SCHEMA,
        )

    return fn


def build_partials(
    src: Source,
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None] = default_ingest,
    salt_partitions: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """One serialized partial sketch per partition of a DataFrame ``src``,
    or per split of a ``sources.parquet_direct.ParquetSource``
    (columnar-direct: pyarrow reads the pruned columns in the worker, and
    the batches never cross Spark's columnar→row→Arrow pivot — the transfer
    whose JVM CPU anti-scales with task threads, BENCH/BASELINE.md §2b).

    ``columns`` are the columns ``ingest`` consumes — required for a
    ParquetSource; a DataFrame left at ``None`` should already be projected
    to them (column pruning then reaches the parquet scan).
    ``salt_partitions`` round-robins a DataFrame first."""
    if salt_partitions:
        src = src.repartition(salt_partitions)  # round-robin = salt
    return map_source(src, columns, _partials_fold(factory, ingest), STATE_SCHEMA)


def _merge_group(pdf):
    import pandas as pd

    acc = None
    rows = 0
    ms = 0
    t0 = time.monotonic()
    for st, r in zip(pdf["state"], pdf["input_rows"]):
        acc = merge_serialized(acc, bytes(st) if st is not None else None)
        rows += int(r)
    ms = int((time.monotonic() - t0) * 1000)
    pid = int(pdf["bucket"].iloc[0])
    return pd.DataFrame(
        {
            "partition_id": [pid],
            "state": [acc],
            "input_rows": [rows],
            "build_wall_ms": [ms],
        }
    )


def tree_merge_df(states: DataFrame, fanin: int = _FANIN) -> DataFrame:
    """Merge a states DataFrame down to ≤ ``fanin`` rows with a bounded-fan-in
    tree: each level buckets by partition_id // fanin and merges per bucket via
    applyInPandas. O(log_fanin P) levels; each level is a small shuffle of
    sketch-sized rows.

    Each level is persisted before its count so the expensive upstream build
    is computed exactly once (counting an unpersisted frame would re-run the
    whole lineage per level)."""
    from pyspark.sql import functions as F

    states = states.persist()
    n = states.count()
    prev = states
    while n > fanin:
        states = (
            states.withColumn("bucket", (F.col("partition_id") / fanin).cast("int"))
            .groupBy("bucket")
            .applyInPandas(_merge_group, STATE_SCHEMA)
        ).persist()
        n = states.count()
        prev.unpersist()
        prev = states
    return states


def sketch_agg(
    src: Source,
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None] = default_ingest,
    salt_partitions: int | None = None,
    columns: list[str] | None = None,
):
    """Full add_agg analogue: build partials, tree-merge, return the sketch.

    NULL-only / empty inputs → None, matching cms_topn_union_agg over all-NULL
    rows (expected/union_agg.out:8-18).

    For moderate partition counts the partials are collected in ONE action and
    merged on the driver (P sketch-sized rows; merging is O(P·d·w) numpy adds,
    microseconds per state). The shuffle tree only pays off when P is large —
    at 1000-executor scale — so it kicks in above ``_DIRECT_COLLECT_LIMIT``.
    P is the DataFrame's partition count, or a ParquetSource's split count
    (one partial per file, or per row group) — the same split list feeds
    the tasks, so its footers are read once. No sharding: a small input
    stays one partial per split."""
    states = build_partials(src, factory, ingest, salt_partitions, columns)
    n_parts = source_partitions(src) if salt_partitions is None else salt_partitions
    return collect_states(states, tree=n_parts > _DIRECT_COLLECT_LIMIT)


def collect_states(states: DataFrame, tree: bool):
    """Merge a states frame into one live sketch on the driver (None when
    every state is NULL). ``tree`` first runs :func:`tree_merge_df`, so at
    most ``_FANIN`` rows are collected."""
    merged_df = None
    if tree:
        states = merged_df = tree_merge_df(states)
    rows = states.collect()
    if merged_df is not None:
        merged_df.unpersist()  # tree_merge_df leaves its last level cached
    # fold on DESERIALIZED sketches: the merge_serialized chain re-serialized
    # the accumulator per step, and for big-level KLL states each to_bytes
    # canonical-sorts every level — O(P·n log n) of pure plumbing on the
    # driver. merge() on live objects yields the same values (serialization
    # is a faithful round-trip; KLL's canonical level order never changes a
    # merge, whose compaction re-sorts the buffer anyway).
    acc = None
    for r in rows:
        if r["state"] is not None:
            sk = sketch_from_bytes(bytes(r["state"]))
            acc = sk if acc is None else acc.merge(sk)
    return acc
