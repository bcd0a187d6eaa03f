"""Columnar-direct parquet ingest — feed Python kernels WITHOUT the JVM row
pivot.

Spark's ``mapInArrow`` pipeline over a parquet scan is columnar parquet →
``ColumnarToRow`` → rows → ``ArrowWriter`` → Arrow: a double pivot executed
in the JVM for every row. Measured on this box (30M-row (long, double)
table, pass-through Python consumer): the pivot costs ~26 JVM-CPU-seconds
at 2 task threads and ~68 at 8 — it is ~8× the cost of the scan itself
(3.3 s for the same table through a JVM-only aggregate) AND its per-thread
throughput degrades ~2.6× as task threads increase, which caps the scaling
efficiency of any transfer-dominated Python operator regardless of how well
the kernel itself scales.

For operators whose Python kernel consumes whole columns (the sketch folds:
grouped quantiles/distinct/top-n, corpus profiles), the pivot is pure
overhead — the data is columnar on disk and columnar in the kernel. This
source distributes the parquet FILE SPLITS as task rows and lets every task
read its own split columnar-to-columnar with pyarrow:

    files-DataFrame (one row per file) → mapInArrow(read + fold)

The way in is :class:`ParquetSource`: every sketch operator that takes a
DataFrame (``build_partials``, ``sketch_agg``, the ``grouped_*`` forms,
``corpus_profile``) takes a ``ParquetSource(path, filters,
split_row_groups)`` in its place and runs the same fold over it. The
helpers below (:func:`source_types`, :func:`map_source`,
:func:`source_partitions`) are the only code that tells the two kinds
apart.

The module also owns the library's one answer to "is this input too small
to parallelize?": :func:`parallelism_floor`. A DataFrame with fewer
partitions than the floor is round-robined up to it (:func:`spread`); a
ParquetSource fold that opts in (``shard=True``) has its split list
row-range sharded up to it (:func:`shard_splits`). Both are no-ops once an
input already has the floor's worth of tasks.

Column pruning happens via the operator's columns (pyarrow reads only
those column chunks); each file is one task, so the scan parallelism is the
file count — the same unit a 100-TB Iceberg table's manifest hands out.
Predicate pushdown happens via ``filters`` — (column, op, literal)
conjuncts applied in two layers like a lakehouse scan: the driver prunes splits whose
row-group statistics prove no match (pruned splits are never scheduled),
and tasks apply the residual mask columnar-side with Arrow compute.
Trade-offs, stated plainly: this bypasses Catalyst's scan node, so only
these explicit tri-op conjuncts push down — no derived expressions, no
partition-directory pruning, no join-side dynamic pruning; use the JVM scan
when a query needs those. A single giant file is one task unless
``split_row_groups=True``, which hands out one task per (file, row-group) —
the same split unit Spark's own scan uses.

When NOT to use it (measured, BENCH/BASELINE.md §2b): jobs whose kernel
dwarfs the transfer and whose columns are wide strings — Spark's vectorized
JVM parquet reader decodes string columns faster than single-threaded
pyarrow in the worker, and the pivot share is small when the kernel
dominates (flagship 9M-doc build: 49 s DataFrame vs 91 s direct at
local[2]). The direct path wins where transfer dominates: narrow/numeric
columns feeding cheap folds (grouped quantiles 15.6 s → 9.1 s there).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import cached_property
from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ParquetSource:
    """A parquet file or directory read columnar-direct by the operator's
    own tasks — the alternative to passing ``spark.read.parquet(path)``.

    ``filters``: conjunctive (column, op, literal) predicates pushed into
    the scan (see :func:`map_parquet_batches`). ``split_row_groups``: one
    task per (file, row group) instead of per file — the giant-file remedy.

    The split list is read once per source object, on first use, and reused
    by every job over it — a snapshot, like a DataFrame's file index; make a
    new source after rewriting the path."""

    path: str
    filters: list[tuple] | None = None
    split_row_groups: bool = False

    @cached_property
    def splits(self) -> list[tuple[str, int]]:
        return parquet_splits(
            self.path, split_row_groups=self.split_row_groups, filters=self.filters
        )


Source = DataFrame | ParquetSource


def source_types(src: Source, columns: list[str]) -> dict[str, str]:
    """Spark SQL type strings of ``columns``: the DataFrame's own dtypes, or
    the parquet footer's types mapped to Spark's."""
    if isinstance(src, ParquetSource):
        import pyarrow.parquet as pq

        schema = pq.read_schema(src.splits[0][0])
        return {c: _spark_type(schema.field(c).type, c) for c in columns}
    types = dict(src.dtypes)
    return {c: types[c] for c in columns}


def map_source(
    src: Source,
    columns: list[str] | None,
    fold: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]],
    out_schema: str,
    shard: bool = False,
    not_null: str | None = None,
) -> DataFrame:
    """Run ``fold`` (a ``mapInArrow`` function) over ``columns`` of ``src``.

    A DataFrame goes through ``select(columns).mapInArrow`` (``columns=None``
    keeps it as projected); a :class:`ParquetSource` through
    :func:`map_parquet_batches` in the active Spark session, sharded up to
    :func:`parallelism_floor` tasks when ``shard`` is set (a DataFrame keeps
    its own partitioning). ``not_null`` adds a Catalyst ``isNotNull`` filter
    on a DataFrame, which reaches its scan; a ParquetSource has no Catalyst
    layer, so a fold given ``not_null`` must drop those rows itself."""
    if isinstance(src, ParquetSource):
        return map_parquet_batches(src, columns, fold, out_schema, shard)
    if not_null is not None:
        src = src.where(F.col(not_null).isNotNull())
    if columns is not None:
        src = src.select(*columns)
    return src.mapInArrow(fold, out_schema)


def source_partitions(src: Source) -> int:
    """Task count of a fold over ``src`` before any sharding: the
    DataFrame's partition count, or the length of the source's split list
    (the same list :func:`map_source` hands to the tasks)."""
    if isinstance(src, ParquetSource):
        return len(src.splits)
    return plan_num_partitions(src)


def parallelism_floor() -> int:
    """The task count below which an input counts as too small to
    parallelize: the active session's default parallelism (its core count
    in local mode). Every spread, shard and stage-2 partition count in the
    library reads this one value."""
    return SparkSession.active().sparkContext.defaultParallelism


_NPARTS_CACHE: dict = {}


def plan_num_partitions(df: DataFrame) -> int:
    """Partition count of a DataFrame, memoized by the plan's semantic hash.

    ``df.rdd.getNumPartitions()`` is the only public API but forces a
    plan→RDD conversion (50–115 ms on a fresh parquet frame, 4 cores) per
    call; memoizing makes repeated operator calls over the same source (the
    bench-loop shape) probe once. A hash collision can only mis-route a
    perf-only heuristic (direct collect vs tree merge, spread or not), never
    correctness — cheaper than materializing the states frame through the
    block cache, which costs ~0.3 s per call for MB-sized sketch states."""
    # keyed per Spark application: a new session (different parallelism /
    # file layout) must not inherit counts. Within one session, rewriting
    # the same path with a different file count can still serve a stale
    # count — acceptable because every consumer is a perf-only heuristic.
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    n = _NPARTS_CACHE.get(key)
    if n is None:
        if len(_NPARTS_CACHE) > 256:
            _NPARTS_CACHE.clear()
        n = _NPARTS_CACHE[key] = df.rdd.getNumPartitions()
    return n


def spread(df: DataFrame) -> DataFrame:
    """Round-robin a DataFrame with fewer partitions than
    :func:`parallelism_floor` up to the floor — the small-file remedy for
    compute-bound passes whose scan is a single split (a one-file gate
    table serializes tokenize/regex/signature work on one core). No-op
    whenever the plan already has the floor's partitions (any real corpus),
    so nothing extra moves at scale. Callers must be partition-layout
    independent (aggregations, per-row maps — not bounded top-n retained
    sets with order-broken ties)."""
    floor = parallelism_floor()
    if plan_num_partitions(df) < floor:
        df = df.repartition(floor)
    return df


def parquet_files(path: str) -> list[str]:
    """Sorted data-file list of a parquet file or directory tree.

    Recurses so Hive-partitioned layouts (``key=value`` subdirectories, as
    ``DataFrameWriter.partitionBy`` produces) are listed too — note the
    partition-key COLUMNS encoded in those directory names are not
    materialized by this source (they live in the path, not the file); use
    the JVM scan when the kernel needs them."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out.extend(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


def _spark_type(t: pa.DataType, column: str) -> str:
    if pa.types.is_int8(t) or pa.types.is_int16(t) or pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    raise TypeError(f"unmapped parquet type {t} for column {column!r}")


# Filter conjuncts are (column, op, literal) triples, the same tri-op shape
# pyarrow's dataset filters use; a filter list means the AND of its entries.
# NULL comparison semantics are SQL's: a NULL never passes any conjunct.
_FILTER_OPS = {"==", "!=", "<", "<=", ">", ">=", "in"}


def _check_filters(filters) -> None:
    for f in filters:
        if len(f) != 3 or f[1] not in _FILTER_OPS:
            raise ValueError(
                f"bad filter conjunct {f!r}: want (column, op, literal) with "
                f"op in {sorted(_FILTER_OPS)}"
            )
        if f[1] == "in":
            # a bare string would iterate per-CHARACTER (silently empty
            # results); a None element would make pc.is_in pass NULL rows,
            # violating the documented SQL NULL semantics — reject both
            if isinstance(f[2], (str, bytes)) or not hasattr(f[2], "__iter__"):
                raise ValueError(
                    f"bad filter conjunct {f!r}: 'in' wants a non-string "
                    "iterable of literals"
                )
            if any(v is None for v in f[2]):
                raise ValueError(
                    f"bad filter conjunct {f!r}: None inside 'in' would pass "
                    "NULL rows; filter NULLs explicitly if you mean that"
                )


def _stats_may_match(stats, op, val) -> bool:
    """False only when the row-group statistics PROVE no row matches the
    conjunct — missing/partial stats keep the split (conservative). Parquet
    min/max exclude NULLs, and a NULL fails every conjunct anyway, so
    pruning on non-null bounds is exact."""
    if stats is None or not stats.has_min_max:
        return True
    mn, mx = stats.min, stats.max
    try:
        if op == "==":
            return not (val < mn or val > mx)
        if op == "!=":
            return not (mn == mx == val)
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
        if op == "in":
            return any(not (v < mn or v > mx) for v in val)
    except TypeError:
        # incomparable literal vs stats types (e.g. bytes stats for a str
        # literal on some writers) — keep the split, let the residual decide
        return True
    return True


def _row_group_may_match(md, rg: int, filters) -> bool:
    rgm = md.row_group(rg)
    cols = {rgm.column(i).path_in_schema: i for i in range(rgm.num_columns)}
    for col, op, val in filters:
        i = cols.get(col)
        if i is None:
            continue  # nested/renamed column — no stats to prune on
        if not _stats_may_match(rgm.column(i).statistics, op, val):
            return False
    return True


def _filter_mask(rb: pa.RecordBatch, filters):
    import pyarrow.compute as pc

    mask = None
    for col, op, val in filters:
        c = rb.column(rb.schema.get_field_index(col))
        if op == "==":
            m = pc.equal(c, val)
        elif op == "!=":
            m = pc.not_equal(c, val)
        elif op == "<":
            m = pc.less(c, val)
        elif op == "<=":
            m = pc.less_equal(c, val)
        elif op == ">":
            m = pc.greater(c, val)
        elif op == ">=":
            m = pc.greater_equal(c, val)
        else:  # "in"
            m = pc.is_in(c, value_set=pa.array(list(val), c.type))
        mask = m if mask is None else pc.and_kleene(mask, m)
    return mask


def shard_splits(
    splits: list[tuple[str, int]], floor: int
) -> list[tuple[str, int, int, int]]:
    """Fan a too-short split list out to ~``floor`` tasks by row RANGES:
    each (path, row_group) split becomes n ≥ 1 shards (path, row_group,
    shard, n_shards), shard i folding rows [i·rows/n, (i+1)·rows/n) of its
    split. The small-input remedy for the one-task-per-file rule: a single
    12 MB one-row-group file otherwise serializes the whole fold on one
    core. Each shard re-decodes its split's column chunks (parquet offers
    no sub-row-group random access), so this trades bounded duplicate
    decode — cheap for the narrow columns this source exists for — for fold
    parallelism; at real scale the split list is already ≥ cores long and
    this returns 1-shard entries unchanged. Only valid for folds whose
    merged result is partition-layout-independent (the mergeable-sketch
    contract all consumers of this source satisfy)."""
    base = [(p, rg, 0, 1) for p, rg in splits]
    if len(splits) >= floor or floor <= 1:
        return base
    import pyarrow.parquet as pq

    counts = []
    for p, rg in splits:
        md = pq.read_metadata(p)
        counts.append(md.row_group(rg).num_rows if rg >= 0 else md.num_rows)
    total = sum(counts)
    if total == 0:
        return base
    out: list[tuple[str, int, int, int]] = []
    for (p, rg), cnt in zip(splits, counts):
        n = max(1, min(round(floor * cnt / total), cnt))
        out.extend((p, rg, i, n) for i in range(n))
    return out


def map_parquet_batches(
    src: ParquetSource,
    columns: list[str],
    fold: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]],
    out_schema: str,
    shard: bool = False,
) -> DataFrame:
    """Run ``fold`` (a batches→batches kernel, same contract as a
    ``mapInArrow`` function) over ``columns`` of ``src``, one task per
    split of ``src.splits``, reading columnar-direct in the worker.
    ``shard`` row-range shards a split list shorter than
    :func:`parallelism_floor` up to the floor (:func:`shard_splits`); only
    folds whose merged result is layout-independent may set it.

    ``use_threads=False`` on the pyarrow reader: each task is already one
    core's worth of work — per-task thread pools would oversubscribe the
    executor and wreck the task-count = parallelism accounting.

    ``src.split_row_groups`` hands out one task per (file, row-group)
    instead of per file — the remedy when a few giant files would
    otherwise serialize the scan (a parquet row group is the file's
    independently-readable unit, exactly what Spark's own scan splits on).
    Costs one footer read per file on the driver; a real lakehouse hands
    out the same splits from the table manifest without touching footers.

    ``src.filters``: conjunctive (column, op, literal) predicates, pushed
    down in two layers exactly like a lakehouse scan: the DRIVER prunes
    splits whose row-group statistics prove no row can match (the
    manifest-pruning analogue — pruned splits are never scheduled, their
    column chunks never read), and each TASK applies the residual predicate
    columnar-side with Arrow compute before the fold sees a batch.
    Filter-only columns are read for the mask and dropped before the fold,
    so the fold's contract (exactly ``columns``) is unchanged. NULL
    semantics are SQL WHERE's: NULLs never pass."""
    filters = src.filters
    spark = SparkSession.active()
    sharded = shard_splits(src.splits, parallelism_floor() if shard else 0)
    # exactly one split per partition: parallelize's deterministic list
    # slicing, NOT .repartition(n) — round-robin starts at a random offset
    # per input partition, so splits can collide into one task and leave
    # others empty (a straggler wave). This is the module's one RDD touch,
    # on an n-row list of (path, row_group, shard, n_shards).
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(sharded, len(sharded)),
        "path string, row_group int, shard int, n_shards int",
    )

    read_cols = columns
    if filters:
        read_cols = columns + [
            f[0] for f in filters if f[0] not in columns
        ]

    def read_and_fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        def split_batches() -> Iterator[pa.RecordBatch]:
            for rb in batches:
                for p, rg, shard, n_shards in zip(
                    rb.column(0).to_pylist(),
                    rb.column(1).to_pylist(),
                    rb.column(2).to_pylist(),
                    rb.column(3).to_pylist(),
                ):
                    # close each handle as its split is exhausted — a task
                    # over many splits must not hold every fd until GC
                    with pq.ParquetFile(p) as pf:
                        if rg >= 0:
                            kw = {"row_groups": [rg]}
                            split_rows = pf.metadata.row_group(rg).num_rows
                        elif filters:
                            # whole-file split: the footer is already parsed
                            # by ParquetFile, so re-derive the matching row
                            # groups and skip the others' column chunks
                            mrgs = [
                                g
                                for g in range(pf.metadata.num_row_groups)
                                if _row_group_may_match(pf.metadata, g, filters)
                            ]
                            if not mrgs:
                                continue
                            kw = {"row_groups": mrgs}
                            split_rows = sum(
                                pf.metadata.row_group(g).num_rows for g in mrgs
                            )
                        else:
                            kw = {}
                            split_rows = pf.metadata.num_rows
                        # shard row range over the split's RAW rows (before
                        # any residual mask) — every shard of a split derives
                        # the same range bounds, so shards partition the
                        # split exactly
                        lo = split_rows * shard // n_shards
                        hi = split_rows * (shard + 1) // n_shards
                        pos = 0
                        for raw in pf.iter_batches(
                            columns=read_cols, use_threads=False, **kw
                        ):
                            nrows = raw.num_rows
                            if n_shards > 1:
                                s = max(lo - pos, 0)
                                e = min(hi - pos, nrows)
                                pos += nrows
                                if e <= s:
                                    if pos >= hi:
                                        break
                                    continue
                                raw = raw.slice(s, e - s)
                            if filters:
                                # null mask entries = SQL three-valued FALSE
                                raw = raw.filter(_filter_mask(raw, filters))
                                raw = raw.select(columns)
                            yield raw

        yield from fold(split_batches())

    return fdf.mapInArrow(read_and_fold, out_schema)


def parquet_splits(
    path: str,
    split_row_groups: bool = False,
    filters: list[tuple] | None = None,
) -> list[tuple[str, int]]:
    """The (file, row_group) task list — row_group = -1 means whole file.
    Computed ONCE per :class:`ParquetSource`: the merge-strategy sizing
    (:func:`source_partitions`) and the task mapping read the same list, so
    the footers are read a single time and the strategy can never disagree
    with the task count.

    With ``filters``, splits whose row-group statistics prove no match are
    dropped here — the manifest-pruning layer: a pruned split is never
    scheduled and its column chunks are never read. Without
    ``split_row_groups`` a file is kept if ANY of its row groups may match;
    the task then re-derives the matching groups from the footer it parses
    anyway and reads only those. Stats-free columns/footers conservatively
    keep their splits; correctness never depends on pruning, only on the
    residual mask."""
    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    if filters:
        _check_filters(filters)
    if not split_row_groups and not filters:
        return [(f, -1) for f in files]
    import pyarrow.parquet as pq

    splits: list[tuple[str, int]] = []
    for f in files:
        md = pq.read_metadata(f)
        rgs = range(md.num_row_groups)
        if filters:
            rgs = [rg for rg in rgs if _row_group_may_match(md, rg, filters)]
        if split_row_groups:
            splits.extend((f, rg) for rg in rgs)
        elif rgs:
            splits.append((f, -1))
    # two degenerate shapes fall back to one whole-file task so callers see
    # ordinary empty-RESULT semantics instead of a parallelize([], 0) crash:
    # footer-only files (0 row groups) and filters that prune every split
    # (the residual mask then drops every row of the one task)
    return splits or [(files[0], -1)]
