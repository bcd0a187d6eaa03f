"""The benchmark's workloads: what set-up builds, what one operation does,
and how each operation's output is checked.

A workload is driven as a closed loop by one client, the benchmark process,
with one operation in flight. ``prepare`` is set-up work a user must do
before querying (it is timed into ``setup_s``). ``op(i)`` runs operation
``i`` and returns its output, which ``check`` verifies outside the timed
span. Operations come in kinds (a query of the mix, a batch); one round is
one operation of every kind.
"""

from __future__ import annotations

import gc
import math
import os
import time
from dataclasses import dataclass

import numpy as np

import datagen
from spans import Tracer

import bench  # the repo's harness: process-tree CPU reading


@dataclass
class OpResult:
    kind: str
    wall_s: float
    cpu_s: float  # CPU seconds of this process and all its descendants
    docs: int  # input documents (rows) the operation consumed
    failed: bool  # the check failed or the operation raised


class Workload:
    """Base: one dataset, a ``prepare`` step and a timed ``op``."""

    name = ""
    datasets: tuple[str, ...] = ()  # datagen inputs the workload reads
    kinds: tuple[str, ...] = ()
    warm_up_ops = 0  # untimed operations run once, after the first set-up
    new_session_per_setup = True  # each repeated set-up starts a new session
    max_ops = float("inf")
    grouped_rows_per_round = 0  # input rows of operators.grouped calls

    def __init__(self, seed: int, size: str, work_dir: str):
        self.seed, self.size, self.work_dir = seed, size, work_dir
        self.spark = None
        self.tracer = Tracer()
        self.problems: list[str] = []  # the first failed checks, for stderr

    def bind(self, spark, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def prepare(self) -> None:
        """Set-up a user pays before the first query, in a new session."""

    def kind(self, i: int) -> str:
        return self.kinds[i % len(self.kinds)]

    def run_op(self, i: int) -> OpResult:
        self.tracer.op = i
        kind = self.kind(i)
        c0 = bench._tree_cpu_seconds()
        t0 = time.perf_counter()
        try:
            out, raised = self.op(i), None
        except Exception as e:  # a raising operation counts as failed
            out, raised = None, e
        wall = time.perf_counter() - t0
        cpu = bench._tree_cpu_seconds() - c0
        if raised is not None:
            errors = [f"raised {type(raised).__name__}: {raised}"]
        else:
            errors = self.check(i, out)
        for e in errors[: max(0, 20 - len(self.problems))]:
            self.problems.append(f"op {i} ({kind}): {e}")
        gc.collect()  # the next operation's peak RSS starts from live data only
        return OpResult(kind, wall, cpu, self.docs(i), bool(errors))

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> list[str]:
        raise NotImplementedError

    def docs(self, i: int) -> int:
        raise NotImplementedError


# ------------------------------------------------------ analyst queries


# member -> (layer of the call that builds the answer, layer of its collect,
# tables it reads)
MIX = {
    "flagship_build": ("operators.build", "operators.build", ("webpages",)),
    "grouped_kll_quantiles": ("operators.grouped", "operators.grouped", ("events",)),
    "grouped_topn": ("operators.grouped", "operators.grouped", ("events",)),
    "tdigest_median_by_type": ("operators.grouped", "operators.grouped", ("events",)),
    "hll_users_by_type": ("operators.grouped", "operators.grouped", ("events",)),
    "kll_price_quantiles": ("operators.build", "functions.sketch_api", ("lineitem",)),
    "cms_topn_frequency_probe": ("operators.build", "functions.sketch_api", ("events",)),
    "bloom_customer_semijoin": ("operators.build", "functions.sketch_api", ("customer", "orders")),
}
KLL_PRICE_K = 1 << 21  # the k kll_price_quantiles builds with
KLL_QS = (0.25, 0.5, 0.75, 0.9)
HLL_SIGMAS = 4  # accept an HLL estimate within 4 stated standard errors


def kll_rank_bound(k: int, n: int) -> float:
    """Normalized rank error accepted for a KLL readout: 0 while the sketch
    is exact (n <= k), else the KLL 99%-confidence single-quantile bound
    2.296 / k**0.9723 (Karnin-Lang-Liberty constants as tabulated for the
    DataSketches KLL)."""
    return 0.0 if n <= k else 2.296 / k ** 0.9723


def within_rank_bound(sorted_vals: np.ndarray, q: float, est: float, eps: float) -> bool:
    """``est`` lies between the exact values at ranks q(n-1) -/+ eps*n."""
    n = len(sorted_vals)
    t = q * (n - 1)
    lo = sorted_vals[max(0, math.floor(t - eps * n))]
    hi = sorted_vals[min(n - 1, math.ceil(t + eps * n))]
    return lo <= est <= hi


def flagship_errors(sk, expected: dict) -> list[str]:
    """The flagship composite against exact counts: URL total equals the
    doc count, every reported host and token count is within [exact,
    exact + eps*N], and the URL HLL is within HLL_SIGMAS stated standard
    errors (1.04/sqrt(m)) of the exact distinct count."""
    if sk["url_topn"].total != expected["n_docs"]:
        return [f"url_topn.total {sk['url_topn'].total} != {expected['n_docs']}"]
    errors = []
    for name, exact, n in (
        ("host_topn", expected["host_counts"], expected["n_docs"]),
        ("token_topn", expected["token_counts"], expected["n_tokens"]),
    ):
        cms = sk[name]
        for item, est in cms.topn_list():
            truth = exact.get(item, 0)
            if not truth <= est <= truth + cms.eps * n:
                errors.append(f"{name} {item!r}: {est} vs exact {truth}")
    hll = sk["url_hll"]
    rel = abs(hll.estimate() - expected["distinct_urls"]) / expected["distinct_urls"]
    if rel > HLL_SIGMAS * 1.04 / math.sqrt(hll.m):
        errors.append(f"url_hll relative error {rel:.4f}")
    return errors


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    key = lambda c: (c is None, isinstance(c, str), c if c is not None else 0)
    normed = [tuple(r[i] for i in order) for r in rows]
    return sorted(normed, key=lambda r: tuple(key(c) for c in r))


def warm_workers(spark) -> None:
    """Fork the Python workers and import the library into each of them."""
    import pyarrow as pa

    def touch(batches):
        import cms_topn_spark.functions.sketch_api  # noqa: F401
        import cms_topn_spark.operators.grouped  # noqa: F401
        import cms_topn_spark.plans.flagship  # noqa: F401

        for rb in batches:
            yield pa.RecordBatch.from_pydict({"x": [rb.num_rows]})

    n = spark.sparkContext.defaultParallelism * 4
    spark.range(0, n, 1, n).mapInArrow(touch, "x long").count()


class SketchQueries(Workload):
    """The flagship build and seven analyst queries, round-robin: operation
    ``i`` runs member ``i mod 8`` of the mix."""

    name = "sketch_queries"
    datasets = ("webpages", "tables")
    kinds = tuple(MIX)
    # a JVM's first flagship build compiles the most (about 2.5 s over a
    # warm build); warming it also keeps the extra operations of a timed
    # phase (which repeat the first members) from mixing cold and warm samples
    warm_up_ops = 1

    def __init__(self, seed, size, work_dir):
        super().__init__(seed, size, work_dir)
        import __spark_entry__ as entry

        self.data = datagen.tables(seed, size)
        self.expected = datagen.load_expected(self.data)
        self.prices = np.load(os.path.join(self.data, "prices_sorted.npy"))
        self.pages = datagen.webpages(seed, size)
        self.pages_expected = datagen.load_expected(self.pages)
        self.queries = entry.queries()
        rows = dict(self.expected["rows"], webpages=self.pages_expected["n_docs"])
        self.rows = {q: sum(rows[t] for t in MIX[q][2]) for q in self.kinds}
        self.grouped_rows_per_round = sum(
            n for q, n in self.rows.items() if MIX[q][0] == "operators.grouped"
        )

    def docs(self, i):
        return self.rows[self.kind(i)]

    def prepare(self):
        warm_workers(self.spark)

    def op(self, i):
        name = self.kind(i)
        build_layer, collect_layer, _ = MIX[name]
        with self.tracer.span(f"query.{name}", build_layer):
            if name == "flagship_build":
                from cms_topn_spark.plans.flagship import run_flagship

                with self.tracer.span("plans.flagship.run_flagship", build_layer):
                    pages = self.spark.read.parquet(os.path.join(self.pages, "pages"))
                    return run_flagship(pages)
            with self.tracer.span("construct", build_layer):
                df = self.queries[name](self.spark, self.data)
            with self.tracer.span("collect", collect_layer):
                return df.columns, [tuple(r) for r in df.collect()]

    def check(self, i, out):
        name = self.kind(i)
        if name == "flagship_build":
            return flagship_errors(out, self.pages_expected)
        cols, rows = out
        if name == "kll_price_quantiles":
            eps = kll_rank_bound(KLL_PRICE_K, len(self.prices))
            ok = len(rows) == 1 and all(
                within_rank_bound(self.prices, q, est, eps) for q, est in zip(KLL_QS, rows[0])
            )
            return [] if ok else [f"{rows} outside the rank-error bound {eps}"]
        o = self.expected["oracle"][name]
        if _rowset(cols, rows) != _rowset(o["columns"], [tuple(r) for r in o["rows"]]):
            return ["result differs from its oracle"]
        return []


# ------------------------------------------------------- near-dup


class NearDupIncremental(Workload):
    """Incremental near-dup over id-range batches of the new slice, with
    each batch appended to the MinHash index after it is queried."""

    name = "neardup_incremental"
    datasets = ("documents",)
    THRESHOLD = datagen.NEAR_DUP_THRESHOLD
    BATCHES = {"full": 2, "tiny": 3}
    # repeated set-ups rebuild the index in the running session: a new
    # session restarts the Python workers (about 5 s), which sketch_queries'
    # setup_s measures, and three of them would not fit the run budget
    new_session_per_setup = False

    def __init__(self, seed, size, work_dir):
        super().__init__(seed, size, work_dir)
        self.data = datagen.documents(seed, size)
        self.path = os.path.join(self.data, "documents.parquet")
        import pyarrow.parquet as pq

        ids = pq.read_table(self.path, columns=["doc_id"])["doc_id"].to_numpy()
        if len(np.unique(ids)) != len(ids):
            raise ValueError("document ids are not unique")
        self.prior = np.sort(ids[ids % 3 != 0])
        new = np.sort(ids[ids % 3 == 0])
        self.batches = np.array_split(new, self.BATCHES[size])
        # a kind per batch: every timed phase runs all of them, in order
        self.kinds = tuple(f"batch{j}" for j in range(len(self.batches)))
        seen = set(self.prior.tolist())
        for b in self.batches:  # the lifecycle requires disjoint ids
            if seen.intersection(b.tolist()):
                raise ValueError("a batch shares doc ids with the index")
            seen.update(b.tolist())
        pairs = np.load(os.path.join(self.data, "near_dup_pairs.npy"))
        self.pairs = [tuple(p) for p in pairs.tolist()]
        self.index_dir = None
        self.idx = None
        self._builds = 0

    @property
    def max_ops(self) -> int:
        return len(self.batches)

    def prepare(self):
        from pyspark.sql import functions as F

        from cms_topn_spark.operators.dedup import minhash_index_build

        self._builds += 1
        self.index_dir = os.path.join(self.work_dir, f"minhash_index_{self._builds}")
        docs = self.spark.read.parquet(self.path)
        with self.tracer.span("operators.dedup.minhash_index_build", "operators.dedup"):
            self.idx = minhash_index_build(docs.where(F.col("doc_id") % 3 != 0), self.index_dir)

    def op(self, i):
        from pyspark.sql import functions as F

        from cms_topn_spark.operators.dedup import incremental_near_dup, minhash_index_append

        b = self.batches[i]
        col = F.col("doc_id")
        batch = self.spark.read.parquet(self.path).where(
            col.between(int(b[0]), int(b[-1])) & (col % 3 == 0)
        )
        layer = "operators.dedup"
        with self.tracer.span("operators.dedup.incremental_near_dup", layer):
            out = incremental_near_dup(
                batch, self.idx, threshold=self.THRESHOLD, index_dir=self.index_dir
            )
        with self.tracer.span("collect", layer):
            got = sorted((r["a_id"], r["b_id"]) for r in out.collect())
        with self.tracer.span("operators.dedup.minhash_index_append", layer):
            self.idx = minhash_index_append(batch, self.index_dir)
        return got

    def expected_pairs(self, i: int) -> list[tuple[int, int]]:
        """Pairs touching batch i whose other side is in the index by then."""
        batch = set(self.batches[i].tolist())
        known = set(self.prior.tolist()).union(*(set(b.tolist()) for b in self.batches[: i + 1]))
        return sorted(
            p for p in self.pairs
            if (p[0] in batch or p[1] in batch) and p[0] in known and p[1] in known
        )

    def docs(self, i):
        return len(self.batches[i])

    def check(self, i, got):
        want = self.expected_pairs(i)
        return [] if got == want else [f"{len(got)} pairs, expected {len(want)}"]


WORKLOADS = {w.name: w for w in (SketchQueries, NearDupIncremental)}
