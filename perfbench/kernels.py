"""In-process, single-threaded timings of the ``core`` sketch kernels and of
``plans.flagship.flagship_ingest`` on a fixed sample of a workload's input.

Each timing is the median of several repeats on a fresh sketch; sketch
construction is outside the timed call. The sample is a fixed number of
rows from the workload's own seeded data:

- sketch_queries: webpages ``url`` (items for hash, CMS and HLL) and
  lineitem ``l_extendedprice`` (values for KLL);
- neardup_incremental: document ``text`` (items) and ``n_chars`` (values).

``flagship_ingest`` always runs on the first webpages rows of the seed,
the batch the flagship build starts with.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

SAMPLE_ROWS = 16_384
REPEATS = 5


def _median_time(fn, setup=lambda: None) -> float:
    times = []
    for _ in range(REPEATS):
        arg = setup()
        t0 = time.perf_counter()
        fn(arg)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _sample(workload) -> tuple[pa.Array, np.ndarray]:
    if workload.name == "sketch_queries":
        pages = os.path.join(workload.pages, "pages")
        first = pq.ParquetFile(os.path.join(pages, sorted(os.listdir(pages))[0]))
        urls = next(first.iter_batches(SAMPLE_ROWS, columns=["url"])).column(0)
        prices = pq.read_table(os.path.join(workload.data, "lineitem.parquet"),
                               columns=["l_extendedprice"])["l_extendedprice"]
        return urls, prices.to_numpy()[:SAMPLE_ROWS].astype(np.float64)
    docs = pq.read_table(workload.path, columns=["text", "n_chars"])
    return (docs["text"].combine_chunks()[:SAMPLE_ROWS],
            docs["n_chars"].to_numpy()[:SAMPLE_ROWS].astype(np.float64))


def kernel_metrics(workload) -> dict[str, float]:
    from cms_topn_spark.core import CmsTopn, HyperLogLog
    from cms_topn_spark.core.base import sketch_from_bytes
    from cms_topn_spark.core.kll import KllSketch
    from cms_topn_spark.core.murmur import MURMUR_SEED, hash128
    from cms_topn_spark.operators.build import pack_arrow_array
    from cms_topn_spark.plans.flagship import flagship_factory, flagship_ingest
    from cms_topn_spark.sources.webpages import _columns_for_ids

    items, values = _sample(workload)
    data, offs, lens, tag = pack_arrow_array(items)
    half = len(lens) // 2

    def states(lo, hi):
        cms = CmsTopn(20, 0.001, 0.99, update="linear")
        cms.add_packed(data, offs[lo:hi], lens[lo:hi], type_tag=tag)
        hll = HyperLogLog(14)
        hll.add_packed(data, offs[lo:hi], lens[lo:hi], type_tag=tag)
        kll = KllSketch(4096)
        kll.add_batch(values[lo:hi])
        return [cms, hll, kll]

    m = {}
    m["core.hash128_s"] = _median_time(lambda _: hash128(data, offs, lens, MURMUR_SEED))
    m["core.cms_add_s"] = _median_time(
        lambda sk: sk.add_packed(data, offs, lens, type_tag=tag),
        lambda: CmsTopn(20, 0.001, 0.99, update="linear"),
    )
    m["core.hll_add_s"] = _median_time(
        lambda sk: sk.add_packed(data, offs, lens, type_tag=tag), lambda: HyperLogLog(14)
    )
    m["core.kll_add_s"] = _median_time(lambda sk: sk.add_batch(values), lambda: KllSketch(4096))
    a, b = states(0, half), states(half, len(lens))
    m["core.merge_s"] = _median_time(lambda _: [x.merge(y) for x, y in zip(a, b)])
    blobs = [s.to_bytes() for s in a]
    m["core.to_bytes_s"] = _median_time(lambda _: [s.to_bytes() for s in a])
    m["core.from_bytes_s"] = _median_time(lambda _: [sketch_from_bytes(x) for x in blobs])
    m["core.state_bytes"] = float(sum(len(x) for x in blobs))

    ids = ((workload.seed % datagen.ID_SEEDS) << 24) + np.arange(SAMPLE_ROWS, dtype=np.int64)
    cols = _columns_for_ids(ids)
    batch = pa.RecordBatch.from_arrays([cols["url"], cols["text"]], ["url", "text"])
    m["plans.flagship.ingest_s"] = _median_time(
        lambda sk: flagship_ingest(sk, batch), flagship_factory()
    )
    return m
