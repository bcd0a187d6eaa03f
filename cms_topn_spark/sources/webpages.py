"""Deterministic Common-Crawl-style web-pages table (the north-rule input).

Schema fixed by BASELINE.json's input_hint:

    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

Every value is a pure function of the row id (counter-based splitmix64
hashing — no RNG state, no wall clock), so the table is identical for any
partitioning, cluster size, or run — the property the scaling benchmark and
the resume tests rely on. Hosts and tokens are Zipf-distributed so
heavy-hitter queries have real skew to chew on.

The per-row invariant the north star pins: ``extract_text(html)`` is
byte-identical to ``text`` per url. ``html`` is a deterministic wrapper
``<html><body><p>{text}</p></body></html>`` (FIXTURES.md §5) and
``extract_text`` is implemented with native Spark expressions (no Python).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .parquet_direct import parallelism_floor

U64 = np.uint64

N_HOSTS = 1000
HOST_ZIPF_S = 1.2
VOCAB_SIZE = 10_000
TOKEN_ZIPF_S = 1.2
MIN_TOKENS, TOKEN_SPREAD = 20, 61
LANGS = ["en", "de", "fr", "es", "it"]
LANG_WEIGHTS = [50, 15, 15, 10, 10]
TLDS = ["com", "org", "net"]
EPOCH_2026 = 1_767_225_600  # 2026-01-01T00:00:00Z

HTML_PREFIX = "<html><body><p>"
HTML_SUFFIX = "</p></body></html>"

WEBPAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based hash (splitmix64, public domain constants)."""
    z = x.astype(U64) + U64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
    return z ^ (z >> U64(31))


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())


_HOST_CDF = _zipf_cdf(N_HOSTS, HOST_ZIPF_S)
_TOKEN_CDF = _zipf_cdf(VOCAB_SIZE, TOKEN_ZIPF_S)
_LANG_CDF = np.cumsum(np.asarray(LANG_WEIGHTS, dtype=np.float64) / sum(LANG_WEIGHTS))


def _u01(h: np.ndarray) -> np.ndarray:
    return h.astype(np.float64) / float(2**64)


_VOCAB = None


def _vocab() -> "pa.Array":
    import pyarrow as pa

    global _VOCAB
    if _VOCAB is None:
        _VOCAB = pa.array([f"tok{j}" for j in range(VOCAB_SIZE)], pa.string())
    return _VOCAB


def _columns_for_ids(ids: np.ndarray) -> dict:
    """Row id → all five columns, fully vectorized (numpy + Arrow C++)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(ids)
    ids = ids.astype(np.int64)
    host_idx = np.searchsorted(_HOST_CDF, _u01(_splitmix64(ids * 7 + 1)))
    tld_idx = _splitmix64(ids * 7 + 2) % U64(len(TLDS))
    lang_idx = np.searchsorted(_LANG_CDF, _u01(_splitmix64(ids * 7 + 3)))
    n_tokens = (MIN_TOKENS + (_splitmix64(ids * 7 + 4) % U64(TOKEN_SPREAD))).astype(np.int64)

    # token stream: counter = id * 2^20 + k (doc lengths < 2^20)
    doc_rep = np.repeat(np.arange(n), n_tokens)
    within = np.arange(int(n_tokens.sum())) - np.repeat(
        np.concatenate(([0], np.cumsum(n_tokens)[:-1])), n_tokens
    )
    counters = ids[doc_rep] * (1 << 20) + within + 5
    tok_idx = np.searchsorted(_TOKEN_CDF, _u01(_splitmix64(counters)))

    # doc texts: dictionary-decode token ids, list-wrap, join in Arrow C++
    tok_arr = pa.DictionaryArray.from_arrays(
        pa.array(tok_idx, pa.int32()), _vocab()
    ).dictionary_decode()
    offsets = np.concatenate(([0], np.cumsum(n_tokens))).astype(np.int32)
    tok_lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), tok_arr)
    texts = pc.binary_join(tok_lists, " ")

    join = pc.binary_join_element_wise
    s = lambda a: pa.array(a, pa.string())
    np_str = lambda x: np.char.mod("%d", x)
    hosts = s(np.char.add(np.char.add("host-", np_str(host_idx)), ".example."))
    tlds = pa.DictionaryArray.from_arrays(
        pa.array(tld_idx.astype(np.int32), pa.int32()), pa.array(TLDS, pa.string())
    ).dictionary_decode()
    urls = join(
        pa.array(["https://"] * n, pa.string()),
        hosts,
        tlds,
        s(np.char.add("/path/", np_str(ids))),
        "",
    )
    htmls = pc.cast(
        join(pa.array([HTML_PREFIX] * n, pa.string()), texts, pa.array([HTML_SUFFIX] * n), ""),
        pa.binary(),
    )
    ts = pa.array((EPOCH_2026 + ids) * 1_000_000, pa.int64()).cast(pa.timestamp("us"))
    langs = pa.DictionaryArray.from_arrays(
        pa.array(lang_idx.astype(np.int32), pa.int32()), pa.array(LANGS, pa.string())
    ).dictionary_decode()
    return {"url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": langs}


def generate_webpages(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInArrow."""
    rng = spark.range(0, n_docs, 1, partitions or parallelism_floor())

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column(0).to_numpy()
            cols = _columns_for_ids(ids)
            yield pa.RecordBatch.from_pydict(cols)

    return rng.mapInArrow(fn, WEBPAGES_SCHEMA)


def extract_text(html_col: Column) -> Column:
    """Native-Spark text extraction; byte-identical to ``text`` per url.

    The wrapper is fixed-width (15-byte prefix, 18-byte suffix), so a
    substring is exact — and stays inside whole-stage codegen."""
    decoded = F.decode(html_col, "UTF-8")
    return decoded.substr(
        F.lit(len(HTML_PREFIX) + 1),
        F.length(decoded) - F.lit(len(HTML_PREFIX) + len(HTML_SUFFIX)),
    )


def extract_host(url_col: Column) -> Column:
    """hostname from url with native functions (parse_url equivalent)."""
    return F.regexp_extract(url_col, r"^[a-z]+://([^/]+)/", 1)
