"""Seeded benchmark inputs and their exact expected answers.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files and the same expectations. Inputs are cached
under ``<checkout>/.perfbench_cache/<kind>-<size>-s<seed>-<source hash>``,
so an edit to this file or to the library's web-pages generator invalidates
the cache. Generation time is never part of a measured metric.

Three datasets:

- ``webpages``: the flagship table (``url, warc_ts, html, text, lang``) from
  ``cms_topn_spark.sources.webpages``, over the seed-shifted id range
  ``[s * 2**24, s * 2**24 + n)`` with ``s = seed mod 2**18``, written as
  several files so the scan has several tasks. Expectations: DuckDB's exact host and token counts and
  the exact distinct-URL count.
- ``tables`` and ``documents``: a stand-in for ``tools/make_scaled_data.py``'s
  10x stacking. The tool stacks shifted copies of the fixed sf0.1 test
  tables; here the base tables come from a seeded generator of the same
  shape (events, lineitem, orders, customer, documents) and are stacked the
  same way: ids shift per copy (document ids by a multiple of 30, so
  ``doc_id % 3`` is kept), and copy ``k > 0`` prefixes every non-first word
  of each document with ``k`` in hex, so near-duplicate pairs exist only
  within a copy. The base has the shape of sf0.1 scaled down ten times,
  except lineitem, which stacks to more than the 2**21 items
  ``kll_price_quantiles`` keeps exactly, so that query's sketch compacts.
  ``tables`` holds the four analyst tables with the DuckDB answers of the
  exact-regime queries and the sorted ``l_extendedprice`` column (for the
  KLL rank-error check); ``documents`` holds the documents with the exact
  set of pairs at char-8-gram Jaccard >= 0.8 (for near-dup).

Run as a script to build the cache: ``python3 perfbench/datagen.py --seed 1
[--size full|tiny] [webpages] [tables] [documents]``. The benchmark does so
in a child process, so generation never inflates ``driver_peak_rss_mb``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
ID_SEEDS = 1 << 18  # webpages ids start at (seed mod 2**18) * 2**24, below 2**43

SIZES = {
    # webpages docs / files; base rows of the stand-in tables; copies stacked
    "full": dict(pages=100_000, page_files=8, events=10_000, users=150,
                 orders=15_000, customers=1_500, lineitem=240_000, docs=600,
                 copies=10),
    "tiny": dict(pages=8_000, page_files=4, events=1_000, users=40,
                 orders=1_500, customers=150, lineitem=6_000, docs=120,
                 copies=3),
}

EXACT_QUERIES = (
    "grouped_kll_quantiles",
    "grouped_topn",
    "tdigest_median_by_type",
    "hll_users_by_type",
    "cms_topn_frequency_probe",
    "bloom_customer_semijoin",
)
NEAR_DUP_THRESHOLD = 0.8
SHINGLE = 8


def source_hash() -> str:
    """Digest of every generator source an input depends on."""
    from cms_topn_spark.sources import webpages

    h = hashlib.sha256()
    for path in (os.path.abspath(__file__), webpages.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _cached(kind: str, seed: int, size: str, build) -> str:
    out = os.path.join(CACHE, f"{kind}-{size}-s{seed}-{source_hash()}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, seed, SIZES[size])
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def load_expected(dataset_dir: str) -> dict:
    with open(os.path.join(dataset_dir, "expected.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ webpages


def _build_webpages(out: str, seed: int, p: dict) -> None:
    import duckdb

    from cms_topn_spark.sources.webpages import _columns_for_ids

    n, files = p["pages"], p["page_files"]
    first = (seed % ID_SEEDS) << 24
    bounds = np.linspace(first, first + n, files + 1).astype(np.int64)
    pages = os.path.join(out, "pages")
    os.makedirs(pages)
    for i in range(files):
        ids = np.arange(bounds[i], bounds[i + 1], dtype=np.int64)
        pq.write_table(pa.table(_columns_for_ids(ids)), os.path.join(pages, f"part-{i:04d}.parquet"))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    src = f"read_parquet('{pages}/*.parquet')"
    hosts = con.execute(
        f"SELECT regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS h, count(*) "
        f"FROM {src} GROUP BY 1"
    ).fetchall()
    tokens = con.execute(
        f"SELECT t, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS t "
        f"FROM {src}) GROUP BY 1"
    ).fetchall()
    n_docs, distinct_urls = con.execute(
        f"SELECT count(*), count(DISTINCT url) FROM {src}"
    ).fetchone()
    con.close()
    expected = {
        "n_docs": int(n_docs),
        "distinct_urls": int(distinct_urls),
        "host_counts": {h: int(c) for h, c in hosts},
        "token_counts": {t: int(c) for t, c in tokens},
        "n_tokens": int(sum(c for _, c in tokens)),
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


def webpages(seed: int, size: str = "full") -> str:
    """Directory holding ``pages/*.parquet`` and ``expected.json``."""
    return _cached("webpages", seed, size, _build_webpages)


# ---------------------------------------------------------- stand-in tables

_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_US_2024 = 1_704_067_200 * 1_000_000


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(3, 10, n)
    letters = rng.integers(ord("a"), ord("z") + 1, int(lens.sum()), dtype=np.uint8)
    ends = np.cumsum(lens)
    buf = letters.tobytes().decode()
    return np.array([buf[e - l : e] for e, l in zip(ends, lens)], dtype=object)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Zipf-worded texts; about one doc in eight is an edited copy of an
    earlier doc, with few edits (a near-duplicate) or many (a candidate the
    exact verify rejects)."""
    vocab = _words(rng, 3000)
    w = 1.0 / np.arange(1, len(vocab) + 1)
    w /= w.sum()
    docs: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.125:
            words = list(docs[int(rng.integers(0, i))])
            edits = int(rng.integers(1, 4)) if rng.random() < 0.6 else int(rng.integers(8, 15))
            for pos in rng.integers(0, len(words), edits):
                words[pos] = vocab[rng.choice(len(vocab), p=w)]
        else:
            words = list(vocab[rng.choice(len(vocab), int(rng.integers(40, 81)), p=w)])
        docs.append(words)
    text = pa.array([" ".join(d) for d in docs], pa.string())
    langs = np.array(["en", "de", "fr"])[rng.integers(0, 3, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": pa.array(langs.astype(str)),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "n_chars": pa.array([len(" ".join(d)) for d in docs], pa.int64()),
    })


def _base_tables(seed: int, p: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed % (1 << 63), 0x5EED])
    ne, nu = p["events"], p["users"]
    events = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(_US_2024 + np.cumsum(rng.integers(1, 300_000_000, ne)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nu, ne).astype(np.int64)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, ne)].astype(str)),
        "value": pa.array(np.round(rng.exponential(40.0, ne) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nc, no, nl = p["customers"], p["orders"], p["lineitem"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(
            np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"])
            [rng.integers(0, 5, nc)].astype(str)),
    })
    # two customers in three place orders, so the semi-join drops a third
    buyers = np.flatnonzero(rng.random(nc) < 2 / 3)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), no)].astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, no)].astype(str)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, no), 2)),
        "o_orderdate": pa.array(_US_2024 + rng.integers(0, 2_000, no) * 86_400_000_000,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, no)].astype(str)),
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, no, nl)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].astype(str)),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, nl)].astype(str)),
        "l_shipdate": pa.array(_US_2024 + rng.integers(0, 2_500, nl) * 86_400_000_000,
                               pa.timestamp("us")),
    })
    return {"events": events, "customer": customer, "orders": orders,
            "lineitem": lineitem, "documents": _documents(rng, p["docs"])}


def _shift(t: pa.Table, col: str, by: int) -> pa.Table:
    import pyarrow.compute as pc

    i = t.schema.get_field_index(col)
    return t.set_column(i, col, pc.add(t[col], pa.scalar(by, pa.int64())))


def _step(t: pa.Table, col: str) -> int:
    import pyarrow.compute as pc

    return int(pc.max(t[col]).as_py()) + 1


def _stack(base: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    """The make_scaled_data stacking: per-copy id shifts that keep foreign
    keys consistent, and per-copy word prefixes on document text."""
    import pyarrow.compute as pc

    ev, li, od, cu, docs = (base[k] for k in ("events", "lineitem", "orders", "customer", "documents"))
    eid, uid = _step(ev, "event_id"), _step(ev, "user_id")
    ok, ck, pk = _step(od, "o_orderkey"), _step(cu, "c_custkey"), _step(li, "l_partkey")
    doc_step = ((_step(docs, "doc_id") - 1) // 30 + 1) * 30
    out: dict[str, list[pa.Table]] = {k: [] for k in base}
    for k in range(copies):
        out["events"].append(_shift(_shift(ev, "event_id", k * eid), "user_id", k * uid))
        out["lineitem"].append(_shift(_shift(li, "l_orderkey", k * ok), "l_partkey", k * pk))
        out["orders"].append(_shift(_shift(od, "o_orderkey", k * ok), "o_custkey", k * ck))
        out["customer"].append(_shift(cu, "c_custkey", k * ck))
        t = docs
        if k:
            text = pc.replace_substring(t["text"], " ", f" {k:x}")
            t = t.set_column(t.schema.get_field_index("text"), "text", text)
            t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                             pc.cast(pc.utf8_length(text), pa.int64()))
        out["documents"].append(_shift(t, "doc_id", k * doc_step))
    return {name: pa.concat_tables(parts).combine_chunks() for name, parts in out.items()}


def doc_grams(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Distinct char-8-grams (UTF-8 byte windows, packed as uint64 words) of
    each text, as ``(doc_index, gram)`` sorted by doc then gram. A text
    shorter than 8 bytes has its one zero-padded gram."""
    bs = [t.encode("utf-8") for t in texts]
    lens = np.array([len(b) for b in bs], np.int64)
    buf = np.frombuffer(b"".join(b + b"\0" * SHINGLE for b in bs) + b"\0" * SHINGLE, np.uint8)
    off = np.r_[0, np.cumsum(lens + SHINGLE)[:-1]]
    n = np.maximum(lens - SHINGLE + 1, 1)
    doc = np.repeat(np.arange(len(bs)), n)
    start = off[doc] + np.arange(int(n.sum())) - np.repeat(np.r_[0, np.cumsum(n)[:-1]], n)
    win = np.lib.stride_tricks.sliding_window_view(buf, SHINGLE)[start]
    gram = np.ascontiguousarray(win).view("<u8").ravel()
    bounds = np.r_[0, np.cumsum(n)]
    per_doc = [np.unique(gram[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    sizes = [len(g) for g in per_doc]
    return np.repeat(np.arange(len(bs)), sizes), np.concatenate(per_doc)


def near_dup_pairs(ids: np.ndarray, texts: list[str], threshold: float) -> np.ndarray:
    """Exact all-pairs gram-Jaccard join, (a_id, b_id) with a_id < b_id.

    Prefix filtering: order grams by corpus frequency (rarest first); a pair
    at Jaccard >= t must share a gram among the first |x| - ceil(t|x|) + 1
    grams of both sides, so only pairs sharing a prefix gram are verified.
    The candidate set is exact, and each candidate's Jaccard is computed
    from the full gram sets."""
    doc, gram = doc_grams(texts)
    uniq, inv, counts = np.unique(gram, return_inverse=True, return_counts=True)
    rank = np.empty(len(uniq), np.int64)
    rank[np.lexsort((uniq, counts))] = np.arange(len(uniq))  # rarest first
    sizes = np.bincount(doc, minlength=len(texts))
    t = Fraction(threshold).limit_denominator(1000)
    prefix = sizes - (-(-t.numerator * sizes // t.denominator)) + 1
    r = rank[inv]
    bounds = np.r_[0, np.cumsum(sizes)]
    prank = np.concatenate(
        [np.sort(r[a:b])[:k] for a, b, k in zip(bounds[:-1], bounds[1:], prefix)]
    )
    pdoc = np.repeat(np.arange(len(texts)), prefix)
    order = np.argsort(prank, kind="stable")
    pdoc, prank = pdoc[order], prank[order]
    starts = np.flatnonzero(np.r_[True, prank[1:] != prank[:-1]])
    ends = np.r_[starts[1:], len(prank)]
    cand = set()
    for s, e in zip(starts[ends - starts > 1], ends[ends - starts > 1]):
        ds = pdoc[s:e].tolist()
        cand.update((a, b) for i, a in enumerate(ds) for b in ds[i + 1 :])
    pairs = []
    for a, b in cand:
        ga, gb = gram[bounds[a] : bounds[a + 1]], gram[bounds[b] : bounds[b + 1]]
        inter = len(np.intersect1d(ga, gb, assume_unique=True))
        if float(inter) / float(len(ga) + len(gb) - inter) >= float(threshold):
            x, y = int(ids[a]), int(ids[b])
            pairs.append((min(x, y), max(x, y)))
    return np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)


def _build_tables(out: str, seed: int, p: dict) -> None:
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    tables = _stack(_base_tables(seed, p), p["copies"])
    del tables["documents"]
    con = duckdb.connect()
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracles = entry.oracle_sql()
    expected = {"oracle": {}, "rows": {n: t.num_rows for n, t in tables.items()}}
    for name in EXACT_QUERIES:
        res = con.execute(oracles[name])
        expected["oracle"][name] = {
            "columns": [d[0] for d in res.description],
            "rows": [list(r) for r in res.fetchall()],
        }
    con.close()
    prices = np.sort(tables["lineitem"]["l_extendedprice"].to_numpy())
    np.save(os.path.join(out, "prices_sorted.npy"), prices)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


def _build_documents(out: str, seed: int, p: dict) -> None:
    docs = _stack(_base_tables(seed, p), p["copies"])["documents"]
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pairs = near_dup_pairs(docs["doc_id"].to_numpy(), docs["text"].to_pylist(),
                           NEAR_DUP_THRESHOLD)
    np.save(os.path.join(out, "near_dup_pairs.npy"), pairs)


def tables(seed: int, size: str = "full") -> str:
    """Directory holding the analyst ``<table>.parquet`` files and their
    expectations."""
    return _cached("tables", seed, size, _build_tables)


def documents(seed: int, size: str = "full") -> str:
    """Directory holding ``documents.parquet`` and ``near_dup_pairs.npy``."""
    return _cached("documents", seed, size, _build_documents)


if __name__ == "__main__":
    import argparse
    import time

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    builders = {"webpages": webpages, "tables": tables, "documents": documents}
    ap.add_argument("datasets", nargs="*", choices=sorted(builders), default=sorted(builders))
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    for name in args.datasets:
        t0 = time.perf_counter()
        d = builders[name](args.seed, args.size)
        print(f"{d} ({time.perf_counter() - t0:.1f} s)", file=sys.stderr)
