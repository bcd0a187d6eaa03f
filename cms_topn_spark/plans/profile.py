"""One-scan corpus profile: the flagship multi-sketch shape over documents.

The flagship job (plans/flagship.py) demonstrates "one scan → many
sketches" over the synthetic webpages table inside the benchmark; this
module puts the SAME shape under the correctness gate on the shared
``documents`` table: a single pass builds

- a token CMS top-n (heavy-hitter vocabulary),
- a distinct-text HLL (corpus dedup rate, sparse-exact at gate scale),
- a per-document token-length KLL (length distribution),

as ONE composite mergeable state — one projection-pruned scan, one
state-sized shuffle, every statistic read from the merged state. At 100 TB
this replaces N separate full-corpus aggregation jobs with one pass whose
exchange is a few sketch-sized rows.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from ..core import CmsTopn, HyperLogLog
from ..core import encoding as enc
from ..core.composite import CompositeSketch
from ..core.kll import KllSketch
from ..operators.build import sketch_agg
from ..sources.parquet_direct import Source


def profile_factory(n_tokens: int = 5, eps: float = 0.00002, hll_p: int = 14, kll_k: int = 1 << 18):
    def factory() -> CompositeSketch:
        return CompositeSketch(
            {
                "token_topn": CmsTopn(n_tokens, eps, 0.99, update="linear"),
                "text_hll": HyperLogLog(p=hll_p, sparse_limit=1 << 22),
                "len_kll": KllSketch(kll_k),
            }
        )

    return factory


def profile_ingest(sk: CompositeSketch, batch: pa.RecordBatch) -> None:
    """batch columns: (text string)."""
    import numpy as np

    from ..core.murmur import MURMUR_SEED, hash128

    texts = batch.column(0)
    if texts.null_count:
        texts = texts.drop_null()
    if len(texts) == 0:
        return
    data, offs, lens = enc.encode_arrow_strings(texts)
    h1, _h2 = hash128(data, offs, lens, MURMUR_SEED)
    sk["text_hll"]._bind_type(enc.TYPE_STRING)
    sk["text_hll"].add_hashes(np.unique(h1))
    split = pc.split_pattern(texts, " ")
    sk["len_kll"].add_batch(
        pc.list_value_length(split).to_numpy(zero_copy_only=False).astype(np.float64)
    )
    # tokens: pre-aggregate in Arrow C++ so the hash kernel sees each
    # distinct token once with its count (same trick as the flagship)
    vc = pc.value_counts(pc.list_flatten(split))
    vals = vc.field("values")
    counts_arr = vc.field("counts")
    if vals.null_count:
        # filter values and counts with ONE validity mask — dropping nulls
        # from only the values side would misalign every later (token,
        # count) pair and silently corrupt frequencies
        keep = pc.is_valid(vals)
        vals = vals.filter(keep)
        counts_arr = counts_arr.filter(keep)
    data, offs, lens = enc.encode_arrow_strings(vals)
    counts = counts_arr.to_numpy(zero_copy_only=False)
    sk["token_topn"].add_packed(data, offs, lens, counts=counts, type_tag=enc.TYPE_STRING)


def corpus_profile(src: Source, text_col: str = "text", n_tokens: int = 5) -> dict:
    """One-scan profile → dict of scalars (all exact at gate widths), over a
    DataFrame or a ``ParquetSource`` (one partial composite state per file,
    or per row group, pyarrow-pruned to the text column, no JVM row pivot —
    gated as ``corpus_profile_direct``).

    Empty / all-NULL corpora return the well-defined empty profile instead
    of crashing (sketch_agg yields None there). A tie at the maximum token
    frequency is broken lexicographically — the CMS top-n's own tie order
    is insertion-sequence (merge-order dependent), which would make the
    reported token nondeterministic across partitionings. Limitation: the
    tie-break only sees the ``n_tokens`` entries the heap RETAINS — if more
    than ``n_tokens`` tokens tie at the maximum frequency, which tied
    tokens survive the heap is itself merge-order dependent, so
    ``top_token`` is deterministic only while max-frequency ties fit within
    ``n_tokens``. Corpora that may tie wider should raise ``n_tokens``
    above the expected tie width."""
    sk = sketch_agg(
        src, profile_factory(n_tokens=n_tokens), profile_ingest, columns=[text_col]
    )
    return _profile_readout(sk)


def _profile_readout(sk) -> dict:
    if sk is None:
        return {
            "distinct_texts": 0,
            "total_tokens": 0,
            "top_token": None,
            "top_token_freq": 0,
            "len_q25": None,
            "len_q50": None,
            "len_q75": None,
        }
    top = sk["token_topn"].topn_list()
    top_freq = int(top[0][1]) if top else 0
    tied = sorted(str(t) for t, f in top if int(f) == top_freq)
    q25, q50, q75 = sk["len_kll"].quantiles([0.25, 0.5, 0.75])
    return {
        "distinct_texts": int(sk["text_hll"].estimate()),
        "total_tokens": int(sk["token_topn"].total),
        "top_token": tied[0] if tied else None,
        "top_token_freq": top_freq,
        "len_q25": float(q25) if q25 is not None else None,
        "len_q50": float(q50) if q50 is not None else None,
        "len_q75": float(q75) if q75 is not None else None,
    }
