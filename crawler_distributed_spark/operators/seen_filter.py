"""Partitioned bloom-filter URL-seen pre-filter (north rule C4).

The exact URL-seen test is the anti-join against the admitted deltas
(operators/admission.py:filter_unseen) — that stays, as the correctness
backstop. This module adds the scale path the north rule prescribes:
a **bucket-partitioned bloom filter** over `xxhash64(url_norm)` that
splits each candidate batch into

  definitely-unseen  (bloom miss → admitted directly, NO shuffle)
  maybe-seen         (bloom hit → exact anti-join on this subset only)

Bloom properties used: no false negatives (a miss is proof of novelty),
false positives only cost a trip through the exact join. At steady state
almost every discovered URL is already seen (re-discovered links), so the
anti-join probe side shrinks to the novelty rate × (1 + fp-rate).

Layout: bucket = pmod(xxhash64(url_norm), n_buckets); one row per bucket
holding the bitmap as ``array<long>`` words (little-endian bit order:
overall bit ``i`` lives at bit ``i % 64`` of word ``i // 64``). The k
hash probes are ``pmod(xxhash64(url_norm, seed_k), bits_per_bucket)``.

Probe: a left join of the candidates to the bloom rows on bucket, then
pure Column bit tests (``getbit`` on the word array) — zero Python. When
the WHOLE bloom table fits the broadcast budget (``n_buckets ·
bits_per_bucket / 8`` bytes ≤ ``broadcast_max_bytes``) the join carries
a broadcast hint, so the candidates are never shuffled. Above it
(10^10-seen-row blooms are tens of GB) the hint is dropped and the same
join runs as a bucket-keyed shuffle join — each task meets only its
buckets' bitmaps, nothing is broadcast, which is what keeps the filter
partition-local at scale. Build and merge stay bucket-local; merge is a
plain JVM zip_with OR over the word arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, words array<long>"

# bloom tables at or under this many bitmap bytes are broadcast to the
# probe in bloom_split; larger ones are joined by a bucket-keyed shuffle
BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def _bucket_col(url_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def _probe_idx(url_col: str, i: int, bits_per_bucket: int):
    """Bit index of probe ``i`` — floored mod, matching numpy's ``%``."""
    return F.pmod(F.xxhash64(F.col(url_col), F.lit(i)), F.lit(bits_per_bucket))


def build_bloom_delta(
    seen_delta: DataFrame,
    url_col: str = "url_norm",
    n_buckets: int = 64,
    bits_per_bucket: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """(bucket, words) rows for a batch of newly-seen URLs."""
    assert bits_per_bucket % 64 == 0, "bits_per_bucket must be word-aligned"
    hashed = seen_delta.select(
        _bucket_col(url_col, n_buckets).alias("_bucket"),
        *[_probe_idx(url_col, i, bits_per_bucket).alias(f"_h{i}") for i in range(k)],
    )
    h_names = [f"_h{i}" for i in range(k)]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        words = np.zeros(bits_per_bucket // 64, dtype=np.uint64)
        for name in h_names:
            idx = pdf[name].to_numpy(dtype=np.int64)
            np.bitwise_or.at(
                words, idx // 64, np.left_shift(np.uint64(1), (idx % 64).astype(np.uint64))
            )
        return pd.DataFrame(
            {
                "bucket": [int(pdf["_bucket"].iloc[0])],
                "words": [words.view(np.int64)],
            }
        )

    return hashed.groupBy("_bucket").applyInPandas(
        lambda key, pdf: build(pdf), schema=BLOOM_SCHEMA
    )


def merge_blooms(a: DataFrame | None, b: DataFrame) -> DataFrame:
    """OR-merge two bloom tables — pure JVM since r6: a full outer join on
    bucket (O(n_buckets) rows) + ``zip_with`` bitwise OR over the word
    arrays. The pre-r6 Python cogroup paid two exchanges and a Python
    round trip per batch for what is one tiny JVM join."""
    if a is None:
        return b
    wa = a.select("bucket", F.col("words").alias("_wa"))
    wb = b.select("bucket", F.col("words").alias("_wb"))
    merged = F.coalesce(
        F.zip_with("_wa", "_wb", lambda x, y: x.bitwiseOR(y)),
        F.col("_wa"),
        F.col("_wb"),
    )
    return wa.join(wb, "bucket", "full").select("bucket", merged.alias("words"))


def bloom_split(
    candidates: DataFrame,
    bloom: DataFrame,
    url_col: str = "url_norm",
    n_buckets: int = 64,
    bits_per_bucket: int = 1 << 20,
    k: int = 4,
    broadcast_max_bytes: int = BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Tag candidates with ``maybe_seen``: False = bloom miss = provably
    novel (skip the exact join); True = needs the anti-join.

    One probe, two join strategies (see module docstring): the bloom is
    broadcast when it fits ``broadcast_max_bytes``, else shuffle-joined
    on bucket. ``n_buckets``/``bits_per_bucket``/``k`` must match the
    ``build_bloom_delta`` call that built ``bloom``."""
    words = bloom.select("bucket", F.col("words").alias("_bw"))
    if n_buckets * (bits_per_bucket // 8) <= broadcast_max_bytes:
        words = F.broadcast(words)
    joined = candidates.withColumn("_bucket", _bucket_col(url_col, n_buckets)).join(
        words, F.col("_bucket") == F.col("bucket"), "left"
    )
    hit = None
    for i in range(k):
        idx = _probe_idx(url_col, i, bits_per_bucket)
        word = F.get(F.col("_bw"), (idx / F.lit(64)).cast("int"))
        test = F.getbit(word, F.pmod(idx, F.lit(64)).cast("int")) == 1
        hit = test if hit is None else (hit & test)
    maybe = F.col("_bw").isNotNull() & F.coalesce(hit, F.lit(False))
    return joined.withColumn("maybe_seen", maybe).drop("bucket", "_bucket", "_bw")
