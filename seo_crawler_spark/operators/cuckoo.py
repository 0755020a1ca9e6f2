"""Partitioned cuckoo-filter URL-seen state — the deletable sibling of
the bloom path in :mod:`seen`.

Same wire protocol as the bloom filter (candidates → per-bucket probe →
exact verify kills false positives), same hash-bucketed layout
(``pmod(xxhash64(url), n_buckets)``), but the per-bucket state is a
partial-key cuckoo table instead of a bitmap, which buys the one thing a
bloom filter cannot do: **deletion**. A crawler at 10^10 URLs needs
eviction — recrawl scheduling (a URL whose TTL lapsed must become
admittable again) and per-host purges (robots change, site removed) —
and with a bloom filter the only option is a full rebuild of that
bucket's state. Cuckoo fingerprints delete in O(1) per URL.

Table layout per bucket: ``m`` cells × ``SLOTS`` slots of uint16
fingerprints (0 = empty). Partial-key cuckoo hashing (Fan et al.,
CoNEXT'14): an item with 64-bit ``h`` stores fingerprint
``fp = high16(h) | 1-if-zero`` at cell ``i1 = h & (m-1)`` or its XOR
partner ``i2 = i1 ^ mix(fp)``; membership checks both cells. Duplicate
(cell-pair, fp) signatures are stored as separate copies, so deleting
one inserted URL never creates a false negative for another.

At the 10^10 design point: 16 bits/entry at ~84% load ≈ 2.4 bytes/URL
→ ~24 GiB of filter state sharded over 4096 buckets (vs ~256 GiB of
bloom bitmaps at the same FPP) — and each wave's probe shuffles only
the candidates' 8-byte hashes, co-located with the state on the same
bucket key.

Reference parity: replaces the same in-memory Python sets
(src/core/link_manager.py:12-14) the bloom path replaces; the exact
verify step keeps the anti-join semantics identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .seen import with_bucket

SLOTS = 4
MAX_KICKS = 500
_FP_MIX = np.uint64(0x5BD1E995)  # odd multiplier decorrelates fp from i1

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("m", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
    ]
)

PROBE_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("maybe_seen", T.BooleanType(), False),
    ]
)


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the high bits of xxhash64 (the low
    bits already pick the bucket + cell; high bits are independent)."""
    fp = ((hashes.astype(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(
        np.uint16
    )
    fp[fp == 0] = 1
    return fp


def _cells(hashes: np.ndarray, fp: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    # i1 must be independent of the bucket id (pmod(h, n_buckets) eats
    # the low bits — using them again would concentrate every bucket's
    # items into m/n_buckets cells). Golden-ratio multiply + shift
    # (splitmix64's first round) decorrelates.
    mask = np.uint64(m - 1)
    with np.errstate(over="ignore"):
        z = hashes.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    i1 = ((z >> np.uint64(16)) & mask).astype(np.int64)
    with np.errstate(over="ignore"):
        i2 = (i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MIX)) & mask
    return i1, i2.astype(np.int64)


def _alt_cell(i: int, fp: int, m: int) -> int:
    return (i ^ (fp * int(_FP_MIX))) & (m - 1)


def size_for(n_items: int, load: float = 0.84) -> int:
    """Smallest power-of-two cell count that holds ``n_items`` at ≤ load."""
    need = max(1, int(np.ceil(n_items / (SLOTS * load))))
    return 1 << int(np.ceil(np.log2(need)))


def _insert_all(table: np.ndarray, i1s, i2s, fps, rng_state: int = 0x9E3779B9) -> None:
    """Insert each (i1, i2, fp); kicks are deterministic (LCG slot pick).
    Raises if a kick chain exceeds MAX_KICKS — callers size the table so
    this cannot happen below ~95% load."""
    m = table.shape[0]
    state = np.uint64(rng_state)
    for i1, i2, fp in zip(i1s.tolist(), i2s.tolist(), fps.tolist()):
        placed = False
        for cell in (i1, i2):
            row = table[cell]
            empt = np.nonzero(row == 0)[0]
            if len(empt):
                row[empt[0]] = fp
                placed = True
                break
        if placed:
            continue
        cell, cur = i1, fp
        for _ in range(MAX_KICKS):
            with np.errstate(over="ignore"):  # intended uint64 wraparound
                state = (state * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)) & np.uint64(0xFFFFFFFFFFFFFFFF)
            slot = int(state >> np.uint64(61)) % SLOTS
            cur, table[cell][slot] = int(table[cell][slot]), cur
            cell = _alt_cell(cell, cur, m)
            row = table[cell]
            empt = np.nonzero(row == 0)[0]
            if len(empt):
                row[empt[0]] = cur
                placed = True
                break
        if not placed:
            raise RuntimeError(
                f"cuckoo table overflow at m={m} — size_for() the build input"
            )


def cuckoo_build(
    seen: DataFrame,
    n_buckets: int = 64,
    m: int | None = None,
    load: float = 0.84,
) -> DataFrame:
    """Per-bucket cuckoo tables from the exact seen table (url_hash col).

    ``m`` fixes the cell count (power of two) for every bucket; None
    sizes each bucket independently from its own row count — buckets of
    one filter may differ, the probe reads ``m`` per row.
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        hashes = pdf["url_hash"].to_numpy()
        mm = m if m is not None else size_for(len(hashes), load)
        table = np.zeros((mm, SLOTS), dtype=np.uint16)
        fp = _fingerprints(hashes)
        i1, i2 = _cells(hashes, fp, mm)
        _insert_all(table, i1, i2, fp)
        return pd.DataFrame(
            {"bucket": [bucket], "m": [mm], "table": [table.tobytes()]}
        )

    return with_bucket(seen, n_buckets).groupBy("bucket").applyInPandas(
        build, CUCKOO_SCHEMA
    )


def cuckoo_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two same-sized cuckoo states per bucket (the per-wave
    incremental step, mirroring ``bloom_merge``).

    A stored entry (cell, fp) is re-inserted with its XOR partner
    ``cell ^ mix(fp)`` — under the SAME ``m`` that pair is exactly the
    original (i1, i2) set, so membership is preserved. Growth is
    deliberately NOT supported here: a partial-key table cannot re-key
    to a larger m from (cell, fp) alone (the original hash's bits above
    log2(m) are gone), so when a bucket outgrows its table the engine
    rebuilds that bucket from the exact seen table via
    :func:`cuckoo_build` — ground truth it always has. Callers size
    buckets for the crawl's URL budget up front (``size_for``).
    """

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        ms = {int(mm) for mm in pdf["m"]}
        if len(ms) != 1:
            raise ValueError(
                f"cuckoo_merge: bucket {bucket} mixes table sizes {sorted(ms)}; "
                "rebuild from the exact seen table to grow"
            )
        mm_out = ms.pop()
        out = np.zeros((mm_out, SLOTS), dtype=np.uint16)
        for buf in pdf["table"]:
            t = np.frombuffer(buf, dtype=np.uint16).reshape(mm_out, SLOTS)
            cells, slots = np.nonzero(t)
            fps = t[cells, slots]
            i1 = cells.astype(np.int64)
            i2 = (
                (i1.astype(np.uint64) ^ (fps.astype(np.uint64) * _FP_MIX))
                & np.uint64(mm_out - 1)
            ).astype(np.int64)
            _insert_all(out, i1, i2, fps)
        return pd.DataFrame(
            {"bucket": [bucket], "m": [mm_out], "table": [out.tobytes()]}
        )

    return a.unionByName(b).groupBy("bucket").applyInPandas(merge, CUCKOO_SCHEMA)


def cuckoo_probe(
    candidates: DataFrame,
    state: DataFrame,
    n_buckets: int = 64,
) -> DataFrame:
    """url_hash → maybe_seen via cogrouped per-bucket lookup.

    Fully vectorized: both candidate cells are gathered in two numpy
    fancy-index reads; only the 8-byte hash crosses the Arrow boundary.
    """
    cand = with_bucket(candidates.select("url_hash"), n_buckets)

    def probe(cand_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame({"url_hash": [], "maybe_seen": []}).astype(
                {"url_hash": "int64", "maybe_seen": "bool"}
            )
        hashes = cand_pdf["url_hash"].to_numpy()
        if state_pdf.empty:
            return pd.DataFrame(
                {"url_hash": hashes, "maybe_seen": np.zeros(len(hashes), dtype=bool)}
            )
        mm = int(state_pdf["m"].iloc[0])
        table = np.frombuffer(state_pdf["table"].iloc[0], dtype=np.uint16).reshape(
            mm, SLOTS
        )
        fp = _fingerprints(hashes)
        i1, i2 = _cells(hashes, fp, mm)
        hit = (table[i1] == fp[:, None]).any(axis=1) | (
            table[i2] == fp[:, None]
        ).any(axis=1)
        return pd.DataFrame({"url_hash": hashes, "maybe_seen": hit})

    return (
        cand.groupBy("bucket").cogroup(state.groupBy("bucket")).applyInPandas(
            probe, PROBE_SCHEMA
        )
    )


def cuckoo_delete(
    state: DataFrame,
    victims: DataFrame,
    n_buckets: int = 64,
) -> DataFrame:
    """Remove previously-inserted URLs (url_hash col) from the filter —
    the recrawl/TTL eviction primitive a bloom filter cannot offer.

    Safe under the standard cuckoo contract: only delete items that were
    inserted (the engine deletes from its own exact seen table, so this
    holds by construction). Each delete removes exactly one stored copy;
    identical-signature collisions keep their own copies, so no false
    negatives are introduced for still-inserted URLs.
    """
    vict = with_bucket(victims.select("url_hash"), n_buckets)

    def delete(state_pdf: pd.DataFrame, vict_pdf: pd.DataFrame) -> pd.DataFrame:
        if state_pdf.empty:
            return pd.DataFrame(
                {"bucket": [], "m": [], "table": []}
            ).astype({"bucket": "int32", "m": "int32"})
        bucket = int(state_pdf["bucket"].iloc[0])
        mm = int(state_pdf["m"].iloc[0])
        table = (
            np.frombuffer(state_pdf["table"].iloc[0], dtype=np.uint16)
            .reshape(mm, SLOTS)
            .copy()
        )
        if not vict_pdf.empty:
            hashes = vict_pdf["url_hash"].to_numpy()
            fp = _fingerprints(hashes)
            i1, i2 = _cells(hashes, fp, mm)
            for a, b, f in zip(i1.tolist(), i2.tolist(), fp.tolist()):
                for cell in (a, b):
                    row = table[cell]
                    pos = np.nonzero(row == f)[0]
                    if len(pos):
                        row[pos[0]] = 0
                        break
        return pd.DataFrame({"bucket": [bucket], "m": [mm], "table": [table.tobytes()]})

    return (
        state.groupBy("bucket").cogroup(vict.groupBy("bucket")).applyInPandas(
            delete, CUCKOO_SCHEMA
        )
    )


def dedupe_against_seen_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    cuckoo_state: DataFrame,
    n_buckets: int = 64,
) -> DataFrame:
    """candidates ∉ seen with the cuckoo filter pruning the exact join —
    drop-in for :func:`seen.dedupe_against_seen`'s bloom branch; the
    (hash, url) composite verify keeps exactness under fp collisions."""
    maybe = (
        cuckoo_probe(candidates, cuckoo_state, n_buckets)
        .filter(F.col("maybe_seen"))
        .select(F.col("url_hash").alias("__maybe_hash"))
    )
    suspect_seen = seen.join(
        maybe, seen.url_hash == F.col("__maybe_hash"), "left_semi"
    ).select(F.col("url_hash").alias("__seen_hash"), F.col("url").alias("__seen_url"))
    return candidates.join(
        suspect_seen,
        (candidates.url_hash == F.col("__seen_hash"))
        & (candidates.url == F.col("__seen_url")),
        "left_anti",
    )
