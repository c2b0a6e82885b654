"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every table is a pure function of ``(seed, size)``: the same seed writes the
same bytes. Each table draws from its own ``numpy`` stream
(``default_rng([seed, stream])``) so resizing one table never shifts another.

Interval tables are genomic in shape: 24 contigs with rows in proportion to
the human (GRCh38) chromosome lengths, fixed 150 bp reads, lognormal target
lengths clipped to 100 bp .. 200 kb, parquet sorted by ``(contig, start)``.
Coordinates are the real chromosome lengths divided by ``GENOME_SCALE`` so a
few hundred thousand reads already give the pair density (pairs per input
row) of a deep-coverage sample.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# GRCh38 primary assembly lengths.
CHROMOSOMES = (
    ("chr1", 248_956_422), ("chr2", 242_193_529), ("chr3", 198_295_559),
    ("chr4", 190_214_555), ("chr5", 181_538_259), ("chr6", 170_805_979),
    ("chr7", 159_345_973), ("chr8", 145_138_636), ("chr9", 138_394_717),
    ("chr10", 133_797_422), ("chr11", 135_086_622), ("chr12", 133_275_309),
    ("chr13", 114_364_328), ("chr14", 107_043_718), ("chr15", 101_991_189),
    ("chr16", 90_338_345), ("chr17", 83_257_441), ("chr18", 80_373_285),
    ("chr19", 58_617_616), ("chr20", 64_444_167), ("chr21", 46_709_983),
    ("chr22", 50_818_468), ("chrX", 156_040_895), ("chrY", 57_227_415),
)
GENOME_SCALE = 64
CONTIG_NAMES = [c for c, _ in CHROMOSOMES]
CONTIG_LENGTHS = np.array([n // GENOME_SCALE for _, n in CHROMOSOMES], dtype=np.int64)
READ_LEN = 150
TARGET_MIN, TARGET_MAX = 100, 200_000
FILES_PER_TABLE = 8
ROW_GROUP_ROWS = 32_768
# region request stream: timed requests, then untimed warm-up requests
REQUESTS, WARM_REQUESTS = 300, 60
HOT_REGIONS, HOT_SHARE = 20, 0.7  # a Zipf-popular hot set serves this share
COUNT_SHARE = 0.8  # counted requests; the rest fetch rows

# numpy stream ids, one per table
_READS, _TARGETS, _REQUESTS, _CORPUS = 1, 2, 3, 4


@dataclass(frozen=True)
class Sizes:
    reads: int = 400_000
    targets: int = 40_000
    docs: int = 6_000
    exact_groups: int = 150
    near_groups: int = 150


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _contigs(rng: np.random.Generator, n: int) -> np.ndarray:
    p = CONTIG_LENGTHS / CONTIG_LENGTHS.sum()
    return rng.choice(len(CONTIG_LENGTHS), size=n, p=p)


def _interval_table(ids, contig_idx, start, end, id_name) -> pa.Table:
    order = np.lexsort((end, start, contig_idx))
    return pa.table({
        id_name: pa.array(ids[order], pa.int64()),
        "contig": pa.array(np.array(CONTIG_NAMES, dtype=object)[contig_idx[order]], pa.string()),
        "pos_start": pa.array(start[order], pa.int32()),
        "pos_end": pa.array(end[order], pa.int32()),
    })


def reads(seed: int, n: int) -> pa.Table:
    """Fixed-length reads, uniform over the genome; closed ``[start, end]``."""
    rng = _rng(seed, _READS)
    ci = _contigs(rng, n)
    start = (rng.random(n) * (CONTIG_LENGTHS[ci] - READ_LEN)).astype(np.int64) + 1
    return _interval_table(np.arange(n), ci, start, start + READ_LEN - 1, "read_id")


def targets(seed: int, n: int) -> pa.Table:
    """Targets with lognormal lengths (median ~5 kb) clipped to 100 bp..200 kb."""
    rng = _rng(seed, _TARGETS)
    ci = _contigs(rng, n)
    length = np.clip(rng.lognormal(np.log(5_000), 1.4, n), TARGET_MIN, TARGET_MAX).astype(np.int64)
    start = (rng.random(n) * (CONTIG_LENGTHS[ci] - length)).astype(np.int64) + 1
    return _interval_table(np.arange(n), ci, start, start + length - 1, "target_id")


def _region(rng: np.random.Generator, n: int):
    ci = _contigs(rng, n)
    length = rng.integers(1_000, 100_001, n)
    start = (rng.random(n) * (CONTIG_LENGTHS[ci] - length)).astype(np.int64) + 1
    return ci, start, start + length - 1


def requests(seed: int, n: int = REQUESTS) -> pa.Table:
    """The region request stream, in send order.

    ``n`` timed requests: a Zipf-popular hot set of ``HOT_REGIONS`` (popular
    genes) serves ``HOT_SHARE`` of them; the rest are fresh cold regions.
    ``WARM_REQUESTS`` cold requests follow with ``warmup`` set, for the
    untimed passes, so the timed stream is the same however many ran.
    ``kind`` is ``count`` (a region read count) or ``fetch`` (the
    overlapping targets, collected).
    """
    rng = _rng(seed, _REQUESTS)
    total = n + WARM_REQUESTS
    hot_ci, hot_s, hot_e = _region(rng, HOT_REGIONS)
    zipf = 1.0 / np.arange(1, HOT_REGIONS + 1) ** 1.1
    hot = (rng.random(total) < HOT_SHARE) & (np.arange(total) < n)
    pick = rng.choice(HOT_REGIONS, size=total, p=zipf / zipf.sum())
    cold_ci, cold_s, cold_e = _region(rng, total)
    ci = np.where(hot, hot_ci[pick], cold_ci)
    kind = np.where(rng.random(total) < COUNT_SHARE, "count", "fetch")
    return pa.table({
        "req_id": pa.array(np.arange(total), pa.int64()),
        "kind": pa.array(kind.astype(object), pa.string()),
        "hot": pa.array(hot, pa.bool_()),
        "warmup": pa.array(np.arange(total) >= n, pa.bool_()),
        "contig": pa.array(np.array(CONTIG_NAMES, dtype=object)[ci], pa.string()),
        "pos_start": pa.array(np.where(hot, hot_s[pick], cold_s), pa.int32()),
        "pos_end": pa.array(np.where(hot, hot_e[pick], cold_e), pa.int32()),
    })


def corpus(seed: int, sizes: Sizes) -> pa.Table:
    """Documents of random words with planted duplicates.

    ``exact_groups`` originals get 1-3 byte-identical copies (``dup_group``
    names the group); ``near_groups`` originals get one copy with ~4% of the
    words replaced. Unrelated documents share almost no word 3-grams.
    """
    rng = _rng(seed, _CORPUS)
    vocab = np.array([f"w{i}" for i in range(20_000)], dtype=object)
    base = sizes.docs - sizes.near_groups
    originals = []
    for length in rng.integers(40, 160, size=base):
        originals.append(list(vocab[rng.integers(0, len(vocab), size=length)]))
    texts = [" ".join(words) for words in originals]
    group = np.full(sizes.docs, -1, dtype=np.int64)
    # the first exact_groups originals seed exact groups; their copies
    # overwrite documents from the tail of the original block
    cursor = base
    for g in range(sizes.exact_groups):
        group[g] = g
        for _ in range(int(rng.integers(1, 4))):
            cursor -= 1
            texts[cursor] = texts[g]
            group[cursor] = g
    src = sizes.exact_groups + np.arange(sizes.near_groups)
    for s in src:
        words = list(originals[s])
        swap = rng.random(len(words)) < 0.04
        for i in np.flatnonzero(swap):
            words[i] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words))
    order = rng.permutation(sizes.docs)  # planted copies land anywhere
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(sizes.docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "dup_group": pa.array(group[order], pa.int64()),
    })


def write_table(table: pa.Table, directory: str) -> None:
    """Write ``table`` as ``FILES_PER_TABLE`` parquet parts of consecutive
    rows, so a scan gets several splits and keeps the sort order within
    each part."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, FILES_PER_TABLE + 1).astype(np.int64)
    for i in range(FILES_PER_TABLE):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(
            part, os.path.join(directory, f"part-{i:05d}.parquet"),
            row_group_size=ROW_GROUP_ROWS, compression="snappy",
        )
