"""Generator determinism and shape (no Spark).

    python3 -m pytest seqbench/tests -q
"""

import hashlib
import os

import numpy as np
import pytest

import gen
import prepare

SMALL = gen.Sizes(reads=3_000, targets=300, docs=300, exact_groups=10, near_groups=10)


def _digest(directory) -> dict:
    out = {}
    for root, _, files in os.walk(directory):
        for name in files:
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, directory)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _write_all(seed, directory):
    tables = {
        "reads": gen.reads(seed, SMALL.reads),
        "targets": gen.targets(seed, SMALL.targets),
        "requests": gen.requests(seed, 50),
        "corpus": gen.corpus(seed, SMALL),
    }
    for name, table in tables.items():
        gen.write_table(table, os.path.join(directory, name))


def test_same_seed_same_bytes(tmp_path):
    _write_all(5, tmp_path / "a")
    _write_all(5, tmp_path / "b")
    a, b = _digest(tmp_path / "a"), _digest(tmp_path / "b")
    assert len(a) == 4 * gen.FILES_PER_TABLE
    assert a == b


def test_other_seed_other_bytes(tmp_path):
    _write_all(5, tmp_path / "a")
    _write_all(6, tmp_path / "b")
    a, b = _digest(tmp_path / "a"), _digest(tmp_path / "b")
    assert all(a[k] != b[k] for k in a)


@pytest.mark.parametrize("make", [gen.reads, gen.targets])
def test_intervals_sorted_and_in_bounds(make):
    t = make(3, 2_000).to_pydict()
    key = [gen.CONTIG_NAMES.index(c) for c in t["contig"]]
    order = list(zip(key, t["pos_start"]))
    assert order == sorted(order)
    length = dict(zip(gen.CONTIG_NAMES, gen.CONTIG_LENGTHS))
    for c, s, e in zip(t["contig"], t["pos_start"], t["pos_end"]):
        assert 1 <= s <= e <= length[c]


def test_lengths():
    r = gen.reads(3, 1_000)
    t = gen.targets(3, 5_000)
    rl = np.array(r["pos_end"]) - np.array(r["pos_start"]) + 1
    tl = np.array(t["pos_end"]) - np.array(t["pos_start"]) + 1
    assert (rl == gen.READ_LEN).all()
    assert tl.min() >= gen.TARGET_MIN and tl.max() <= gen.TARGET_MAX


def test_contigs_follow_chromosome_lengths():
    c = gen.reads(4, 200_000)["contig"].to_pylist()
    share = c.count("chr1") / len(c)
    expected = gen.CONTIG_LENGTHS[0] / gen.CONTIG_LENGTHS.sum()
    assert abs(share - expected) < 0.01
    assert set(c) == set(gen.CONTIG_NAMES)


def test_requests_mix():
    n = 4_000
    q = gen.requests(9, n).to_pydict()
    hot, warm = np.array(q["hot"]), np.array(q["warmup"])
    assert q["req_id"] == list(range(n + gen.WARM_REQUESTS))
    assert not warm[:n].any() and warm[n:].all()
    assert not hot[n:].any()  # warm-up requests are cold
    assert abs(hot[:n].mean() - gen.HOT_SHARE) < 0.03
    assert abs(np.mean(np.array(q["kind"]) == "count") - gen.COUNT_SHARE) < 0.03
    hot_regions = {(c, s) for c, s, h in zip(q["contig"], q["pos_start"], q["hot"]) if h}
    assert len(hot_regions) <= gen.HOT_REGIONS
    length = np.array(q["pos_end"]) - np.array(q["pos_start"]) + 1
    assert length.min() >= 1_000 and length.max() <= 100_000


def test_corpus_planted_duplicates():
    c = gen.corpus(2, SMALL).to_pydict()
    assert c["doc_id"] == list(range(SMALL.docs))
    groups = {}
    for text, g in zip(c["text"], c["dup_group"]):
        if g >= 0:
            groups.setdefault(g, set()).add(text)
    assert len(groups) == SMALL.exact_groups
    assert all(len(texts) == 1 for texts in groups.values())


def test_prepare_tables_cover_every_workload():
    assert set(prepare.TABLES) == set(prepare.SIZES) == set(prepare.ORACLES)
