"""The DuckDB oracle against brute force on a tiny seed (no Spark)."""

import os

import numpy as np
import pytest

import gen
import oracle

SMALL = gen.Sizes(reads=3_000, targets=300, docs=200, exact_groups=8, near_groups=8)
P = 1_000_000_007


def _chk(ids, values) -> int:
    return int(sum((int(i) * 1_000_003 + int(v)) % P for i, v in zip(ids, values)))


def _arrays(table):
    d = table.to_pydict()
    return (np.array(d[table.column_names[0]]), np.array(d["contig"], dtype=object),
            np.array(d["pos_start"], dtype=np.int64), np.array(d["pos_end"], dtype=np.int64))


def _overlap(ac, as_, ae, bc, bs, be):
    """Boolean matrix: row i of a overlaps column j of b (closed intervals)."""
    return (ac[:, None] == bc[None, :]) & (ae[:, None] >= bs[None, :]) & (as_[:, None] <= be[None, :])


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    root = tmp_path_factory.mktemp("oracle")
    tables = {
        "reads": gen.reads(21, SMALL.reads),
        "targets": gen.targets(21, SMALL.targets),
        "requests": gen.requests(21, 60),
        "corpus": gen.corpus(21, SMALL),
    }
    for name, t in tables.items():
        gen.write_table(t, os.path.join(root, name))
    return str(root), tables


def _fresh(data):
    return oracle.connect(data[0])


def test_join_pairs(data):
    rid, rc, rs, re = _arrays(data[1]["reads"])
    tid, tc, ts, te = _arrays(data[1]["targets"])
    m = _overlap(rc, rs, re, tc, ts, te)
    i, j = np.nonzero(m)
    got = oracle.join_pairs(_fresh(data))
    assert got["pairs"] == len(i) > 50
    assert got["checksum"] == _chk(rid[i], tid[j])


def test_annotate(data):
    rid, rc, rs, re = _arrays(data[1]["reads"])
    tid, tc, ts, te = _arrays(data[1]["targets"])
    m = _overlap(rc, rs, re, tc, ts, te)
    counts = m.sum(axis=0)
    clipped = np.minimum(re[:, None], te[None, :]) - np.maximum(rs[:, None], ts[None, :]) + 1
    bases = np.where(m, clipped, 0).sum(axis=0)
    same = rc[:, None] == tc[None, :]
    gap = np.where(ts[None, :] > re[:, None], ts[None, :] - re[:, None],
                   np.where(te[None, :] < rs[:, None], rs[:, None] - te[None, :], 0))
    dist = np.where(same, gap, np.iinfo(np.int64).max).min(axis=1)
    dist = np.where(same.any(axis=1), dist, -1)
    got = oracle.annotate(_fresh(data))
    assert got["targets"] == len(tid) and got["reads"] == len(rid)
    assert got["pairs"] == int(m.sum())
    assert got["count_checksum"] == _chk(tid, counts)
    assert got["cover_checksum"] == _chk(tid, counts * 1_000_033 + bases)
    assert got["nearest_checksum"] == _chk(rid, dist + 1)
    assert (dist == 0).sum() == m.any(axis=1).sum()


def test_regions(data):
    q = data[1]["requests"].to_pydict()
    qc = np.array(q["contig"], dtype=object)
    qs, qe = np.array(q["pos_start"]), np.array(q["pos_end"])
    _, rc, rs, re = _arrays(data[1]["reads"])
    tid, tc, ts, te = _arrays(data[1]["targets"])
    got = oracle.regions(_fresh(data))
    counts = _overlap(qc, qs, qe, rc, rs, re).sum(axis=1)
    fetch = _overlap(qc, qs, qe, tc, ts, te)
    for k, req in enumerate(q["req_id"]):
        assert got["count"][req] == counts[k]
        assert got["fetch"][req] == sorted(tid[fetch[k]].tolist())
    assert sum(got["count"].values()) > 0 and any(got["fetch"].values())


def _grams(text):
    w = text.lower().split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_similar_docs(data):
    c = data[1]["corpus"].to_pydict()
    grams = [_grams(t) for t in c["text"]]
    expected = []
    for a in range(len(grams)):
        for b in range(a + 1, len(grams)):
            common = len(grams[a] & grams[b])
            union = len(grams[a] | grams[b])
            if common * 1000 >= oracle.JACCARD_MILLI * union:
                expected.append([a, b, common, union])
    got = oracle.similar_docs(_fresh(data))
    assert sorted(got["pairs"]) == expected
    assert len(expected) >= SMALL.exact_groups + SMALL.near_groups
    groups = {}
    for d, g in zip(c["doc_id"], c["dup_group"]):
        if g >= 0:
            groups.setdefault(g, []).append(d)
    assert sorted(got["exact_groups"]) == sorted(groups.values())
