"""Generate one workload's inputs from its seed and compute the oracle's
expected answers, before any Spark session exists.

    python3 seqbench/prepare.py --workload join_pairs --seed 7 --out DIR

writes ``DIR/data/<table>/part-*.parquet`` and ``DIR/expected.json`` (row
counts and answers). The
benchmark runs this in a child process and waits for it before Spark starts,
so neither generation nor the oracle counts toward set-up time, competes
with a timed region or adds to the driver's peak memory.
"""

from __future__ import annotations

import argparse
import json
import os

import gen
import oracle

TABLES = {
    "join_pairs": ("reads", "targets"),
    "annotate_index": ("reads", "targets"),
    "region_lookups": ("reads", "targets", "requests"),
    "doc_dedup": ("corpus",),
}
SIZES = {
    "join_pairs": gen.Sizes(),
    "annotate_index": gen.Sizes(reads=120_000, targets=12_000),
    # a lookup's cost is mostly fixed per query; smaller tables leave room
    # for more requests in one run
    "region_lookups": gen.Sizes(reads=100_000, targets=10_000),
    # small enough that a run fits many sub-second pipelines
    "doc_dedup": gen.Sizes(docs=1_000, exact_groups=25, near_groups=25),
}
ORACLES = {
    "join_pairs": oracle.join_pairs,
    "annotate_index": oracle.annotate,
    "region_lookups": oracle.regions,
    "doc_dedup": oracle.similar_docs,
}


def build_tables(workload: str, seed: int) -> dict:
    sizes = SIZES[workload]
    make = {
        "reads": lambda: gen.reads(seed, sizes.reads),
        "targets": lambda: gen.targets(seed, sizes.targets),
        "requests": lambda: gen.requests(seed),
        "corpus": lambda: gen.corpus(seed, sizes),
    }
    return {name: make[name]() for name in TABLES[workload]}


def prepare(workload: str, seed: int, out: str) -> dict:
    data = os.path.join(out, "data")
    rows = {}
    for name, table in build_tables(workload, seed).items():
        gen.write_table(table, os.path.join(data, name))
        rows[name] = table.num_rows
    con = oracle.connect(data)
    try:
        expected = {"rows": rows, "answers": ORACLES[workload](con)}
    finally:
        con.close()
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    prepare(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
