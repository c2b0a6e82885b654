"""CI regression gate over seqbench results.

    python tools/bench_gate.py BENCHMARK.json PARENT_DIR CHANGE_DIR

Each directory holds ``<workload>.jsonl``, the last stdout line of each
``seqbench/run.py --trace 0`` run. Bounds are BENCHMARK.json's
``end_to_end`` ones. Exits 1 when a workload of record has no result on a
side, a change run is not ``correct``, the change fails a larger share of
operations, or an end-to-end metric's median is worse than the parent's by
more than its bound, in its ``better`` direction.
"""

from __future__ import annotations

import json
import math
import statistics
import sys
from pathlib import Path


def load(directory: str, workload: str) -> list[dict]:
    path = Path(directory, f"{workload}.jsonl")
    lines = path.read_text().splitlines() if path.is_file() else []
    return [json.loads(line) for line in lines if line.strip()]


def failed_share(runs: list[dict]) -> float:
    return sum(r["failed"] for r in runs) / max(sum(r["attempted"] for r in runs), 1)


def worse_by(metric: dict, parent: float, change: float) -> float:
    """How much worse ``change`` is than ``parent``, as a fraction of it."""
    rel = (change - parent) / abs(parent) if parent else (0.0 if change == parent else math.inf)
    return rel if metric["better"] == "lower" else -rel


def gate(spec: dict, parent_dir: str, change_dir: str) -> tuple[list[str], list[str]]:
    """The comparison table's lines and the reasons the gate fails."""
    table = [f"{'workload':<16}{'metric':<20}{'parent':>12}{'change':>12}{'worse':>9}{'bound':>7}"]
    fails = []
    for wl in (w["name"] for w in spec["workloads"]):
        parent, change = load(parent_dir, wl), load(change_dir, wl)
        if not parent or not change:
            fails.append(f"{wl}: no result from the {'parent' if not parent else 'change'}")
            continue
        if not all(r["correct"] for r in change):
            fails.append(f"{wl}: a change run answered wrongly")
        if failed_share(change) > failed_share(parent):
            fails.append(f"{wl}: failed share {failed_share(change):.3f} > parent's {failed_share(parent):.3f}")
        for m in spec["end_to_end"]:
            name = m["name"]
            p = statistics.median(r["metrics"][name]["value"] for r in parent)
            c = statistics.median(r["metrics"][name]["value"] for r in change)
            worse = worse_by(m, p, c)
            bad = worse > m["bound"]
            table.append(f"{wl:<16}{name:<20}{p:>12.4g}{c:>12.4g}{worse:>+9.1%}{m['bound']:>7.2f}"
                         + ("  FAIL" if bad else ""))
            if bad:
                fails.append(f"{wl}: {name} worse by {worse:.1%} (bound {m['bound']:.0%})")
    return table, fails


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    table, fails = gate(json.loads(Path(argv[0]).read_text()), argv[1], argv[2])
    print("\n".join(table + [f"FAIL {reason}" for reason in fails]))
    print("gate:", "FAIL" if fails else "pass")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
