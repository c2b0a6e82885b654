"""Parallel test runner — pytest-xdist isn't in this container, so shard
test FILES across worker subprocesses, each with its own pytest process,
SparkSession, and scratch cwd (VERDICT r10 item 6: the 600-test suite is
21.5 min single-process; measured ~4x faster sharded on the 32-cpu host).

Isolation model (why per-process, not per-thread): a SparkSession owns a
JVM; tests that saveAsTable write to <cwd>/spark-warehouse and a Derby
metastore lock in <cwd> — so every worker gets a private temp cwd, its
own warehouse, and a small local[] so workers don't oversubscribe the
host (workers x cores ≈ machine cores).

Usage::

    python tools/partest.py [-n WORKERS] [pytest args...]

Defaults: WORKERS = min(6, cpus // 4), each worker local[4] via the
test fixtures' own config. Exit code is non-zero if any shard fails;
each shard's tail is replayed on failure.
"""

from __future__ import annotations

import argparse
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parent.parent

# Measured single-process durations (seconds, r11 host;
# test_nearest_count.py and test_property_agreement.py re-measured on a
# 4-vCPU host) — used only to balance shards; an unlisted file gets the
# default weight. Re-measure with `pytest --durations=0` if the balance
# drifts.
WEIGHTS = {
    "test_property_agreement.py": 400,
    "test_similarity_multimodal.py": 232,
    "test_nearest_count.py": 190,
    "test_plans.py": 164,
    "test_text_dedup.py": 158,
    "test_sql_frontend.py": 132,
    "test_overlap_join.py": 85,
    "test_sources_streaming.py": 85,
    "test_lm.py": 60,
    "test_golden_parity.py": 50,
    "test_coverage_ivf.py": 45,
    "test_merge_intervals.py": 40,
    "test_pii_decontam_chunking.py": 40,
    "test_sampling.py": 35,
    "test_bpe.py": 30,
    "test_curation.py": 25,
    "test_dupspans.py": 25,
    "test_map_fraction.py": 25,
    "test_overlap_filter.py": 25,
    "test_classify.py": 20,
    "test_dsir.py": 20,
    "test_ranking.py": 20,
    "test_report.py": 15,
    "test_driver_contract.py": 15,
}
DEFAULT_WEIGHT = 10


TIMINGS_PATH = REPO / "tools" / "partest_timings.json"


def load_weights() -> dict[str, float]:
    """Measured per-file durations from the last run (written from each
    shard's junit XML) beat the hardcoded estimates — the balancer
    self-corrects after one run on a new host."""
    try:
        import json

        with open(TIMINGS_PATH) as fh:
            return {**WEIGHTS, **json.load(fh)}
    except (OSError, ValueError):
        return dict(WEIGHTS)


def save_weights(per_file: dict[str, float]) -> None:
    import json

    try:
        merged = load_weights()
        merged.update(per_file)
        with open(TIMINGS_PATH, "w") as fh:
            json.dump({k: round(v, 1) for k, v in sorted(merged.items())
                       if k.startswith("test_")}, fh, indent=1)
    except OSError:
        pass


def parse_junit(path: str) -> dict[str, float]:
    """Per-FILE wall seconds from a shard's junit XML (classname = module
    for top-level tests; nested classes prefix further — take field 0)."""
    import xml.etree.ElementTree as ET

    per: dict[str, float] = {}
    try:
        for tc in ET.parse(path).getroot().iter("testcase"):
            # classname is dotted: [package...].module[.Class] — the module
            # is the component named test_*
            parts = (tc.get("classname") or "").split(".")
            mod = next((c for c in parts if c.startswith("test_")), None)
            if mod:
                per[f"{mod}.py"] = per.get(f"{mod}.py", 0.0) + float(
                    tc.get("time") or 0.0)
    except (OSError, ET.ParseError):
        pass
    return per


# A file heavier than this (measured seconds) is split into node-id chunks
# so one whale file doesn't set the wall-time floor. Splitting duplicates
# the module's fixtures per chunk — only worth it above the threshold.
SPLIT_THRESHOLD = 300.0


def collect_nodes(f: pathlib.Path, env: dict) -> list[str]:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", str(f)],
        capture_output=True, text=True, env=env, cwd=REPO,
    ).stdout
    # ids are repo-relative (collection ran with cwd=REPO); absolutize so
    # shard processes can run from their scratch cwds
    return [str(REPO / l.strip()) for l in out.splitlines()
            if "::" in l and not l.startswith(" ")]


def atoms(files: list[pathlib.Path], weights: dict[str, float],
          env: dict) -> list[tuple[float, list[str]]]:
    """(weight, pytest-args) units for the balancer: whole files, except
    whale files which become contiguous node-id chunks."""
    units: list[tuple[float, list[str]]] = []
    for f in files:
        w = weights.get(f.name, DEFAULT_WEIGHT)
        k = int(w // SPLIT_THRESHOLD) + 1
        if k <= 1:
            units.append((w, [str(f)]))
            continue
        nodes = collect_nodes(f, env)
        if len(nodes) < k:
            units.append((w, [str(f)]))
            continue
        step = (len(nodes) + k - 1) // k
        for j in range(0, len(nodes), step):
            units.append((w / k, nodes[j:j + step]))
        print(f"split {f.name} ({w:.0f}s) into {k} chunks")
    return units


def shard(units: list[tuple[float, list[str]]],
          n: int) -> list[list[str]]:
    """Greedy longest-processing-time assignment by measured weight."""
    buckets: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for w, unit in sorted(units, key=lambda u: -u[0]):
        i = min(range(n), key=lambda i: buckets[i][0])
        bw, args = buckets[i]
        buckets[i] = (bw + w, args + unit)
    return [args for _, args in buckets if args]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-n", "--workers", type=int,
                    default=min(6, (os.cpu_count() or 4) // 4))
    args, pytest_args = ap.parse_known_args(argv)

    files = sorted((REPO / "tests").glob("test_*.py"))
    weights = load_weights()
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{REPO}{os.pathsep}" + env.get("PYTHONPATH", "")
    units = atoms(files, weights, env)
    shards = shard(units, max(1, args.workers))
    print(f"{len(files)} test files / {len(units)} units -> "
          f"{len(shards)} shards "
          f"(weights: {'measured' if TIMINGS_PATH.exists() else 'builtin'})")

    procs = []
    t0 = time.time()
    failed = False
    measured: dict[str, float] = {}
    # try/finally so a mid-spawn failure (ENOENT, resource limits) still
    # closes already-opened logs and reaps already-spawned siblings
    # rather than leaking them (advisor, r11).
    try:
        for i, unit_args in enumerate(shards):
            cwd = tempfile.mkdtemp(prefix=f"partest{i}_")
            log = open(os.path.join(cwd, "pytest.log"), "wb")
            xml = os.path.join(cwd, "junit.xml")
            cmd = [sys.executable, "-m", "pytest", "-q",
                   f"--junitxml={xml}", *pytest_args, *unit_args]
            try:
                p = subprocess.Popen(cmd, cwd=cwd, env=env,
                                     stdout=log, stderr=subprocess.STDOUT)
            except Exception:
                log.close()
                raise
            procs.append((i, unit_args, cwd, xml, log, p))

        for i, fs, cwd, xml, log, p in procs:
            rc = p.wait()
            log.close()
            measured.update(parse_junit(xml))
            tail = pathlib.Path(cwd, "pytest.log").read_text().splitlines()
            summary = next((l for l in reversed(tail) if "passed" in l or
                            "failed" in l or "error" in l), "(no summary)")
            print(f"shard {i} rc={rc}: {summary.strip()}")
            if rc != 0:
                failed = True
                print(f"--- shard {i} tail ({cwd}/pytest.log) ---")
                print("\n".join(tail[-40:]))
            else:
                shutil.rmtree(cwd, ignore_errors=True)  # keep only failures
    finally:
        for _, _, _, _, log, p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
            if not log.closed:
                log.close()
    if measured and not failed:
        save_weights(measured)  # next run balances on real durations
    print(f"wall time: {time.time() - t0:.0f}s")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
