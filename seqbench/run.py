"""Benchmark of record for sequila_native_spark.

    python3 seqbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workload's inputs are generated from
the seed and answered by a DuckDB oracle in a child process; once that has
ended, Spark starts cold as ``local[<cores>]`` through ``sequila_session``
(the set-up time), the workload runs closed-loop for ``--seconds`` and
every answer is checked. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer metrics with
``--trace 1``, which measures half the time untraced and half traced and
writes the spans to ``.seqbench_out/``). METRICS.md defines every metric.
Everything the run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

from prepare import TABLES
from stats import beyond, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sequila_native_spark"
# untimed passes before measuring: query times keep falling while the JIT
# compiles, most steeply over the first ~12 queries on join_pairs and ~30
# requests on region_lookups. A count, not a time, so a run slowed by other
# load on the host starts measuring from the same point of that curve
WARM_PASSES = {"join_pairs": 12, "annotate_index": 2, "region_lookups": 30, "doc_dedup": 4}
# workloads whose tasks each keep a Python worker busy beside their JVM
# thread (mapInPandas): they get half the cores, one per busy process, since
# local[<all cores>] runs twice as many busy processes as there are cores
HALF_CORES = {"annotate_index"}
DRIVER_MEMORY = "3g"
# a full-size heap from the start and the throughput collector: pass times
# settle within ~15 s instead of still falling after 40 s
JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+UseParallelGC"

WARM_SQL = "SELECT contig, pos_end - pos_start + 1 AS len FROM warm"


def make_inputs(workload: str, seed: int, out: str) -> dict:
    """Make the inputs and oracle answers in a child process, so they add
    nothing to the driver's peak memory."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"),
         "--workload", workload, "--seed", str(seed), "--out", out],
        stdout=sys.stderr, check=True,
    )
    with open(os.path.join(out, "expected.json")) as f:
        return json.load(f)


def configure_env(work: str) -> None:
    """Keep every temporary file under ``work`` and let Spark's Python
    workers import the package from the checkout (it is not installed)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
    )
    sys.path.insert(0, ROOT)


def start_session(work: str, cores: int, partitions: int):
    from pyspark.sql import SparkSession

    import sequila_native_spark as sq

    spark = (
        SparkSession.builder.master(f"local[{cores}]").appName("seqbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.driver.extraJavaOptions", JAVA_OPTIONS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return sq.sequila_session(spark)


def warm_up(spark) -> None:
    """One tiny query through ``sequila_sql``, so the session has run a
    job before any input is touched (warming the JIT is the job of the
    workload's own untimed passes)."""
    import sequila_native_spark as sq

    spark.createDataFrame([("chr1", 1, 100)], "contig string, pos_start int, pos_end int") \
        .createOrReplaceTempView("warm")
    sq.sequila_sql(spark, WARM_SQL).collect()


def setup(work: str, data: str, tables, cores: int, partitions: int):
    """One cold set-up, as a user pays it: import the package, launch the
    JVM, start the session through ``sequila_session``, run one warm-up
    query and register the inputs."""
    t0 = time.perf_counter()
    spark = start_session(work, cores, partitions)
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    for name in tables:
        spark.read.parquet(os.path.join(data, name)).createOrReplaceTempView(name)
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t3 - t0}


def measure(wl, tracer, seconds: float, start: int = 0, min_passes: int = 1, warm=False):
    """Closed loop for up to ``seconds``: one pass after another (the
    workload's warm-up passes if ``warm``), numbered from ``start``, until
    the next pass would likely end past the window and at least
    ``min_passes`` ran. A pass that raises counts as one failed operation
    at the full measured length."""
    from workloads import Op

    passes, i = [], start
    step = wl.warm_pass if warm else wl.run_pass
    t_end = time.perf_counter() + seconds
    wl.tr = tracer
    while True:
        t0 = time.perf_counter()
        steal0, total0 = cpu_ticks()
        try:
            ops = step(i)
        except Exception as e:  # an engine error is a failed operation, not a crash
            print(f"pass {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
            ops = [Op("error", seconds, False, 0, 0)]
        steal1, total1 = cpu_ticks()
        for op in ops:
            op.steal = (steal1 - steal0) / max(total1 - total0, 1)
        passes.append(ops)
        i += 1
        now = time.perf_counter()
        if now + (now - t0) > t_end and len(passes) >= min_passes:
            return passes


def cpu_ticks() -> tuple[int, int]:
    """Steal and total CPU time of the host so far, in ticks (/proc/stat)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str) -> tuple[dict, dict]:
    configure_env(work)
    expected = make_inputs(args.workload, args.seed, work)
    cores = len(os.sched_getaffinity(0))
    if args.workload in HALF_CORES:
        cores = max(1, cores // 2)
    partitions = cores
    data = os.path.join(work, "data")
    spark = None
    try:
        spark, setups = setup(work, data, TABLES[args.workload], cores, partitions)
        from metrics import end_to_end, per_layer, quiet
        from tracing import Tracer
        from workloads import WORKLOADS, RegionLookups

        cls = WORKLOADS[args.workload]
        off, on = Tracer(spark, False), Tracer(spark, True)
        rows, answers = expected["rows"], expected["answers"]
        if cls is RegionLookups:
            import pyarrow.parquet as pq
            reqs = pq.read_table(os.path.join(data, "requests")).to_pylist()
            wl = cls(spark, off, answers, rows, reqs)
        else:
            wl = cls(spark, off, answers, rows)
        warm = measure(wl, off, 0, min_passes=WARM_PASSES[args.workload], warm=True)
        steal0, total0 = cpu_ticks()
        if args.trace:
            base = measure(wl, off, args.seconds / 2)
            traced = measure(wl, on, args.seconds / 2, start=len(base))
            on.finish()
            out = per_layer(base, traced, on.spans, setups, cores, jvm_peak_rss_mb(spark))
            passes = base + traced
            os.makedirs(os.path.join(ROOT, ".seqbench_out"), exist_ok=True)
            path = os.path.join(ROOT, ".seqbench_out", f"trace-{args.workload}-seed{args.seed}.json")
            on.dump(path, {"workload": args.workload, "seed": args.seed, "cores": cores,
                           "shuffle_partitions": partitions, "setup": setups})
            print(f"trace written to {os.path.relpath(path, ROOT)}")
        else:
            passes = measure(wl, off, args.seconds)
            out = end_to_end(quiet(passes), setups, args.seconds,
                             resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
        steal1, total1 = cpu_ticks()
    finally:
        stop(spark)
    ops = [op for p in warm + passes for op in p]
    failed = sum(not op.ok for op in ops)
    counted = passes if args.trace else quiet(passes)
    n = sum(len(p) for p in counted)
    info = {"failed_frac": failed / len(ops), "passes": f"{len(passes)} ({len(counted)} counted)",
            "pass_walls_s": " ".join(f"{sum(op.latency_s for op in p):.3f}" for p in warm + passes),
            "pass_steal_frac": " ".join(f"{p[0].steal:.3f}" for p in warm + passes),
            "latency_samples": f"{n} ({beyond(n, 90)} beyond p90)",
            "cores": cores, "shuffle_partitions": partitions, "driver_memory": DRIVER_MEMORY,
            "setup": setups,
            # CPU time the hypervisor gave to other guests while measuring:
            # the usual cause of a slow run on a shared host
            "cpu_steal_frac": (steal1 - steal0) / max(total1 - total0, 1)}
    if cls is RegionLookups:
        for hot in (True, False):
            lat = [op.latency_s for p in counted for op in p if op.hot == hot and op.ok]
            if lat:
                info[f"latency_p50_s.{'hot' if hot else 'cold'}"] = f"{median(lat)} ({len(lat)} requests)"
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": out}, info


def main() -> None:
    ap = argparse.ArgumentParser(description="sequila_native_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["join_pairs", "annotate_index", "region_lookups", "doc_dedup"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/: run from a full checkout")
    work = os.path.join(ROOT, ".seqbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    for k, v in info.items():
        print(f"# {k} = {v}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
