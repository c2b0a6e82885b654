"""Headline benchmark — one JSON line on stdout.

Runs the flagship queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and prints:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <sf>,
     "samples": {...}, "anchors": {...}, "throughput": {...}}

Self-interpreting extras (VERDICT r4 items 2 and 6):

- ``samples``: every raw timing sample per query (the recorded number is the
  min) — so a noisy singleton is distinguishable from a confirmed floor in
  the artifact itself.
- ``anchors``: four queries whose code hasn't changed since r3, their r3
  reference floors, the current/reference ratio per anchor, and the
  median-ratio host ``drift``. ``queries_normalized`` = raw / drift:
  cross-round comparisons should use these.
- ``throughput``: output-pairs/sec for the uniform flagship vs the
  output-matched skew row — the skew-immunity claim as a checkable number
  (both produce ~the same pair count by construction,
  __spark_entry__.q_overlap_count_skewed).
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402

HEADLINE = [
    "overlap_count_per_contig",   # binned interval join (scale path)
    "overlap_count_skewed",       # same join, 50% of rows on one hot contig
    "overlap_count_10x",          # scale-trend row: 10x rows / 10x domain
    "overlap_partitioned_selective",  # cogroup per-key index join
    "overlap_small_build_index",  # broadcast-index join (CollectLeft case)
    "overlap_strict_count",       # strict-predicate normalization
    "range_only_count",           # keyless interval join
    "count_overlaps_per_target",  # per-probe overlap counts
    "coverage_per_target",        # overlap count + clipped-base coverage
    "map_reads_per_target",       # bedtools map + min-overlap fraction (r5)
    "windowed_depth",             # makewindows ∘ count_overlaps (r5)
    "cluster_sizes",              # bedtools cluster -d (r5)
    "nearest_target_read",        # nearest-interval join (broadcast index)
    "nearest_partitioned",        # nearest-interval join (cogroup, no collect)
    "doc_bpe_stats",              # BPE train (bounded sample) + apply (r6)
    "doc_corpus_report",          # data card: exact histogram percentiles (r6)
    "overlap_left_outer",         # left-outer overlap join (bedtools -loj)
    "overlap_full_outer",         # full-outer overlap join
    "merged_read_runs",           # bedtools merge (two-phase chunked sweep)
    "reads_minus_targets",        # bedtools subtract (covers + segment fold)
    "read_depth_histogram",       # genomecov (two-phase boundary prefix scan)
    "read_target_jaccard",        # bedtools jaccard (merge + binned join)
    "nearest_k3",                 # k-nearest (closest -k) via cogroup top-k
    "reads_outside_targets",      # anti overlap filter (blacklist subtract)
    "pricing_summary",            # relational aggregation [anchor]
    "top_orders",                 # 3-way join + top-k [anchor]
    "brand_volume",               # broadcast join + agg [anchor]
    "events_hourly",              # time-bucketed aggregation [anchor]
    "exact_dup_clusters",         # exact dedup (hash groupBy)
    "simhash_pairs",              # banded SimHash Hamming-pair join
    "minhash_near_dups",          # MinHash-LSH near-dups (md5 oracle family)
    "minhash_near_dups_fast",     # MinHash-LSH near-dups (vectorized family)
    "ngram_jaccard_dups",         # exhaustive inverted-index n-gram Jaccard
    "near_dup_clusters",          # connected components over the pair graph
    "doc_fingerprints",           # MOSS winnowing fingerprints
    "filtered_doc_stats",         # quality filter ∘ normalize (one scan, r5)
    "events_running_totals",      # stateful running totals (batch twin)
    "view_purchase_funnel",       # stream-stream funnel join (batch twin)
    "embedding_topk",             # brute-force cosine top-k
    "lsh_ann_topk",               # LSH-bucketed approximate top-k
    "ivf_ann_topk",               # IVF (k-means cells) approximate top-k
    "doc_text_stats",             # text quality features
    "doc_pii_stats",              # PII detect/redact (regex chains, r6)
    "decontaminated_counts",      # benchmark decontamination (r6)
    "doc_chunk_stats",            # chunking + sequence packing (r6)
    "doc_budget_selected",        # token-budget curation, two-level cumsum (r6)
    "doc_quality_scores",         # hashed linear classifier, broadcast model (r6)
    "stream_corpus_gate",         # stream-static near-dup gate, min-band dedup (r6)
    "embedding_near_dups",        # blocked pairs ∪ broadcast corpus-delta (r6)
    "semantic_dedup_keep",        # SemDeDup: clustered cosine dedup (r6)
    "doc_dsir_selected",          # DSIR importance resampling (r6)
    "stream_embedding_gate",      # stateless stream-static embedding gate (r6)
    "doc_dup_span_stats",         # ExactSubstr duplicated-span stats (r6)
    "persisted_gate_probe",       # at-rest bucketBy index probe (r7): sample 1
                                  # builds+persists the index, later samples
                                  # time the pure probe — min = probe floor
    "training_prep_pipeline",     # classify→BPE→budget→pack→shard writer (r7)
    "doc_span_removal",           # ExactSubstr deletion pass, HOF splice (r7)
    "doc_perplexity_stats",       # bigram-LM perplexity scoring, CCNet (r7)
    "perplexity_keep",            # CCNet keep rule, law-checked in-row (r8)
    "persisted_gate_probe_10x",   # at-rest probe vs 10x corpus index (r8):
                                  # probe floor should grow far sublinearly
    "doc_trigram_stats",          # trigram-LM scoring, 3-level backoff (r8)
    "ann_index_topk_probe",       # ANN serving off the persisted index (r8):
                                  # sample 1 builds, later samples = serving
    "ivf_index_topk_probe",       # IVF serving off the persisted pair (r8)
    "ccnet_buckets",              # per-lang perplexity tertile split (r8)
    "dedup_keep_best",            # keep best-quality member per cluster (r8)
    "dedup_keep_best_fast",       # same pipeline, production hash family (r9)
    "ivf_skew_probe",             # IVF serving vs a dense region, with the
                                  # max_cell_frac guard (r9): sample 1 builds,
                                  # later samples = probe floor — compare
                                  # ivf_index_topk_probe (uniform twin)
    "ann_index_recall",           # serving recall dial row (r9): 2 LSH +
                                  # 2 IVF settings vs exact top-k
]

# Cross-round host-drift anchors: queries UNCHANGED since round 3, with
# their BENCH_r03 floors (the fastest host observed). drift = MEDIAN of the
# per-anchor current/reference ratios (median, not geometric mean — one
# scheduling burst on a single sub-second anchor must not drag the whole
# normalization); divide any raw number by it before comparing across
# rounds (observed swings: 2-3x within a run, ~1.5-1.7x across round hosts).
ANCHOR_REF = {
    "pricing_summary": 0.229,
    "brand_volume": 0.299,
    "events_hourly": 0.258,
    "top_orders": 0.479,
}


# The reference's benchmark query, verbatim
# (sequila/sequila-core/benches/databio_benchmark.rs:205-216).
DATABIO_QUERY = """
            SELECT
                count(*)
            FROM
                s1 a, s2 b
            WHERE
                a.contig=b.contig
            AND
                a.pos_end>=b.pos_start
            AND
                a.pos_start<=b.pos_end
"""
DATABIO_EXPECTED_CHR1 = 154_374_873  # sandbox/datafusion_baseline.md:5-27


def real_data_main(data_dir: str) -> None:
    """--real-data: BASELINE.md reproduction on the actual AIList/databio
    tables (VERDICT r10 item 4). Runs the reference's verbatim SQL on
    chainRn4_chr1 ⋈ chainVicPac2_chr1 (parquet written by
    tools/fetch_databio.py), checks the published 154,374,873 count, and
    prints one JSON line with the timing to hold against the reference's
    2.457 s single-thread Coitrees number. Skips gracefully (exit 0, a
    JSON skip line) when the data isn't present — this sandbox is
    offline; the fetcher documents the mirrors."""
    a_path = os.path.join(data_dir, "chainRn4_chr1.parquet")
    b_path = os.path.join(data_dir, "chainVicPac2_chr1.parquet")
    if not (os.path.exists(a_path) and os.path.exists(b_path)):
        print(json.dumps({
            "metric": "databio_chr1_overlap_count", "skipped": True,
            "reason": f"no AIList data under {data_dir} — run "
                      f"tools/fetch_databio.py first (offline hosts: "
                      f"--from-dir)",
        }))
        return
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sequila-bench-databio")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sequila_native_spark import sequila_session, sequila_sql

    sequila_session(spark)
    spark.range(1000).count()  # JVM warm-up outside the timed region
    spark.read.parquet(a_path).createOrReplaceTempView("s1")
    spark.read.parquet(b_path).createOrReplaceTempView("s2")
    times = []
    for _ in range(3):
        t0 = time.time()
        rows = sequila_sql(spark, DATABIO_QUERY).collect()
        times.append(round(time.time() - t0, 3))
    n = rows[0][0]
    print(json.dumps({
        "metric": "databio_chr1_overlap_count",
        "value": min(times), "unit": "sec", "samples": times,
        "rows": n, "expected_rows": DATABIO_EXPECTED_CHR1,
        "rows_match": n == DATABIO_EXPECTED_CHR1,
        "reference_sec": 2.457,  # BASELINE.md, Coitrees single-thread
    }))
    spark.stop()


def _make_session(cpus: str) -> SparkSession:
    """The bench session, one place (main run + --fresh-one must match)."""
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sequila-bench")
        # one wave per shuffle stage: local[N] has N concurrently running
        # tasks, and the Python-UDF stages (minhash, cogroup nearest) pay a
        # fixed Arrow+scheduling cost per task — 2N partitions measured ~60%
        # slower than N across the headline set on this host
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 16)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # NOTE (r7): -Xms heap pre-sizing was tried for the 50x
        # first-sample spread and REVERTED: committing the heap lazily
        # moved 24 GB of page-zeroing into the first heavy timed queries
        # (skewed row 11-13 s vs its 2.0-2.9 s floor, reproduced A/B);
        # -XX:+AlwaysPreTouch fixes that but pays ~10 s untimed startup
        # for no measured floor gain on this host. The 10x volume warm-up
        # below remains the 50x spread mitigation (measured 1.47x, r7).
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Warmups outside the timed region: JVM/codegen, Python UDF workers
    # (first pandas UDF pays worker fork + Arrow init), and the binned-join
    # plan shape at sf0.001 — the flagship is the first timed query and would
    # otherwise pay its whole-stage-codegen JIT inside the timed region.
    spark.range(1000).count()
    spark.range(100).mapInPandas(lambda it: it, schema="id long").count()
    try:
        entry.queries()["overlap_count_per_contig"](
            spark, "/root/testdata/sf0.001"
        ).write.mode("overwrite").format("noop").save()
    except Exception:
        pass
    return spark


def fresh_one_main(name: str) -> None:
    """--fresh-one NAME: time one headline query in a FRESH session (same
    config + warm-ups as the main run) and print one JSON line. This is
    the cold-state half of the two-floor protocol (VERDICT r11 item 1):
    in-bench floors come from a session deeply warmed by dozens of prior
    queries, so they are systematically BELOW what any targeted rerun can
    reach — recording both per run makes cross-round floor comparisons
    like-vs-like instead of warm-vs-fresh."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = _make_session(cpus)
    from sequila_native_spark import drop_stale_persisted as _drop

    qs = dict(entry.queries())
    fn = qs.get(name) or getattr(entry, f"q_{name}")
    n = int(os.environ.get("SPARK_GRAFT_FRESH_SAMPLES", "3"))
    times = []
    for _ in range(n):
        _drop(spark)
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        times.append(round(time.time() - t0, 3))
    print(json.dumps({"fresh_one": name, "samples": times,
                      "floor": min(times)}))
    spark.stop()


def main() -> None:
    if "--real-data" in sys.argv:
        i = sys.argv.index("--real-data")
        data_dir = (sys.argv[i + 1] if len(sys.argv) > i + 1
                    else os.environ.get("SEQUILA_DATABIO_DIR",
                                        "/root/databio"))
        real_data_main(data_dir)
        return
    if "--fresh-one" in sys.argv:
        i = sys.argv.index("--fresh-one")
        if len(sys.argv) <= i + 1:
            raise SystemExit("usage: bench.py --fresh-one QUERY_NAME")
        fresh_one_main(sys.argv[i + 1])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = _make_session(cpus)

    # operators pin small frames with localCheckpoint; each invocation
    # creates fresh ones, so blocks from finished queries are garbage.
    # Dropping them between queries keeps block-manager memory flat over
    # the run (they would otherwise only go away by eviction).
    from sequila_native_spark import drop_stale_persisted as _drop

    def drop_stale_persisted() -> None:
        _drop(spark)

    # r5/r6 slot restructures folded several standalone driver rows into
    # composites; the bench keeps timing the ORIGINAL shapes so per-query
    # numbers stay comparable across rounds.
    qs = dict(entry.queries())
    for name in HEADLINE:
        if name not in qs:
            qs[name] = getattr(entry, f"q_{name}")

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    confirmed: dict[str, bool] = {}

    def window(floor: float) -> float:
        # Confirmation window (VERDICT r11 item 3): two fastest samples
        # agreeing within 25% confirms a floor — but multi-second rows
        # (cogroup/applyInPandas stages) amplify any intra-stage burst via
        # the straggler mechanism, so their honest repeat spread is wider:
        # r11's stream_corpus_gate had four CROSS-run floors within 4% yet
        # never two within-run samples within 25%. ≥1.5 s floors confirm
        # at 35%.
        return 1.25 if floor < 1.5 else 1.35

    def is_confirmed(times: list[float]) -> bool:
        s = sorted(times)
        return len(s) >= 2 and s[1] <= window(s[0]) * s[0]

    for name in HEADLINE:
        fn = qs[name]
        drop_stale_persisted()
        # keep the min over repeated runs: robust against transient host CPU
        # bursts (2-3x swings observed under hypervisor contention). Sample
        # until the two FASTEST runs agree within the window — a min
        # confirmed by a near-repeat is a real floor, a lone fast run may
        # still be noise. Up to 3 samples (bench wall time is itself
        # budgeted by the driver); expensive queries (>=8s floor) cap at 2.
        times: list[float] = []
        while True:
            t0 = time.time()
            df = fn(spark, sf_dir)
            # noop sink: materializes every row/column without collecting,
            # and (unlike count) cannot be optimized into join elimination
            df.write.mode("overwrite").format("noop").save()
            times.append(time.time() - t0)
            s = sorted(times)
            if len(times) >= 3:
                break
            if len(times) >= 2 and (is_confirmed(times) or s[0] >= 8):
                break
        timings[name] = round(min(times), 3)
        samples[name] = [round(t, 3) for t in times]
        # an unconfirmed row means the host never gave two quiet runs and
        # the recorded min may still sit above the true floor (VERDICT r6
        # item 2: flag it instead of silently recording)
        confirmed[name] = is_confirmed(times)
        print(f"# {name}: {timings[name]:.2f}s"
              + ("" if confirmed[name] else " [unconfirmed]"), file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # Targeted re-sample pass (VERDICT r10 item 5, widened r11 item 3): a
    # row is unconfirmed when the host never gave two quiet runs during
    # its slot — but by the END of the run the burst that contaminated it
    # has usually passed. Up to TWO extra samples for multi-second rows
    # (one for sub-1.5 s rows) converts "min may sit above the true floor"
    # into a confirmed floor on a normal host. Rows with ≥30 s floors are
    # skipped: one sample there costs more wall time than the driver
    # budget allows, and the 10x/50x trend rows carry their own
    # cross-checks.
    for name in [n for n, ok in confirmed.items() if not ok]:
        if timings[name] >= 30:
            continue
        fn = qs[name]
        budget = 2 if timings[name] >= 1.5 else 1
        for _ in range(budget):
            drop_stale_persisted()
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples[name].append(round(time.time() - t0, 3))
            times = samples[name]
            timings[name] = round(min(times), 3)
            confirmed[name] = is_confirmed(times)
            if confirmed[name]:
                break
        print(f"# resample {name}: {timings[name]:.2f}s"
              + ("" if confirmed[name] else " [still unconfirmed]"),
              file=sys.stderr)
    total = round(sum(timings.values()), 3)  # floors may have dropped

    # Skew-immunity throughput (VERDICT r4 item 2): the skew row equalizes
    # OUTPUT pairs with the uniform flagship by construction, so pairs/sec
    # on the recorded floors is directly comparable; one extra aggregation
    # per row makes the claim checkable from this artifact alone.
    throughput = {}
    try:
        for name in ("overlap_count_per_contig", "overlap_count_skewed"):
            pairs = int(
                qs[name](spark, sf_dir)
                .agg(F.sum("n_pairs").cast("bigint").alias("p"))
                .collect()[0]["p"]
            )
            throughput[name] = {
                "output_pairs": pairs,
                "pairs_per_sec": round(pairs / timings[name]),
            }
        throughput["skew_over_uniform_time_ratio"] = round(
            timings["overlap_count_skewed"] / timings["overlap_count_per_contig"], 3
        )
    except Exception as exc:  # never fail the bench over the extra metric
        throughput = {"error": str(exc)[:200]}
    # IVF skew-immunity (r9): guarded serving over the 60%-dense corpus vs
    # the uniform serving twin at matched output (same queries, same k) —
    # the "within ~1.3x" claim as a number checkable from this artifact
    # alone, mirroring the interval skew_over_uniform ratio above.
    try:
        throughput["ivf_skew_over_uniform_time_ratio"] = round(
            timings["ivf_skew_probe"] / timings["ivf_index_topk_probe"], 3
        )
    except Exception:
        pass

    # 50x scale-trend row (VERDICT r3 item 7): run once, OUTSIDE the headline
    # total — an early-warning sample for superlinear regressions (spill,
    # partition collapse) two scale steps above the flagship. Gate with
    # SPARK_GRAFT_SCALE_TREND=0 to skip.
    if os.environ.get("SPARK_GRAFT_SCALE_TREND", "1") != "0":
        def run_50x() -> float:
            drop_stale_persisted()
            t0 = time.time()
            qs["overlap_count_50x"](spark, sf_dir).write.mode(
                "overwrite").format("noop").save()
            return time.time() - t0

        # Untimed volume warm-up: the first 50x sample has measured 1.5-2.3x
        # its own floor (155 s vs 68 s, r6 run 1) because ~40 small queries
        # ran since the last large-volume join — heap shrunk back, C2 state
        # for the hot kernel aged out, page cache partially evicted. One
        # untimed 10x pass (~13 s) re-warms all three far cheaper than the
        # 60-90 s the spiked first sample plus its confirmation resamples
        # burn, and makes the recorded samples measure the JOIN, not the JVM.
        try:
            drop_stale_persisted()
            qs["overlap_count_10x"](spark, sf_dir).write.mode(
                "overwrite").format("noop").save()
        except Exception:
            pass  # warm-up is best-effort; the timed path reports real errors

        t = run_50x()
        fifty = [round(t, 3)]
        # intrinsic 50x/10x ratio measured 4.1-4.4x (r6, three-run floors);
        # a sample above 5x the 10x row is a warm-up artifact (JVM heap
        # growth / C2 JIT at volume — reproduced: 84-113s first vs 59-63s
        # repeats, same session, plan-shape warm) or a host burst — buy up
        # to TWO confirmation samples before recording a superlinear-looking
        # trend (r6: one of three clean runs had BOTH of its two samples
        # inflated, recording 5.98x against a same-session floor of 4.3x)
        while (
            t > 5.0 * timings.get("overlap_count_10x", t) and len(fifty) < 3
        ):
            t2 = run_50x()
            fifty.append(round(t2, 3))
            t = min(t, t2)
        if len(fifty) == 1:
            # one confirmation sample unconditionally (VERDICT r11 item 3):
            # a single-sample row can never confirm, and this row was a
            # standing member of the unconfirmed list — ~60 s per run is
            # the price of shipping it as a floor instead of an upper bound
            t2 = run_50x()
            fifty.append(round(t2, 3))
            t = min(t, t2)
        timings["overlap_count_50x"] = round(t, 3)
        samples["overlap_count_50x"] = fifty
        confirmed["overlap_count_50x"] = is_confirmed(fifty)
        print(f"# overlap_count_50x (excluded from total): "
              f"{timings['overlap_count_50x']:.2f}s", file=sys.stderr)

        # LLM-family 10x scale-trend rows (VERDICT r11 item 2): the
        # headline dedup paths measured at 10x corpus, OUTSIDE the total
        # like the 50x row — converts the minhash/embedding 100 TB claims
        # from plan-shape argument to measured trend. Up to 3 samples
        # (stop early once confirmed), ratio vs the 1x twin recorded below.
        for name, one_x in (
            ("minhash_near_dups_10x", "minhash_near_dups"),
            ("embedding_near_dups_10x", "embedding_near_dups"),
        ):
            ts: list[float] = []
            while True:
                drop_stale_persisted()
                t0 = time.time()
                qs[name](spark, sf_dir).write.mode(
                    "overwrite").format("noop").save()
                ts.append(round(time.time() - t0, 3))
                if len(ts) >= 3 or is_confirmed(ts):
                    break
            timings[name] = round(min(ts), 3)
            samples[name] = ts
            confirmed[name] = is_confirmed(ts)
            ratio = (round(timings[name] / timings[one_x], 2)
                     if timings.get(one_x) else None)
            print(f"# {name} (excluded from total): {timings[name]:.2f}s "
                  f"= {ratio}x of {one_x}", file=sys.stderr)

    # Anchor-normalized reporting (VERDICT r4 item 6): make the artifact
    # self-interpreting across host drift.
    ratios = {
        k: round(timings[k] / ref, 3)
        for k, ref in ANCHOR_REF.items() if k in timings
    }
    # median ratio, not geometric mean: the anchors are sub-second queries,
    # and one scheduling burst on a single anchor would otherwise drag the
    # whole normalization (observed: one 4.9x top_orders sample against
    # three ~1.7x anchors). The per-anchor ratios stay in the JSON so the
    # choice is auditable.
    sr = sorted(ratios.values())
    drift = round(
        (sr[len(sr) // 2] if len(sr) % 2 else
         math.sqrt(sr[len(sr) // 2 - 1] * sr[len(sr) // 2])), 3
    ) if sr else 1.0
    anchors = {
        "reference_round": "r3",
        "reference_floors": ANCHOR_REF,
        "current_over_reference": ratios,
        "drift": drift,
    }
    queries_normalized = {k: round(v / drift, 3) for k, v in timings.items()}

    # Scale-trend ratios as artifact numbers (VERDICT r11 item 2): the
    # 10x/1x growth of the dedup/embedding family next to the interval
    # family's 10x and 50x/10x rows — checkable from this file alone.
    scale_trend = {}
    for ten, one in (("overlap_count_10x", "overlap_count_per_contig"),
                     ("minhash_near_dups_10x", "minhash_near_dups"),
                     ("embedding_near_dups_10x", "embedding_near_dups")):
        if timings.get(ten) and timings.get(one):
            scale_trend[f"{ten}_over_1x"] = round(
                timings[ten] / timings[one], 2)
    if timings.get("overlap_count_50x") and timings.get("overlap_count_10x"):
        scale_trend["overlap_50x_over_10x"] = round(
            timings["overlap_count_50x"] / timings["overlap_count_10x"], 2)

    spark.stop()

    # Fresh-session floors for the warm-state watch rows (VERDICT r11
    # item 1): in-bench floors are WARM floors — the session has run
    # dozens of queries before each row, and for cogroup/applyInPandas
    # rows that warm state is worth >1.5x (r11's nearest_partitioned
    # "breach" was warm-vs-warm run-count variance, plan-identical). Each
    # run now also records a fresh-session floor per watch row (own
    # subprocess, same config + warm-ups), so round-over-round comparisons
    # can be like-vs-like: warm-to-warm from `samples`, fresh-to-fresh
    # from here. Override the list with SPARK_GRAFT_FRESH_FLOORS
    # (comma-separated; "0" disables).
    fresh_floors: dict[str, dict] = {}
    # overlap_count_skewed joined the list in r12: its warm floor breached
    # 1.36x with a md5-identical plan (family-wide host shift) — a
    # fresh-to-fresh baseline makes the next such episode decidable
    # without a dedicated restoring run.
    watch = os.environ.get(
        "SPARK_GRAFT_FRESH_FLOORS",
        "nearest_partitioned,overlap_partitioned_selective,"
        "overlap_count_skewed",
    )
    if watch not in ("0", ""):
        import subprocess
        for name in [w.strip() for w in watch.split(",") if w.strip()]:
            try:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--fresh-one", name],
                    capture_output=True, text=True, timeout=900, check=True,
                ).stdout.strip().splitlines()
                rec = json.loads(out[-1])
                fresh_floors[name] = {"samples": rec["samples"],
                                      "floor": rec["floor"]}
            except Exception as exc:  # a failed probe must not kill the run
                fresh_floors[name] = {"error": str(exc)[:200]}
            print(f"# fresh-session floor {name}: "
                  f"{fresh_floors[name].get('floor', 'error')}",
                  file=sys.stderr)

    # VERDICT r5 item 1: the r5 single-line JSON (compact object + samples +
    # anchors + normalized + throughput) outgrew the driver's tail-capture
    # window and BENCH_r05.json recorded parsed:null. The detail now goes to
    # (a) a committed side file and (b) a PRECEDING stdout line; the FINAL
    # stdout line is the compact legacy object the driver parses.
    detail = {
        "samples": samples,
        "confirmed": confirmed,
        "anchors": anchors,
        "queries_normalized": queries_normalized,
        "throughput": throughput,
        "scale_trend": scale_trend,
        # floor protocol (r12): `queries`/`samples` floors are WARM
        # (in-bench, session warmed by prior queries); `fresh_floors` are
        # COLD (fresh session per row). Compare like-vs-like across runs.
        "fresh_floors": fresh_floors,
    }
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        payload = {"sf": sf, "cpus": int(cpus), "value": total,
                   "queries": timings, **detail}
        # per-cpus detail file (VERDICT r12 item 4): the driver runs the
        # bench at two core counts and the single legacy name meant the
        # second run clobbered the first's per-sample detail — exactly the
        # record needed to adjudicate burst-contaminated rows. Additive:
        # the legacy name stays for existing tooling.
        for fname in ("BENCH_DETAIL.json", f"BENCH_DETAIL_c{int(cpus)}.json"):
            with open(os.path.join(here, fname), "w") as fh:
                json.dump(payload, fh, indent=1)
    except OSError:
        pass  # detail is best-effort; the stdout line below still carries it
    print(json.dumps({"detail": detail}))
    # Final line kept lean (VERDICT r12 item 5): the one-line JSON outgrew
    # the driver's tail-capture window twice (r5, r11 — each time silently
    # disabling the round-over-round comparison). fresh_floors/scale_trend
    # live in the detail file + the preceding detail line; compact
    # separators shave ~2 bytes/key. The parsed contract (metric, value,
    # unit, queries, sf) is unchanged and no queries entry is removed.
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # names whose floor confirmation (two fastest within the window)
        # never landed — treat their timings as upper bounds, not floors
        "unconfirmed": sorted(k for k, v in confirmed.items() if not v),
        "sf": sf,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
