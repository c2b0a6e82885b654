"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship interval overlap join at sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the LLM-pipeline extensions); ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for each.

Design rules for oracle comparability (the driver hash-compares values):

- every computed column is aliased identically in Spark and SQL;
- no raw floating-point aggregates — money/value sums are integer-scaled
  (``floor(x * 100)`` per row, then summed as BIGINT) so both engines
  produce bit-identical results regardless of summation order;
- the interval views derive deterministically from the driver tables
  (FIXTURES.md F7 pattern): integer modulo arithmetic only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequila_native_spark import (
    count_overlaps,
    coverage,
    overlap_count_agg,
    filter_by_overlap,
    mark_by_overlap,
    merge_intervals,
    nearest_join,
    overlap_join,
    union_coverage,
)
from sequila_native_spark.functions import (
    attach_binary,
    cosine_topk,
    decode_media_meta,
    exact_dedup_clusters,
    lang_id,
    lsh_ann_topk,
    minhash_pairs,
    near_dup_pairs,
    quality_features,
    simhash64,
)
from sequila_native_spark.functions.text import (
    STOPWORDS,
    lang_id_sql,
    normalize_text_sql,
    repetition_features_sql,
    winnow_containment_oracle_sql,
    winnow_containment_pairs,
    winnow_fingerprints,
    winnow_fingerprints_oracle_sql,
)
from sequila_native_spark.functions.dedup import (
    minhash_signature_draws_sql,
    dedup_clusters,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_sql,
    shingles_sql,
)

_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
_REP_SQL = repetition_features_sql("text")
# Hashed linear quality classifier (classify.py): synthetic stand-in model
# scored inside the doc_feature_stats scan (inline strategy — zero joins).
_QC_BUCKETS, _QC_SEED, _QC_WSEED = 512, 23, 7
from sequila_native_spark.functions.classify import (  # noqa: E402
    score_exprs_sql as _score_exprs_sql,
    synthetic_quality_weights_sql as _synthetic_weights_sql,
)

_QC_N_SQL, _QC_S_SQL = _score_exprs_sql(
    "text", buckets=_QC_BUCKETS, seed=_QC_SEED
)
_QC_WARR_SQL = _synthetic_weights_sql(_QC_BUCKETS, _QC_WSEED)
_SHINGLES_SQL = shingles_sql("text", 3)
_MINHASH_SQL = minhash_signature_draws_sql("text", 8, 3)

# ---------------------------------------------------------------------------
# Derived interval views (FIXTURES.md F7): reads from lineitem, targets from
# orders. Closed intervals over a 100 kb coordinate domain, 8 contigs.
# ---------------------------------------------------------------------------

READS_SQL = """
    SELECT 'chr' || CAST(l_orderkey % 8 AS VARCHAR) AS contig,
           CAST(l_partkey % 100000 AS INT) AS r_start,
           CAST(l_partkey % 100000 + (l_suppkey % 500) AS INT) AS r_end,
           l_orderkey * 10 + l_linenumber AS r_id
    FROM lineitem
"""

TARGETS_SQL = """
    SELECT 'chr' || CAST(o_orderkey % 8 AS VARCHAR) AS contig,
           CAST((o_custkey * 37) % 100000 AS INT) AS t_start,
           CAST((o_custkey * 37) % 100000 + (o_orderkey % 2000) AS INT) AS t_end,
           o_orderkey AS t_id
    FROM orders
"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _reads(spark: SparkSession, sf_dir: str, with_id: bool = True) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cols = [
        F.concat(F.lit("chr"), (F.col("l_orderkey") % 8).cast("string")).alias("contig"),
        (F.col("l_partkey") % 100000).cast("int").alias("r_start"),
        ((F.col("l_partkey") % 100000) + (F.col("l_suppkey") % 500)).cast("int").alias("r_end"),
    ]
    if with_id:
        cols.append((F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("r_id"))
    return li.select(*cols)


def _targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    start = (F.col("o_custkey") * 37) % 100000
    return o.select(
        F.concat(F.lit("chr"), (F.col("o_orderkey") % 8).cast("string")).alias("contig"),
        start.cast("int").alias("t_start"),
        (start + F.col("o_orderkey") % 2000).cast("int").alias("t_end"),
        F.col("o_orderkey").alias("t_id"),
    )


_IVL = dict(left_start="r_start", left_end="r_end", right_start="t_start", right_end="t_end")

# cents-scaled revenue: identical double expression in both engines, floored
# per row to an exact integer before summing ⇒ order-insensitive totals
def _rev():
    return F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")


_REV_SQL = "CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


# ---------------------------------------------------------------------------
# Interval operator queries (SURVEY.md §2A)
# ---------------------------------------------------------------------------

def q_overlap_count_per_contig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship count join. r12: a count-shaped query never needs the pair
    rows — ``overlap_count_agg`` (two binary searches per probe, per-batch
    partial sums) replaces the binned pair join + groupBy; identical rows
    (oracle hash-pinned), no 148M-pair emission. The binned pair join stays
    measured by overlap_pairs_chr0 / overlap_count_algorithms / the outer
    rows."""
    return overlap_count_agg(
        _targets(spark, sf_dir), _reads(spark, sf_dir, with_id=False),
        on="contig", left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end", alias="n_pairs",
    )


def q_overlap_pairs_chr0(spark: SparkSession, sf_dir: str) -> DataFrame:
    reads = _reads(spark, sf_dir).where((F.col("contig") == "chr0") & (F.col("r_id") % 7 == 0))
    targets = _targets(spark, sf_dir).where(F.col("contig") == "chr0")
    oj = overlap_join(reads, targets, on="contig", **_IVL, algorithm="binning")
    return oj.select("r_id", "r_start", "r_end", "t_id", "t_start", "t_end", "contig")


def q_overlap_count_algorithms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 in one driver slot: the SAME join through the index (CollectLeft
    broadcast, interval_join.rs:472-487), naive (prefer_interval_join=false,
    sequila_physical_planner.rs:36-39), and partitioned (cogroup,
    interval_join.rs:391-398) algorithms, counted per contig and joined into
    one row set — identical columns by construction.

    r3 ran these as three twin queries whose oracle SQL was verbatim
    identical; the driver checks only the first 50 ``queries()`` entries, so
    the twins are merged to free slots for multimodal_meta /
    overlap_count_10x / skew / low-memory coverage (VERDICT r3 items 1-2-5).
    Cross-algorithm agreement on randomized inputs stays separately pinned by
    tests/test_property_agreement.py."""
    reads = _reads(spark, sf_dir, with_id=False)
    targets = _targets(spark, sf_dir)

    def cnt(algo: str, alias: str) -> DataFrame:
        oj = overlap_join(reads, targets, on="contig", **_IVL, algorithm=algo)
        return oj.groupBy("contig").agg(F.count(F.lit(1)).alias(alias))

    return (
        cnt("index", "n_pairs_index")
        .join(cnt("naive", "n_pairs_naive"), "contig")
        .join(cnt("partitioned", "n_pairs_partitioned"), "contig")
    )


def q_overlap_count_low_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 end-to-end: the broadcast-index join under
    ``spark.sequila.intervalJoinLowMemory=true`` (100k-row emit cap,
    interval_join.py _broadcast_index_join; reference
    interval_join.rs:550-555) — same result as the unbounded path, bounded
    Arrow output batches. The conf is read inside the overlap_join call, so
    scoping set/restore around it leaves the session untouched."""
    key = "spark.sequila.intervalJoinLowMemory"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        oj = overlap_join(_reads(spark, sf_dir, with_id=False), _targets(spark, sf_dir),
                          on="contig", **_IVL, algorithm="index")
    finally:
        spark.conf.unset(key) if prior is None else spark.conf.set(key, prior)
    return oj.agg(F.count(F.lit(1)).alias("n_pairs"))


def _skew_contig(key_col) -> F.Column:
    """Skewed contig derivation (VERDICT r3 item 2): half of all rows land on
    chr0, the rest spread over chr1/3/5/7 — the chr1-dominates shape real
    genomic keys have and the uniform ``% 8`` driver views do not."""
    return F.concat(
        F.lit("chr"),
        F.when(key_col % 2 == 0, F.lit(0)).otherwise(key_col % 8).cast("string"),
    )


def q_overlap_count_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship join under 50% single-key skew on BOTH sides. Proves the
    binned join's claim (DESIGN.md): the hash exchange on
    ``(contig, bin)`` spreads a hot contig across its coordinate bins, so one
    dominant key cannot collapse the join onto one task the way a plain
    per-contig shuffle would.

    The target side samples 40% of rows (``o_orderkey % 10 < 4`` — parity-
    balanced, so the skew shape is preserved) to equalize OUTPUT size with
    the uniform flagship row (~148M pairs both at sf0.1): the bench numbers
    then compare skew handling directly, not output volume. Measured sf0.1:
    uniform 54.6M pairs/s vs skewed 59.5M pairs/s — the hot contig costs
    nothing per pair."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 < 4)
    reads = li.select(
        _skew_contig(F.col("l_orderkey")).alias("contig"),
        (F.col("l_partkey") % 100000).cast("int").alias("r_start"),
        ((F.col("l_partkey") % 100000) + (F.col("l_suppkey") % 500)).cast("int").alias("r_end"),
    )
    t_start = (F.col("o_custkey") * 37) % 100000
    targets = o.select(
        _skew_contig(F.col("o_orderkey")).alias("contig"),
        t_start.cast("int").alias("t_start"),
        (t_start + F.col("o_orderkey") % 2000).cast("int").alias("t_end"),
    )
    return overlap_count_agg(
        targets, reads, on="contig",
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end", alias="n_pairs",
    )


def q_overlap_selective_algorithms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 composite (VERDICT r4 item 1 slot engineering): the index
    (broadcast per-key sorted arrays, CollectLeft analogue) and partitioned
    (cogroup) algorithms over the SAME selective build side, counted per
    contig and joined into one hash-checked frame — the same merge trick as
    ``overlap_count_algorithms``. Replaces the two standalone rows
    ``overlap_small_build_index`` / ``overlap_partitioned_selective``."""
    build = _targets(spark, sf_dir).where(F.col("t_id") % 101 == 0)
    probe = _reads(spark, sf_dir, with_id=False)

    def cnt(algo: str, alias: str) -> DataFrame:
        oj = overlap_join(
            build, probe, on="contig",
            left_start="t_start", left_end="t_end",
            right_start="r_start", right_end="r_end",
            algorithm=algo,
        )
        return oj.groupBy("contig").agg(F.count(F.lit(1)).alias(alias))

    return cnt("index", "n_pairs_index").join(
        cnt("partitioned", "n_pairs_partitioned"), "contig"
    )


def q_range_only_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2: interval-only join, no equi-keys (reference injects lit(1)=lit(1)).
    # r12: measured BOTH shapes — the aggregated count kernel's fixed
    # two-job cost (build collect + probe) loses to the plain binned join on
    # these ~6k-row filtered sides (1.18 vs 1.06 floor interleaved), so the
    # pair join stays; it also keeps the keyless overlap_join plan measured.
    reads = _reads(spark, sf_dir).where(F.col("r_id") % 97 == 0).drop("r_id", "contig")
    targets = _targets(spark, sf_dir).where(F.col("t_id") % 101 == 0).drop("t_id", "contig")
    oj = overlap_join(reads, targets, on=None, **_IVL, algorithm="binning")
    return oj.agg(F.count(F.lit(1)).alias("n_pairs"))


def q_overlap_strict_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3: strict < / > predicates, normalized to closed via bound-1 —
    # r12: the same normalization feeds the aggregated count kernel.
    return overlap_count_agg(
        _targets(spark, sf_dir), _reads(spark, sf_dir, with_id=False),
        on="contig", left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end", strict=True,
        alias="n_pairs",
    )


def q_count_overlaps_per_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A6 intent, corrected: every probe row kept, 0 when no overlap.
    # r12: index algorithm — two binary searches per probe against the
    # broadcast build, zero shuffle, no pair emission (binning twin
    # hash-pinned equal in tests/test_nearest_count.py).
    return count_overlaps(
        _reads(spark, sf_dir, with_id=False), _targets(spark, sf_dir),
        on="contig", **_IVL, algorithm="index", count_col="n_overlaps",
    )


def q_coverage_union_per_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 composite: per-target overlap count + clipped-base coverage
    (A12 ``coverage`` kernel) joined with the merged-sweep distinct-base
    union coverage on the unique ``t_id`` — one row set exercising both
    operators. Replaces the standalone ``coverage_per_target`` /
    ``union_coverage_per_target`` rows."""
    cov = coverage(
        _reads(spark, sf_dir, with_id=False), _targets(spark, sf_dir),
        on="contig", **_IVL, algorithm="index",
    )
    uni = union_coverage(
        _reads(spark, sf_dir, with_id=False), _targets(spark, sf_dir),
        on="contig", **_IVL,
    )
    return cov.join(uni.select("t_id", "bases_union"), "t_id").select(
        "contig", "t_start", "t_end", "t_id",
        "n_overlaps", "bases_covered", "bases_union",
    )


def q_map_reads_per_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bedtools ``map`` with a minimum-overlap fraction (VERDICT r4 items
    4+5 in one slot): per sampled target, aggregate the overlapping reads'
    length column — count / sum / min-start / max-end — counting only
    overlaps that cover ≥50% of the read (bedtools ``-F 0.5``).

    The general operator behind the A6 intent (``interval_join.rs:735``):
    ``count_overlaps`` and ``coverage`` are its two special cases."""
    from sequila_native_spark import map_intervals

    t = _targets(spark, sf_dir).where(F.col("t_id") % 7 == 3)
    r = _reads(spark, sf_dir, with_id=False).withColumn(
        "r_len", (F.col("r_end") - F.col("r_start") + 1).cast("bigint")
    )
    return map_intervals(
        t, r, on="contig",
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end",
        aggs={
            "n_reads": ("count", None),
            "sum_len": ("sum", "r_len"),
            "min_start": ("min", "r_start"),
            "max_end": ("max", "r_end"),
        },
        min_frac_right=0.5,
        # r13 (guide §2.4/§3.1): count/sum/min/max are batch-decomposable,
        # so the broadcast-index kernel computes them from per-batch
        # partials — the pair-sized exchange disappears.
        # Falls back to the binned pair join past the broadcast budget.
        algorithm="index",
    )


def q_windowed_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bedtools ``makewindows`` ∘ ``intersect -c`` (VERDICT r4 item 1): tile
    sampled targets with 500-base windows, count overlapping reads per
    window, summarize per contig. Drives ``make_windows`` under a green
    oracle via composition — window generation is pure Catalyst
    (sequence+explode inside the scan tasks), depth is the binned
    count_overlaps."""
    from sequila_native_spark import make_windows

    wins = make_windows(
        _targets(spark, sf_dir).where(F.col("t_id") % 101 == 0),
        on=["contig", "t_id"], start="t_start", end="t_end", window=500,
    )
    depth = count_overlaps(
        _reads(spark, sf_dir, with_id=False), wins,
        on="contig", left_start="r_start", left_end="r_end",
        right_start="t_start", right_end="t_end",
        algorithm="index", count_col="depth",
    )
    return depth.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("depth").cast("bigint").alias("total_depth"),
        F.max("depth").alias("max_depth"),
        F.sum(F.col("t_end") - F.col("t_start") + 1).cast("bigint").alias("window_bases"),
    )


def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bedtools ``cluster -d 300`` (VERDICT r4 item 1): label sampled reads
    with their transitive-overlap cluster (within 300 bases), then summarize
    cluster count / size / span per contig — a compact oracle row over the
    full labeling (the twin derives identical clusters from gap-merged
    runs)."""
    from sequila_native_spark import cluster_intervals

    sel = _reads(spark, sf_dir, with_id=False).where(
        (F.col("r_start") * 7 + F.col("r_end")) % 31 == 0
    )
    cl = cluster_intervals(
        sel, on="contig", start="r_start", end="r_end", max_gap=300
    )
    per = cl.groupBy("contig", "cluster_id", "cluster_start", "cluster_end").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return per.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.max("sz").alias("max_cluster_size"),
        F.sum(F.col("cluster_end") - F.col("cluster_start") + 1)
        .cast("bigint").alias("cluster_bases"),
    )


def q_reads_in_out_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 composite: the semi (``intersect -u``) and anti (``intersect -v``)
    overlap filters over the same region set, counted per contig and
    full-joined into one frame (0-filled) — one hash-checked row driving
    both declared join-type shapes. Replaces the standalone
    ``reads_inside_targets`` / ``reads_outside_targets`` rows."""
    regions = _targets(spark, sf_dir).where(F.col("t_id") % 11 == 0)

    def cnt(negate: bool, alias: str) -> DataFrame:
        kept = filter_by_overlap(
            _reads(spark, sf_dir), regions, on="contig",
            df_start="r_start", df_end="r_end",
            regions_start="t_start", regions_end="t_end",
            negate=negate,
        )
        return kept.groupBy("contig").agg(F.count(F.lit(1)).alias(alias))

    j = cnt(False, "n_inside").join(cnt(True, "n_outside"), "contig", "full")
    return j.select(
        "contig",
        F.coalesce(F.col("n_inside"), F.lit(0)).cast("bigint").alias("n_inside"),
        F.coalesce(F.col("n_outside"), F.lit(0)).cast("bigint").alias("n_outside"),
    )


def q_reads_inside_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # semi overlap filter (bedtools intersect -u)
    regions = _targets(spark, sf_dir).where(F.col("t_id") % 11 == 0)
    kept = filter_by_overlap(
        _reads(spark, sf_dir), regions, on="contig",
        df_start="r_start", df_end="r_end",
        regions_start="t_start", regions_end="t_end",
    )
    return kept.groupBy("contig").agg(F.count(F.lit(1)).alias("n_reads"))


def q_reads_marked_by_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mark join (the LeftMark member of the reference's declared join-type
    # enum, joins/utils.rs:496-521): every read kept, boolean overlap mark;
    # aggregated per contig x mark
    regions = _targets(spark, sf_dir).where(F.col("t_id") % 11 == 0)
    marked = mark_by_overlap(
        _reads(spark, sf_dir), regions, on="contig",
        df_start="r_start", df_end="r_end",
        regions_start="t_start", regions_end="t_end",
    )
    return marked.groupBy("contig", "has_overlap").agg(
        F.count(F.lit(1)).alias("n_reads")
    )


def q_merged_read_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools-merge: flatten the read set into maximal disjoint runs
    merged = merge_intervals(
        _reads(spark, sf_dir, with_id=False), on="contig",
        start="r_start", end="r_end",
    )
    return merged.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum(F.col("r_end") - F.col("r_start") + 1).alias("bases_total"),
        F.sum("n_merged").alias("n_inputs"),
    )


def q_union_coverage_per_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    # breadth of coverage: distinct covered bases (merged-interval sweep)
    return union_coverage(
        _reads(spark, sf_dir, with_id=False), _targets(spark, sf_dir),
        on="contig", **_IVL,
    )


def q_nearest_target_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5: for each target exactly one read — overlapping else nearest,
    # deterministic (distance, start, end) tie-break. Probe side sampled
    # 1-in-10 to keep the driver's O(|probe|·|build|) SQL oracle cheap.
    return nearest_join(
        _reads(spark, sf_dir, with_id=False),
        _targets(spark, sf_dir).where(F.col("t_id") % 10 == 0),
        on="contig", **_IVL, algorithm="index",
    )


def q_nearest_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools closest -k extension of A5: up to 3 nearest reads per target,
    # exact (distance, start, end) ranking incl. ties, via the contiguous
    # flank-slice top-k kernel in the Arrow cogroup (partitioned) path
    return nearest_join(
        _reads(spark, sf_dir, with_id=False),
        _targets(spark, sf_dir).where(F.col("t_id") % 50 == 0),
        on="contig", **_IVL, algorithm="partitioned", k=3,
    )


def q_overlap_outer_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite: left-outer ('left') + full-outer ('full') overlap-join
    emission in one tagged row set (schemas aligned: the left-outer branch
    has no null-padded left side, so n_no_target is structurally 0). Frees
    one prefix slot for doc_dup_span_stats; the standalone q_ functions
    remain for bench timing."""
    left = q_overlap_left_outer(spark, sf_dir).select(
        F.lit("left").alias("family"), "contig", "n_rows",
        F.col("n_unmatched").alias("n_no_read"),
        F.lit(0).cast("bigint").alias("n_no_target"),
    )
    full = q_overlap_full_outer(spark, sf_dir).select(
        F.lit("full").alias("family"), "contig", "n_rows",
        "n_no_read", "n_no_target",
    )
    return left.unionAll(full)


def q_doc_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-family duplication stats (r6): per-doc n-gram-granular
    duplicated-span coverage (Lee et al. 2021) — exact integers, md5 gram
    keys, hash-oracle-checked against the DuckDB twin."""
    from sequila_native_spark.functions import duplicated_span_stats

    return duplicated_span_stats(_t(spark, sf_dir, "documents"), n=8)


def q_overlap_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # left-outer emission (bedtools -loj): every preserved target appears,
    # unmatched ones null-padded (joins/utils.rs:496-521 declared semantics)
    oj = overlap_join(
        _targets(spark, sf_dir).where(F.col("t_id") % 11 == 0),
        _reads(spark, sf_dir, with_id=False),
        on="contig",
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end",
        how="left", algorithm="binning",
    )
    return oj.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("r_start").isNull(), 1).otherwise(0)).alias("n_unmatched"),
    )


def q_overlap_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full-outer emission: every row of BOTH sides appears; unmatched rows
    # null-padded on the other side (completes the declared join-type enum,
    # joins/utils.rs:496-521)
    oj = overlap_join(
        _targets(spark, sf_dir).where(F.col("t_id") % 13 == 0),
        _reads(spark, sf_dir, with_id=False).where(
            (F.col("r_start") * 31 + F.col("r_end")) % 17 == 0
        ),
        on="contig",
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end",
        how="full", algorithm="binning",
    )
    return oj.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("r_start").isNull(), 1).otherwise(0)).alias("n_no_read"),
        F.sum(F.when(F.col("t_start").isNull(), 1).otherwise(0)).alias("n_no_target"),
    )


# ---------------------------------------------------------------------------
# Inherited relational surface (SURVEY.md §2B) — stock Spark
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("bigint")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint")).alias("sum_base_price_cents"),
            F.sum(_rev()).alias("sum_disc_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_rev()).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("bigint")).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Schema-drift-tolerant events read (TIMESTAMP(NANOS) legacy vs native
    # timestamp[us]); scopes the nanosAsLong conf and pins UTC — no session
    # side effects for native-timestamp data.
    from sequila_native_spark.sources import read_events

    return read_events(spark, f"{sf_dir}/events.parquet")


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("sum_value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap-based sessionization (session_window) run in batch mode; the
    # streaming twin is sequila_native_spark.streaming.sessionize
    from sequila_native_spark.streaming import sessionize

    ev = _events(spark, sf_dir).where(F.col("user_id") % 20 == 0)
    return sessionize(ev, gap="30 minutes")


def q_events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch twin of the applyInPandasWithState running-state operator
    # (streaming.stateful.running_user_totals); stream == batch pinned in
    # tests/test_sources_streaming.py
    from sequila_native_spark.streaming import running_user_totals

    ev = _events(spark, sf_dir).where(F.col("user_id") % 50 == 0)
    return running_user_totals(ev).select(
        "event_id", "user_id", "ordinal", "run_cents"
    )


def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming exact-dedup's batch twin: replayed events (1-in-3 duplicated,
    # the at-least-once-delivery shape) collapse back to the original set
    from sequila_native_spark.streaming import dedup_events

    ev = _events(spark, sf_dir)
    replayed = ev.unionAll(ev.where(F.col("event_id") % 3 == 0))
    return dedup_events(replayed, "event_id").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def q_view_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch twin of the stream-stream watermarked funnel join
    # (streaming.events.correlate_event_streams); stream == batch pinned in
    # tests/test_sources_streaming.py. ts truncated to whole seconds so the
    # window bound and integer lag agree exactly with the nanos-precision
    # DuckDB oracle.
    from sequila_native_spark.streaming import correlate_event_streams

    ev = _events(spark, sf_dir).withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    out = correlate_event_streams(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        tolerance_seconds=21600,
    )
    return out.select("user_id", "a_event_id", "b_event_id", "lag_seconds")


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n_events"))
    )


def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite (VERDICT r5 item 2): events_dedup + events_json in one
    row set. The replayed stream (1-in-3 duplicated — the at-least-once
    shape) is key-deduped back to the original event set, then the JSON
    ``props.$.k`` aggregation runs over the SURVIVORS — so a dedup defect
    (lost or surviving duplicate rows) shifts both n_events and sum_k, and
    the oracle is the plain-events JSON twin verbatim. Frees one 50-prefix
    slot vs the two standalone rows (both q_ functions remain for bench)."""
    from sequila_native_spark.streaming import dedup_events

    ev = _events(spark, sf_dir)
    replayed = ev.unionAll(ev.where(F.col("event_id") % 3 == 0))
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        dedup_events(replayed, "event_id")
        .groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n_events"))
    )


def q_events_stateful_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite (VERDICT r5 item 2): view_purchase_funnel +
    events_running_totals as one tagged all-bigint union — the two batch
    twins of the stateful streaming operators (stream-stream watermarked
    funnel join; applyInPandasWithState running totals) under one driver
    slot. Columns are normalized to (op, user_id, k1, k2, v); the oracle is
    the two original twins aliased identically and UNION ALL'd."""
    funnel = q_view_purchase_funnel(spark, sf_dir).select(
        F.lit("funnel").alias("op"),
        F.col("user_id"),
        F.col("a_event_id").alias("k1"),
        F.col("b_event_id").alias("k2"),
        F.col("lag_seconds").alias("v"),
    )
    running = q_events_running_totals(spark, sf_dir).select(
        F.lit("running").alias("op"),
        F.col("user_id"),
        F.col("event_id").alias("k1"),
        F.col("ordinal").alias("k2"),
        F.col("run_cents").alias("v"),
    )
    return funnel.unionAll(running)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (north-star extensions)
# ---------------------------------------------------------------------------

def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition quality rules (dup-line fraction, modal-bigram
    # share, longest same-token run) — pure Catalyst, integer-scaled
    from sequila_native_spark.functions import repetition_features

    docs = _t(spark, sf_dir, "documents")
    feats = repetition_features(F.col("text"))
    return docs.select(F.col("doc_id"), *[v.alias(k) for k, v in feats.items()])


def q_doc_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite (VERDICT r5 item 2): doc_text_stats +
    doc_repetition_stats as ONE wide per-doc feature row — both feature
    families come off a single documents scan (they were two scans as
    standalone rows), pure Catalyst, zero shuffle. The oracle is the two
    original twins' expressions merged into one SELECT. Frees one
    50-prefix slot (both q_ functions remain for bench).

    r6: also carries per-doc ``lang_pred`` — strictly stronger than the
    standalone ``doc_lang_dist`` aggregate (the distribution is a GROUP BY
    away), freeing that slot too while keeping lang_id oracle-checked.

    r6 widening: ``qc_grams`` / ``qc_score_milli`` — the hashed linear
    quality classifier (classify.py, fasttext-shaped model inference) under
    the deterministic synthetic model, inline strategy: the weight vector is
    an in-plan array literal and the score evaluates inside this same scan
    (still zero joins / zero shuffles / zero Python). Exact-integer oracle
    via the per-row DuckDB twin (score_exprs_sql)."""
    from sequila_native_spark.functions import repetition_features
    from sequila_native_spark.functions.classify import (
        score_columns,
        synthetic_weights_py,
    )

    docs = _t(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    rf = repetition_features(F.col("text"))
    qc_n, qc_s = score_columns(
        synthetic_weights_py(_QC_BUCKETS, _QC_WSEED),
        _QC_BUCKETS,
        F.col("text"),
        seed=_QC_SEED,
    )
    return docs.select(
        F.col("doc_id"),
        lang_id(F.col("text")).alias("lang_pred"),
        *[v.alias(k) for k, v in qf.items()],
        *[v.alias(k) for k, v in rf.items()],
        qc_n.alias("qc_grams"),
        qc_s.alias("qc_score_milli"),
    )


def q_doc_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Deterministic PII augmentation: the synthetic documents are word salad
# with no natural PII, so the driver row plants class-disjoint PII spans
# derived from doc_id (same expression evaluated by BOTH engines — the
# operator under test is detection/redaction, not the augmentation).
# {cast} absorbs the dialect difference (STRING vs VARCHAR).
_PII_AUG_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@ex'"
    " || (doc_id % 7) || '.org' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 1 THEN ' from 10.' || (doc_id % 256) || '.'"
    " || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) ELSE '' END"
    " || CASE WHEN doc_id % 5 = 2 THEN ' ssn 123-45-'"
    " || lpad(CAST(doc_id % 10000 AS {cast}), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 6 = 3 THEN ' card 4111-1111-1111-'"
    " || lpad(CAST(doc_id % 10000 AS {cast}), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 7 = 4 THEN ' call +1 415-555-'"
    " || lpad(CAST(doc_id % 10000 AS {cast}), 4, '0') ELSE '' END"
)


def q_doc_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (r6, LLM-pipeline layer): per-source PII
    profile over the augmented documents column — per-class match counts,
    docs-with-any-PII, and the redaction length delta. Pure Catalyst
    ``regexp_extract_all`` / chained ``regexp_replace`` (one scan, one
    shuffle for the groupBy); patterns live in the Java∩RE2 common subset
    so the DuckDB twin runs them verbatim."""
    from sequila_native_spark.functions import pii_stats

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "source", _PII_AUG_SQL.format(cast="STRING") + " AS aug"
    )
    stats = pii_stats(F.col("aug"))
    per_doc = docs.select(
        "source", *[v.alias(k) for k, v in stats.items()]
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(k).cast("bigint").alias(k)
            for k in stats
            if k != "redact_delta"
        ],
        F.sum(F.when(F.col("n_pii") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_with_pii"),
        F.sum("redact_delta").cast("bigint").alias("redact_delta"),
    )


def q_decontaminated_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r6, LLM-pipeline layer): docs with
    ``doc_id % 17 == 0`` act as the eval set; the rest is the corpus. Per
    source: contaminated-doc count, shared distinct 4-grams, and the clean
    count from ``decontaminate`` itself — the twin recomputes the clean
    side as corpus − contaminated, so the anti-join is verified against
    the complement identity. Benchmark n-gram set is broadcast; the corpus
    is never shuffled for flagging."""
    from sequila_native_spark.functions import contamination_report, decontaminate
    from sequila_native_spark.util import ensure_parallel, lib_checkpoint

    # ensure_parallel: the sf0.01/sf0.1 documents parquet scans as ONE
    # split, which would run the whole corpus-side gram explode single-task
    # (6.3 of the row's 7.5 s at sf0.1, measured); no-op at real scale —
    # same treatment as filtered_doc_stats / doc_fingerprints.
    docs = ensure_parallel(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )
    bench = docs.where(F.col("doc_id") % 17 == 0)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    # r12: rep feeds BOTH the contaminated-count branch and decontaminate's
    # anti-join; per-branch pruning defeats exchange reuse (plan audit: 0
    # ReusedExchange, the corpus gram-explode ran twice). rep is
    # contaminated-docs-cardinality — the standard doc-sized pin.
    rep = lib_checkpoint(contamination_report(corpus, bench, n=4))
    cont = (
        rep.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.sum("n_shared").cast("bigint").alias("shared_grams"),
        )
    )
    clean = (
        decontaminate(corpus, bench, n=4, flagged=rep)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_clean"))
    )
    # drive from the corpus side (like the twin) so a source whose docs are
    # ALL contaminated still emits a row with n_clean = 0
    base = corpus.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    return (
        base.join(cont, "source", "left")
        .join(clean, "source", "left")
        .select(
            "source",
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias("n_contaminated"),
            F.coalesce("shared_grams", F.lit(0)).cast("bigint").alias("shared_grams"),
            F.coalesce("n_clean", F.lit(0)).cast("bigint").alias("n_clean"),
        )
    )


def q_doc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window prep (r6, LLM-pipeline layer) — tagged composite of
    the two window shapes:

    - ``op='chunk'``: 64-token windows / 8 overlap per document, profiled
      per source (count, window tokens, deepest window, partial windows).
      In-scan Catalyst (``sequence``+``slice``); shuffle only at the
      groupBy.
    - ``op='pack'``: sequence packing (concat-and-cut at 512 tokens over
      the md5-ordered stream, 8 shards), profiled per shard (docs, stream
      tokens, packs, straddling docs). Per-shard window cumsum — the
      sharding is exactly what keeps the cumsum parallel at 100 TB.
    """
    from sequila_native_spark.functions import chunk_documents, pack_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, size=64, overlap=8)
    chunk_rows = (
        chunks.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.max("chunk_id").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("n_tokens") < 64, 1).otherwise(0))
            .cast("bigint")
            .alias("n_partial"),
        )
        .select(
            F.lit("chunk").alias("op"), F.col("source").alias("key"),
            "n_items", "tokens", "n_groups", "n_partial",
        )
    )
    packs = pack_documents(docs, capacity=512, shards=8)
    pack_rows = packs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
        (F.max("last_pack") + 1).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("first_pack") < F.col("last_pack"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_partial"),
    ).select(
        F.lit("pack").alias("op"),
        F.concat(F.lit("shard_"), F.col("shard").cast("string")).alias("key"),
        "n_items", "tokens", "n_groups", "n_partial",
    )
    return chunk_rows.unionByName(pack_rows)


def q_interval_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite (VERDICT-style slot engineering): the three
    interval-set row sets — bedtools merge (``merged_read_runs``),
    subtract (``reads_minus_targets``) and complement
    (``read_coverage_gaps``) — share the per-contig
    ``(n_intervals, bases)`` shape, so they union into ONE tagged row set.
    The oracle is the three original (hash-green since r4/r5) twins
    UNION ALL'd verbatim with aligned aliases. Frees two 50-prefix slots;
    the standalone ``q_`` functions remain for bench."""
    merge = q_merged_read_runs(spark, sf_dir).select(
        F.lit("merge").alias("op"),
        "contig",
        F.col("n_runs").alias("n_intervals"),
        F.col("bases_total").cast("bigint").alias("bases"),
        F.col("n_inputs").cast("bigint").alias("n_inputs"),
    )
    sub = q_reads_minus_targets(spark, sf_dir).select(
        F.lit("subtract").alias("op"),
        "contig",
        F.col("n_pieces").alias("n_intervals"),
        F.col("bases_left").alias("bases"),
        F.lit(None).cast("bigint").alias("n_inputs"),
    )
    comp = q_read_coverage_gaps(spark, sf_dir).select(
        F.lit("complement").alias("op"),
        "contig",
        F.col("n_gaps").alias("n_intervals"),
        F.col("gap_bases").alias("bases"),
        F.lit(None).cast("bigint").alias("n_inputs"),
    )
    return merge.unionByName(sub).unionByName(comp)


def q_filtered_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 (VERDICT r4 item 1): ``filter_documents`` ∘ ``normalize_text``
    under a green oracle — the Gopher-style quality filter keeps documents
    on the RAW text (line structure matters for the repetition rules), the
    survivors are normalized, and the quality features are recomputed over
    the normalized text. Twins: the rule expressions are the already-
    oracle-checked feature twins; normalization via ``normalize_text_sql``
    (byte-equal by unit pin). One scan, zero shuffle, pure Catalyst."""
    from sequila_native_spark.functions.text import filter_documents, normalize_text
    from sequila_native_spark.util import ensure_parallel

    # ensure_parallel: the documents table scans as ONE split at driver SFs,
    # which would run the whole codegen'd feature chain single-task (15s+ at
    # sf0.1, bench r5); at real scale the scan has many splits and this
    # no-ops — same treatment as doc_fingerprints.
    docs = ensure_parallel(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    kept = filter_documents(
        docs, "text",
        min_tokens=10, min_ttr_milli=100, min_stop_milli=10,
        max_dup_line_milli=300, max_top_bigram_milli=180, max_word_run=8,
    )
    norm = kept.select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    feats = quality_features(F.col("text"))
    return norm.select("doc_id", *[v.alias(k) for k, v in feats.items()])


def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_clusters(_t(spark, sf_dir, "documents"))


def q_minhash_near_dups_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: the fast family's siphash base is not reproducible in
    # DuckDB; exact-Jaccard verification semantics are pinned by unit tests
    return minhash_pairs(
        _t(spark, sf_dir, "documents"), k=8, bands=4, threshold_milli=200,
        hash_family="fast",
    )


def q_minhash_delta_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite: full-corpus MinHash near-dups ('all') + corpus-delta
    incremental near-dups ('delta': batch = doc_id%5==0 probed against
    corpus = the rest, cross-side candidates only — no batch x batch, no
    corpus x corpus) in one tagged row set. Both md5-family so the DuckDB
    twin (shared base/banded CTEs, the delta restricted to cross-side
    pairs) is bit-identical. Replaces the standalone minhash_near_dups
    prefix row (its q_ function remains for bench)."""
    from sequila_native_spark.functions import dedup_against_corpus

    docs = _t(spark, sf_dir, "documents")
    all_pairs = minhash_pairs(
        docs, k=8, bands=4, threshold_milli=200, hash_family="md5"
    )
    delta = dedup_against_corpus(
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where(F.col("doc_id") % 5 != 0),
        k=8, bands=4, threshold_milli=200, hash_family="md5",
    )
    return all_pairs.select(
        F.lit("all").alias("family"), "id_a", "id_b", "n_common", "n_union"
    ).unionAll(
        delta.select(
            F.lit("delta").alias("family"),
            F.col("batch_id").alias("id_a"),
            F.col("corpus_id").alias("id_b"),
            "n_common", "n_union",
        )
    )


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exhaustive inverted-index n-gram Jaccard — exact recall (a superset of
    # every LSH family's output at the same threshold)
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold_milli=200
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # connected components over the exact n-gram Jaccard pair graph: every
    # doc labeled with the min reachable doc_id (iterative min-label
    # propagation, one equi-join + min-agg per round, localCheckpoint'd)
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold_milli=200)
    return dedup_clusters(pairs, nodes=docs.select("doc_id"))


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowed rolling-hash fingerprints (MOSS), summarized per doc.
    # ensure_parallel: the documents table scans as one split at driver SFs,
    # which would run the fingerprint UDF single-task (r3's 1.97s was mostly
    # that); at real scale the scan already has many splits and this no-ops.
    from sequila_native_spark.util import ensure_parallel

    docs = ensure_parallel(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    fps = docs.select(
        "doc_id", winnow_fingerprints(F.col("text"), k=8, w=4).alias("fps")
    )
    return fps.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite: within-block ('all': label-blocked self-pairs) ∪
    corpus-delta ('delta': batch = vec_id%5==0 broadcast-probed against the
    rest, EXACT — cross-side pairs only, the embedding analogue of
    minhash_delta_dups). One tagged row set, both branches exact cosine, so
    the DuckDB twin is the same pair SQL with the side restriction."""
    from sequila_native_spark.functions import embedding_dups_against_corpus

    emb = _t(spark, sf_dir, "embeddings")
    all_pairs = near_dup_pairs(emb, block_col="label", threshold_milli=300)
    delta = embedding_dups_against_corpus(
        emb.where(F.col("vec_id") % 5 == 0),
        emb.where(F.col("vec_id") % 5 != 0),
        threshold_milli=300,
    )
    return all_pairs.select(
        F.lit("all").alias("family"), "id_a", "id_b", "cos_milli"
    ).unionAll(
        delta.select(
            F.lit("delta").alias("family"),
            F.col("batch_id").alias("id_a"),
            F.col("corpus_id").alias("id_b"),
            "cos_milli",
        )
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_binary(_t(spark, sf_dir, "documents"))
    return decode_media_meta(docs).select("doc_id", "n_bytes", "header_hex")


def q_multimodal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media → feature-extract → exact cosine top-k, end to end: payloads via
    the deterministic byte-histogram featurizer (the stub boundary a real
    vision encoder plugs into), then the similarity operator unchanged.
    Deterministic ⇒ rows-only stable; the oracle-checked pieces are
    multimodal_meta (payload plumbing) and embedding_topk (cosine)."""
    from sequila_native_spark.functions import extract_features

    docs = attach_binary(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    feats = extract_features(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return cosine_topk(feats, feats.where(F.col("vec_id") < 5), k=3)


def q_multimodal_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 (VERDICT r5 item 6): perceptual-hash near-dup over binary
    payloads — aHash through the pluggable codec registry, then the same
    pigeonhole Hamming band join as SimHash (shared
    ``hamming_band_pairs``). Rows-only: the even-resample aHash is not
    ANSI-SQL material; the band join is the oracle-adjacent machinery
    already proven by simhash semantics, and the hash itself is pinned
    against a driver-side brute force in test_similarity_multimodal.py."""
    from sequila_native_spark.functions import perceptual_dup_pairs

    docs = attach_binary(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # max_hamming=8: measured 7 pairs over 500 sf0.01 docs (distance floor 5)
    # — non-trivial output without the quadratic tail of looser thresholds
    pairs = perceptual_dup_pairs(docs, max_hamming=8)
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("id_a") * 100000 + F.col("id_b")).alias("min_pair_key"),
    )


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # containment dedup (A pasted inside B): winnowed-fingerprint inverted
    # index, ratio against EITHER side's fingerprint count — the asymmetric
    # complement to jaccard-style near-dup detection
    return winnow_containment_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", threshold_milli=800
    )


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: 63-bit simhash needs per-bit vote aggregation (pandas
    # UDF) — not expressible in ANSI SQL without 63 correlated aggregates
    return simhash64(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: bucket assignment uses seeded random hyperplanes
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_planes=4, n_tables=8
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: k-means coarse quantizer is iterative (not SQL)
    from sequila_native_spark.functions import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=8
    )


def q_reads_minus_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools subtract: reads minus sampled target regions, summarized per
    # contig (pieces + surviving bases). Oracle: the counting identity —
    # pieces per read = overlapping covers + 1 − start-covered − end-covered
    # over DISJOINT merged covers. Promoted into the driver's 50-slot oracle
    # prefix in r5 (VERDICT r4 item 1); per-base brute-force pins live in
    # tests/test_merge_intervals.py.
    from sequila_native_spark import subtract_intervals

    out = subtract_intervals(
        _reads(spark, sf_dir, with_id=False),
        _targets(spark, sf_dir).where(F.col("t_id") % 11 == 0),
        on="contig",
        left_start="r_start", left_end="r_end",
        right_start="t_start", right_end="t_end",
    )
    return out.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_pieces"),
        F.sum(F.col("r_end") - F.col("r_start") + 1).cast("bigint").alias("bases_left"),
    )


def q_reads_near_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools window: pairs within 300 bases (overlap or gap <= 300), via
    # widening composed onto the binned join; sparse sides keep counts sane
    from sequila_native_spark import window_join

    wj = window_join(
        _reads(spark, sf_dir, with_id=False).where(
            (F.col("r_start") * 7 + F.col("r_end")) % 31 == 0
        ),
        _targets(spark, sf_dir).where(F.col("t_id") % 17 == 0),
        on="contig",
        left_start="r_start", left_end="r_end",
        right_start="t_start", right_end="t_end",
        window=300,
    )
    return wj.groupBy("contig").agg(F.count(F.lit(1)).alias("n_pairs"))


def q_read_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools complement bounded by the data: maximal uncovered intervals
    # between merged runs, aggregated per contig for a compact oracle row
    from sequila_native_spark import complement_intervals

    gaps = complement_intervals(
        _reads(spark, sf_dir, with_id=False).where(
            (F.col("r_start") * 7 + F.col("r_end")) % 31 == 0
        ),
        on="contig", start="r_start", end="r_end",
    )
    return gaps.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("r_end") - F.col("r_start") + 1).cast("bigint").alias("gap_bases"),
    )


def q_read_target_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools jaccard per contig: base-level |A∩B|/|A∪B| between the read
    # and target sets (merged to disjoint runs first; composition of the
    # chunked merge + binned join scale paths). Sides filtered so the sets
    # are sparse enough for interesting ratios.
    from sequila_native_spark import interval_jaccard

    return interval_jaccard(
        _reads(spark, sf_dir, with_id=False).where(
            (F.col("r_start") * 7 + F.col("r_end")) % 31 == 0
        ),
        _targets(spark, sf_dir).select("contig", "t_start", "t_end").where(
            F.col("t_start") % 5 == 0
        ),
        on="contig",
        left_start="r_start", left_end="r_end",
        right_start="t_start", right_end="t_end",
    )


def q_multi_intersect_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools multiinter: segments with a constant covering-set bitmask over
    # two sparse sets, aggregated per (contig, mask) for a compact oracle row
    from sequila_native_spark import multi_intersect

    sets = {
        "a": _reads(spark, sf_dir, with_id=False).where(
            (F.col("r_start") * 7 + F.col("r_end")) % 31 == 0
        ).selectExpr("contig", "r_start AS pos_start", "r_end AS pos_end"),
        "b": _targets(spark, sf_dir).where(F.col("t_start") % 5 == 0)
        .selectExpr("contig", "t_start AS pos_start", "t_end AS pos_end"),
    }
    regions = multi_intersect(sets)
    return regions.groupBy("contig", "cover_mask").agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.sum(F.col("pos_end") - F.col("pos_start") + 1).cast("bigint").alias("n_bases"),
    )


def q_read_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bedtools genomecov analogue: bases at each depth>0 per contig, via the
    # two-phase chunked boundary-event prefix scan (no per-contig global sort)
    from sequila_native_spark import depth_histogram

    return depth_histogram(
        _reads(spark, sf_dir, with_id=False).where(
            (F.col("r_start") * 13 + F.col("r_end")) % 23 == 0
        ),
        on="contig", start="r_start", end="r_end",
    )


def _ann_recall(spark: SparkSession, sf_dir: str, approx) -> DataFrame:
    """Self-checking recall harness: approximate top-k vs the in-engine exact
    ``cosine_topk`` over the same (seeded, deterministic) query set. Output is
    a single integer row — driver-visible recall trend without a DuckDB twin
    (VERDICT r2 item 5)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 50)
    exact = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    got = approx(emb, queries).select("query_id", "neighbor_id")
    marked = exact.join(
        got.withColumn("__hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return (
        marked.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .withColumn(
            "recall_milli",
            F.floor(F.col("n_hits") * 1000 / F.col("n_exact")).cast("bigint"),
        )
    )


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: seeded hyperplanes have no SQL twin; the VALUE is the trend —
    # recall floor pinned in tests/test_similarity_multimodal.py
    return _ann_recall(
        spark, sf_dir,
        lambda emb, q: lsh_ann_topk(emb, q, k=5, n_planes=4, n_tables=8),
    )


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: k-means quantizer is iterative; recall floor pinned in tests
    from sequila_native_spark.functions import ivf_ann_topk

    return _ann_recall(
        spark, sf_dir,
        lambda emb, q: ivf_ann_topk(emb, q, k=5, n_cells=16, n_probe=8),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the banded Hamming-<=k pair join (the actual dedup operator, not just
    # the hash): pigeonhole banding -> equi-join candidates -> popcount
    # verify. Deterministic hash => rows stable across runs (rows-only).
    from sequila_native_spark.functions.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), max_hamming=8
    )


def q_stream_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-capable corpus-delta near-dup gate (r6): the stateless
    stream-static plan of ``stream_dedup_against_corpus`` run on batch
    input with the SAME split as the oracle-checked ``minhash_delta_dups``
    delta branch. Rows-only here; correctness chain: this plan == the
    batch delta API row-for-row (tests/test_text_dedup.py), and that API's
    identical (batch, corpus) split is hash-checked against DuckDB inside
    the in-prefix minhash_delta_dups row. md5 family for exact parity with
    that chain."""
    from sequila_native_spark.functions import stream_dedup_against_corpus

    docs = _t(spark, sf_dir, "documents")
    return stream_dedup_against_corpus(
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where(F.col("doc_id") % 5 != 0),
        k=8, bands=4, threshold_milli=200, hash_family="md5",
    )


def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (r6): embedding k-means clusters → within-cluster cosine
    pairs → keep the centroid-farthest member of each duplicate group.
    Rows-only: the quantizer is iterative k-means (seeded but not
    SQL-expressible); the n_cells=1 exact case is brute-force-pinned in
    tests/test_similarity_multimodal.py. Summarized per cluster so the row
    count is bounded and stable-schema."""
    from sequila_native_spark.functions import semantic_dedup

    # threshold 400 milli: the synthetic embeddings have ~59 (sf0.01) /
    # ~920 (sf0.1) such pairs, so the drop path genuinely exercises
    flags = semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        n_cells=16, threshold_milli=400, seed=7,
    )
    return (
        flags.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.min("cent_sim_milli").alias("min_cent_sim_milli"),
        )
        .orderBy("cluster")
    )


def q_doc_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card (r6): exact-integer totals + histogram-cumsum exact
    percentiles (percentile_disc semantics, no engine quantile function).
    Listed past-cap so no oracle_sql entry (the 50-slot prefix is full);
    the DuckDB twin (`corpus_report_sql`) is byte-parity-pinned in
    tests/test_report.py instead, including adversarial empty/duplicate
    inputs."""
    from sequila_native_spark.functions import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents")).orderBy("metric")


def q_doc_bpe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization (r6): merges trained driver-side on a hash-order
    bounded sample (repartition-stable), applied as an Arrow-batched UDF.
    Rows-only: the learned merge table is not SQL-expressible; golden
    merges, replay/segmentation, no-UNK, count law, and repartition
    stability are pinned in tests/test_bpe.py. Per-lang word vs subword
    totals — the compression ratio a token-budget pipeline would use."""
    from sequila_native_spark.functions import bpe_token_count, train_bpe

    docs = _t(spark, sf_dir, "documents")
    # 48 merges: the synthetic corpus has ~30 word types, so 128 merges
    # would collapse every word to one unit (ratio 1.0, nothing to read);
    # 48 leaves the longer tail words genuinely subword-split
    merges = train_bpe(docs, n_merges=48, id_col="doc_id")
    return (
        docs.select(
            "lang",
            # word count with Python .split() semantics (collapse runs of
            # whitespace, 0 for empty, NULL for null) so n_words and
            # n_bpe_tokens agree on null/empty/multi-space docs and
            # tokens >= words holds per-row (advisor, r6)
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("__w"),
            bpe_token_count(F.col("text"), merges).alias("__t"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__w").cast("bigint").alias("n_words"),
            F.sum("__t").cast("bigint").alias("n_bpe_tokens"),
        )
        .orderBy("lang")
    )


def q_embedding_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced selection (r6): per-k-means-cell budget allocation
    (sqrt-tempered) with deterministic hash-order selection inside each
    cell. Rows-only: cell assignment is iterative k-means; the n_cells=1
    degenerate case is pinned bit-exact against an independent Python md5
    top-n in tests/test_similarity_multimodal.py, and quota/nesting/
    repartition-stability laws are unit-pinned. Summarized per cluster."""
    from sequila_native_spark.functions import cluster_balanced_sample

    # total=200: binds the quota at every driver scale (embeddings: 500
    # rows at sf0.01, 2000 at sf0.1) so the selection path really drops
    flags = cluster_balanced_sample(
        _t(spark, sf_dir, "embeddings"),
        n_cells=16, total=200, weighting="sqrt", seed=7,
    )
    return (
        flags.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("selected").cast("bigint")).alias("n_selected"),
        )
        .orderBy("cluster")
    )


def q_stream_embedding_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-capable embedding near-dup gate (r6): the stateless
    stream-static LSH plan of ``stream_embedding_gate`` run on batch input
    with the SAME (batch, corpus) split as the exact 'delta' branch of the
    oracle-checked ``embedding_near_dups`` row. Rows-only (seeded planes);
    correctness chain: batch == LSH-candidate brute force and stream ==
    batch, both pinned in tests/test_similarity_multimodal.py; the output
    is a subset of the hash-checked exact delta by the blocked-subset law."""
    from sequila_native_spark.functions import stream_embedding_gate

    emb = _t(spark, sf_dir, "embeddings")
    return stream_embedding_gate(
        emb.where(F.col("vec_id") % 5 == 0),
        emb.where(F.col("vec_id") % 5 != 0),
        threshold_milli=300, n_planes=6, n_tables=4, seed=11,
    )


def q_persisted_index_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (at-rest) gate indexes (r7, VERDICT r6 item 1): write
    ``corpus_band_index`` bucketed by ``band_hash`` and
    ``vector_bucket_index`` bucketed by ``(__sq_table, __sq_bkt)`` with
    ``bucketBy``, read the saved tables back, probe them through the two
    streaming gates, and compare row-for-row with the in-plan-index runs.

    Self-checking composite: ``n_diff`` must be 0 (symmetric exceptAll) and
    ``bucketed_scan`` true — the big-probe (no-broadcast) plan consumed the
    bucketed layout directly, i.e. ZERO corpus-side exchange at the
    candidate join. Rows-only (seeded LSH upstream); the same plan shape is
    asserted in tests/test_plans.py. 100 TB story: the index is written
    once per corpus version; every later ingest probes it without
    re-signing or shuffling the corpus."""
    import uuid

    from sequila_native_spark.functions import (
        stream_embedding_gate,
        vector_bucket_index,
    )
    from sequila_native_spark.functions.dedup import (
        corpus_band_index,
        stream_dedup_against_corpus,
    )
    from sequila_native_spark.plans.explain import formatted_plan

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    db = docs.where(F.col("doc_id") % 5 == 0)
    dc = docs.where(F.col("doc_id") % 5 != 0)
    eb = emb.where(F.col("vec_id") % 5 == 0)
    ec = emb.where(F.col("vec_id") % 5 != 0)

    def bucketed_scan(df: DataFrame, table: str) -> bool:
        plan = formatted_plan(df)
        i = plan.find(f"Scan parquet spark_catalog.default.{table}\nOutput")
        if i < 0:
            return False
        j = plan.find("\n\n(", i)
        return "Bucketed: true" in plan[i:j if j > 0 else len(plan)]

    run = uuid.uuid4().hex[:8]
    t_band, t_vec = f"sq_r7_band_{run}", f"sq_r7_vec_{run}"
    out = []
    # save-prior-and-restore (the q_overlap_count_low_memory idiom): an
    # unconditional unset would clobber a session-level setting for every
    # later query in the same driver/bench session (reviewer, r7)
    keys = ("spark.sql.requireAllClusterKeysForCoPartition",
            "spark.sql.autoBroadcastJoinThreshold")
    prior = {kc: spark.conf.get(kc, None) for kc in keys}
    try:
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        (corpus_band_index(dc, k=8, bands=4, hash_family="md5")
         .write.bucketBy(8, "band_hash").sortBy("band_hash")
         .saveAsTable(t_band))
        g1p = stream_dedup_against_corpus(
            db, dc, k=8, bands=4, hash_family="md5",
            corpus_index=spark.table(t_band))
        g1b = stream_dedup_against_corpus(db, dc, k=8, bands=4,
                                          hash_family="md5")
        out.append((
            "band_gate", g1b.count(), g1p.count(),
            g1p.exceptAll(g1b).count() + g1b.exceptAll(g1p).count(),
            bucketed_scan(g1p, t_band),
        ))

        (vector_bucket_index(ec, n_planes=6, n_tables=4, seed=11)
         .write.bucketBy(8, "__sq_table", "__sq_bkt")
         .sortBy("__sq_table", "__sq_bkt").saveAsTable(t_vec))
        g2p = stream_embedding_gate(
            eb, threshold_milli=300, n_planes=6, n_tables=4, seed=11,
            corpus_index=spark.table(t_vec))
        g2b = stream_embedding_gate(
            eb, ec, threshold_milli=300, n_planes=6, n_tables=4, seed=11)
        out.append((
            "vector_gate", g2b.count(), g2p.count(),
            g2p.exceptAll(g2b).count() + g2b.exceptAll(g2p).count(),
            bucketed_scan(g2p, t_vec),
        ))
    finally:
        for kc in keys:
            if prior[kc] is None:
                spark.conf.unset(kc)
            else:
                spark.conf.set(kc, prior[kc])
        spark.sql(f"DROP TABLE IF EXISTS {t_band}")
        spark.sql(f"DROP TABLE IF EXISTS {t_vec}")
    return spark.createDataFrame(
        out,
        "gate string, n_pairs long, n_pairs_persisted long, n_diff long, "
        "bucketed_scan boolean",
    ).orderBy("gate")


def q_doc_perplexity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM perplexity scoring (r7 — the CCNet quality signal, Wenzek
    et al. 2020): interpolated bigram LM trained on a bounded hash-order
    sample (integer milli-nat log-probs — ln lives only in training, like
    DSIR), applied as a broadcast-model plan. Per-lang transition totals
    and mean NLL. Rows-only (the model rides through ln); python-reference
    parity, shuffled-text separation, and repartition stability are pinned
    in tests/test_lm.py."""
    from sequila_native_spark.functions import (
        perplexity_score,
        train_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_bigram_lm(docs, id_col="doc_id", seed=3)
    return (
        perplexity_score(docs, model)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_transitions").cast("bigint").alias("n_transitions"),
            F.floor(
                F.sum(
                    F.col("nll_milli_per_token") * F.col("n_transitions")
                )
                / F.sum(
                    F.when(F.col("nll_milli_per_token").isNotNull(),
                           F.col("n_transitions")).otherwise(0)
                )
            ).cast("bigint").alias("mean_nll_milli"),
        )
        .orderBy("lang")
    )


def q_doc_trigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM perplexity scoring (r8 — VERDICT r7 item 7: one order
    closer to CCNet's 5-gram KenLM at bounded model size): same per-lang
    shape as ``doc_perplexity_stats``, scored by the three-level backoff
    chain (trigram → bigram → smoothed unigram, all broadcast
    model-as-data joins). Rows-only (ln in training); python parity,
    repartition stability, and the ≥-bigram separation law are pinned in
    tests/test_lm.py."""
    from sequila_native_spark.functions import (
        train_trigram_lm,
        trigram_perplexity_score,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_trigram_lm(docs, id_col="doc_id", seed=3)
    return (
        trigram_perplexity_score(docs, model)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_transitions").cast("bigint").alias("n_transitions"),
            F.floor(
                F.sum(
                    F.col("nll_milli_per_token") * F.col("n_transitions")
                )
                / F.sum(
                    F.when(F.col("nll_milli_per_token").isNotNull(),
                           F.col("n_transitions")).otherwise(0)
                )
            ).cast("bigint").alias("mean_nll_milli"),
        )
        .orderBy("lang")
    )


def q_perplexity_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet keep rule driven end-to-end (r8 — VERDICT r7 items 1+2):
    ``perplexity_filter`` at the corpus median NLL, with the keep-rule laws
    checked in-row the way ``doc_span_removal`` checks its conservation
    law:

    - ``n_keep_violations``: kept docs that are unscoreable or score above
      the threshold (kept ⊆ {scored ≤ thr} — must be 0);
    - ``n_drop_violations``: dropped docs that score ≤ thr (the other
      inclusion — must be 0);
    - with both at 0, each doc is in exactly one of kept/dropped/
      unscoreable, so ``n_kept + n_dropped + n_unscoreable == n_docs`` by
      construction — the counts are emitted so the driver hash pins them.

    Rows-only (the model rides through ln); the filter's NOT-broadcast
    keep-side plan is pinned in tests/test_lm.py (the r7 scale defect:
    the keep set is the *majority* of the corpus under this rule —
    broadcasting it is a driver OOM at 100 TB)."""
    from sequila_native_spark.functions import (
        perplexity_filter,
        perplexity_score,
        train_bigram_lm,
    )

    from sequila_native_spark.util import lib_checkpoint

    docs = _t(spark, sf_dir, "documents")
    model = train_bigram_lm(docs, id_col="doc_id", seed=3)
    # scores pinned once (r8): the row consumes the frame three times
    # (threshold, filter, law join) and per-branch column pruning defeats
    # Spark's exchange reuse (measured: 12 scans, 0 ReusedExchange).
    # Scores are (id, 3 ints) per doc — the standard doc-cardinality pin,
    # same class as dedup_clusters' labels; the threshold first() below
    # doubles as the lazy checkpoint's materialization job.
    scores = lib_checkpoint(perplexity_score(docs, model))
    # bounded scalar: the keep threshold (exact median of a percentile
    # pair would need a sort; approx is deterministic for fixed input)
    thr_row = scores.agg(
        F.expr("percentile_approx(nll_milli_per_token, 0.5)")
    ).first()
    if thr_row is None or thr_row[0] is None:
        # every doc unscoreable under the model (percentile of no rows is
        # NULL) — int(None) would raise an opaque TypeError (advisor, r8)
        raise ValueError(
            "perplexity_keep: no document is scoreable under the trained "
            "model — cannot derive a median keep threshold"
        )
    thr = int(thr_row[0])
    kept = perplexity_filter(
        docs, model, thr, id_col="doc_id", scores=scores
    ).select("doc_id", F.lit(1).alias("__sq_kept"))
    j = (
        scores.join(kept, "doc_id", "left")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    scoreable = F.col("nll_milli_per_token").isNotNull()
    keeprule = scoreable & (F.col("nll_milli_per_token") <= F.lit(thr))
    was_kept = F.col("__sq_kept").isNotNull()
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(was_kept, 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
            F.sum(F.when(~was_kept & scoreable, 1).otherwise(0))
            .cast("bigint").alias("n_dropped"),
            F.sum(F.when(~scoreable, 1).otherwise(0))
            .cast("bigint").alias("n_unscoreable"),
            F.sum(F.when(was_kept & ~keeprule, 1).otherwise(0))
            .cast("bigint").alias("n_keep_violations"),
            F.sum(F.when(~was_kept & keeprule, 1).otherwise(0))
            .cast("bigint").alias("n_drop_violations"),
        )
        .orderBy("lang")
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster representative selection (r8 — the RefinedWeb-style keep
    rule): minhash pairs → connected components → keep the
    highest-``n_chars`` member per cluster. Laws in-row:
    ``n_kept == n_clusters`` (exactly one representative each, emitted as
    both counts so the driver hash pins the equality) and
    ``n_quality_violations`` (a kept doc below its cluster's max priority
    — must be 0). Rows-only (cluster labels ride the LSH family); the
    component labeling itself is the hash-green ``near_dup_clusters``
    prefix oracle."""
    from sequila_native_spark.functions import (
        dedup_clusters,
        keep_best_per_cluster,
        minhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_pairs(docs, hash_family="md5")
    labels = dedup_clusters(
        pairs.select("id_a", "id_b"), nodes=docs.select("doc_id")
    )
    # r12 (guide §2.4): the cluster-max audit column rides keep_best's own
    # window pass (same exchange+sort) instead of a second docs-labels join
    # + aggregate + kept-mx join — values identical (the DuckDB twin still
    # computes the law independently); measured ~10% off this row.
    chk = keep_best_per_cluster(docs, labels, "n_chars", max_col="__sq_mx")
    return chk.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("n_chars") != F.col("__sq_mx"), 1).otherwise(0))
        .cast("bigint").alias("n_quality_violations"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    ).orderBy("lang")


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (r8 — Wenzek et al. 2020 §4.4: the
    per-language perplexity-tertile split that IS the published CCNet
    corpus layout). Per-language bucket counts with the laws in-row:
    ``n_boundary_violations`` (max head NLL ≤ min middle NLL ≤ min tail
    NLL within each language — must be 0) and bucket-count conservation
    (head+middle+tail == scoreable docs, by construction once the
    violation count is 0 and every scoreable doc got a bucket, which
    ``n_unbucketed`` checks). Rows-only (ln in training); partition/
    monotonicity laws also pinned in tests/test_lm.py."""
    from sequila_native_spark.functions import (
        perplexity_buckets,
        train_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_bigram_lm(docs, id_col="doc_id", seed=3)
    b = perplexity_buckets(docs, model, lang_col="lang")
    scoreable = F.col("nll_milli_per_token").isNotNull()
    per_lang = b.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("bucket") == "head", 1).otherwise(0))
        .cast("bigint").alias("n_head"),
        F.sum(F.when(F.col("bucket") == "middle", 1).otherwise(0))
        .cast("bigint").alias("n_middle"),
        F.sum(F.when(F.col("bucket") == "tail", 1).otherwise(0))
        .cast("bigint").alias("n_tail"),
        F.sum(F.when(scoreable & F.col("bucket").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_unbucketed"),
        F.max(F.when(F.col("bucket") == "head",
                     F.col("nll_milli_per_token"))).alias("__sq_max_h"),
        F.min(F.when(F.col("bucket") == "middle",
                     F.col("nll_milli_per_token"))).alias("__sq_min_m"),
        F.max(F.when(F.col("bucket") == "middle",
                     F.col("nll_milli_per_token"))).alias("__sq_max_m"),
        F.min(F.when(F.col("bucket") == "tail",
                     F.col("nll_milli_per_token"))).alias("__sq_min_t"),
    )
    return per_lang.select(
        "lang", "n_docs", "n_head", "n_middle", "n_tail", "n_unbucketed",
        (
            F.when(F.col("__sq_max_h") > F.col("__sq_min_m"), 1).otherwise(0)
            + F.when(F.col("__sq_max_m") > F.col("__sq_min_t"), 1).otherwise(0)
        ).cast("bigint").alias("n_boundary_violations"),
    ).orderBy("lang")


def q_doc_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (r7 — the Lee et al. 2021 deletion pass the
    stats row only measured): per-lang token totals before/after removal
    with the conservation law ``n_kept == n_tokens − dup_tokens`` checked
    in-row against the hash-oracle-checked ``duplicated_span_stats`` at
    the same (n, min_count). Rows-only (the kept-text splice has no clean
    SQL twin); Python-reference parity is pinned in tests/test_dupspans.py
    and the law ties it to the in-prefix doc_dup_span_stats oracle."""
    from sequila_native_spark.functions import (
        duplicated_span_stats,
        remove_duplicate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    # r12 (guide §2.4): stats and removal fold over the SAME duplicated-
    # starts subtree (duplicated_span_starts); routing both through one
    # localCheckpoint'd/persisted copy was MEASURED SLOWER-OR-EQUAL here
    # (interleaved fresh floors: dup-subtree 3.9-4.1 s vs checkpoint
    # 4.7-7.0 s vs persist 3.9-5.4 s) because the duplicated subtrees'
    # stages run concurrently while a checkpoint serializes them — so the
    # independent-computation plan is kept. The shared-starts API remains
    # (starts=) for compute-dominated corpora; see OPTIMIZATION_r12.md §10.
    stats = duplicated_span_stats(docs, n=4)
    rem = remove_duplicate_spans(docs, n=4).select(
        "doc_id", "lang", "n_kept_tokens"
    )
    return (
        rem.join(stats, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_before"),
            F.sum("n_kept_tokens").cast("bigint").alias("tokens_after"),
            F.sum(
                F.when(
                    F.col("n_kept_tokens")
                    != F.col("n_tokens") - F.col("dup_tokens"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_law_violations"),
        )
        .orderBy("lang")
    )


def _bench_table_stale(spark: SparkSession, t: str, sf_dir: str) -> bool:
    """True when bench index table ``t`` must be (re)built: missing, or
    recorded as built from a DIFFERENT ``sf_dir`` (advisor, r8: reuse keyed
    on ``tableExists`` alone would let a warehouse persisting across runs
    silently serve a stale corpus in the ``*_probe`` floor rows — only the
    self-checking diff rows would expose it). A stale table is dropped
    here; the caller rebuilds and then stamps with
    :func:`_stamp_bench_table`. Also clears a location orphaned by a
    previous session (in-memory catalog), which blocks ``saveAsTable``."""
    import os
    import shutil

    if spark.catalog.tableExists(t):
        rec = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {t}").collect()
        }
        if rec.get("sequila.bench.sf_dir") == sf_dir:
            return False
        spark.sql(f"DROP TABLE {t}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    loc = os.path.join(wh, t)
    if os.path.exists(loc):
        shutil.rmtree(loc)
    return True


def _clear_bench_table(spark: SparkSession, t: str) -> None:
    """DROP a companion bench table AND clear its orphaned warehouse
    location — a previous session's in-memory catalog forgets the table
    but leaves the directory, which blocks the next ``saveAsTable``
    (bench run 1, r9: ``sq_bench_ivf_skew_cent`` killed the whole run)."""
    import os
    import shutil

    if spark.catalog.tableExists(t):
        spark.sql(f"DROP TABLE {t}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    loc = os.path.join(wh, t)
    if os.path.exists(loc):
        shutil.rmtree(loc)


def _stamp_bench_table(spark: SparkSession, t: str, sf_dir: str) -> None:
    """Record the corpus a bench index table was built from (see
    :func:`_bench_table_stale`). Stamped AFTER the data lands — the stamp
    asserts "this table's contents came from sf_dir", so a crash mid-build
    leaves an unstamped table the next run treats as stale and rebuilds."""
    spark.sql(
        f"ALTER TABLE {t} SET TBLPROPERTIES "
        f"('sequila.bench.sf_dir'='{sf_dir}')"
    )


def _docs_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10x documents: replica 0 is the real text, replicas 1-9 get a
    per-replica consonant substitution (``translate`` — pure codegen) so
    their shingles, and therefore signatures, decorrelate from the
    original and from each other — corpus mass grows 10x while each
    replica keeps its own internal near-dup structure (a near-dup pair
    stays a near-dup pair under a per-replica character map), so output
    grows ~10x too, never 100x."""
    from functools import reduce

    dc = _t(spark, sf_dir, "documents").select("doc_id", "text")
    subs = "bcdfghjklmpqrvwxz"
    reps = [dc]
    for i in range(1, 10):
        tr = (subs[i:] + subs[:i])[:7]
        reps.append(
            dc.select(
                (F.col("doc_id") + F.lit(i * 1_000_000_000)).alias("doc_id"),
                F.translate(F.col("text"), "etaoins", tr).alias("text"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), reps)


def q_minhash_near_dups_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY scale-trend row (VERDICT r11 item 2): the headline
    MinHash-LSH near-dup miner over a 10x corpus (:func:`_docs_10x` —
    replicas shingle-decorrelated, so candidates grow ~10x, never
    all-pairs). Candidate generation is a banded equi-join on band hash,
    so the expected 10x/1x ratio sits in the sublinear-to-linear band
    (fixed Arrow/scheduling costs amortize; the reference's analogous size
    sweep is ``databio_benchmark.rs:148-203``)."""
    return minhash_pairs(
        _docs_10x(spark, sf_dir), k=8, bands=4, threshold_milli=200,
        hash_family="md5",
    )


def _emb_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10x embeddings: replica i circularly shifts the 64 dims by i and
    offsets the label by 10*i. A dimension shift of an isotropic gaussian
    vector is ~orthogonal to the original w.h.p. (64-dim: cos std ~1/8),
    so replicas add corpus mass without adding cross-replica near-dup
    pairs above the 0.3 threshold, and per-replica labels keep the
    blocking geometry — 10x blocks of unchanged size, the within-block
    pair work growing exactly 10x."""
    from functools import reduce

    emb = _t(spark, sf_dir, "embeddings")
    reps = [emb]
    for i in range(1, 10):
        shifted = F.concat(
            F.slice("embedding", i + 1, 64 - i), F.slice("embedding", 1, i)
        )
        reps.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * 1_000_000_000)).alias("vec_id"),
                shifted.alias("embedding"),
                (F.col("label") + F.lit(10 * i)).alias("label"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), reps)


def q_embedding_near_dups_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY scale-trend row (VERDICT r11 item 2): the
    ``embedding_near_dups`` composite with the corpus at 10x and the
    delta batch held at 1x — the 100 TB story measured: blocked
    within-corpus mining scales with corpus mass (10x blocks, unchanged
    block size), while the corpus-delta probe pays the bigger corpus
    only as a scan (batch fixed at replica 0's ids, broadcast side
    unchanged)."""
    from sequila_native_spark.functions import embedding_dups_against_corpus

    emb10 = _emb_10x(spark, sf_dir)
    all_pairs = near_dup_pairs(emb10, block_col="label", threshold_milli=300)
    delta = embedding_dups_against_corpus(
        emb10.where((F.col("vec_id") % 5 == 0)
                    & (F.col("vec_id") < 1_000_000_000)),
        emb10.where(F.col("vec_id") % 5 != 0),
        threshold_milli=300,
    )
    return all_pairs.select(
        F.lit("all").alias("family"), "id_a", "id_b", "cos_milli"
    ).unionAll(
        delta.select(
            F.lit("delta").alias("family"),
            F.col("batch_id").alias("id_a"),
            F.col("corpus_id").alias("id_b"),
            "cos_milli",
        )
    )


def q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving from the PERSISTED vector index (r8): top-k for a query
    batch answered entirely off the at-rest bucketed index — no corpus
    re-hash, no corpus vector re-scan (index rows carry the vectors).
    Self-checking like ``persisted_index_gates``: the index-served rows
    are full-outer-diffed against the in-plan ``lsh_ann_topk`` at the
    same parameters, and both one-sided counts are emitted as must-be-zero
    law columns the driver hashes. Rows-only (seeded planes); equality
    with the in-plan path also pinned in
    tests/test_similarity_multimodal.py."""
    from sequila_native_spark.functions import (
        ann_topk_against_index,
        lsh_ann_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    queries = emb.where(F.col("vec_id") % 137 == 0)
    opts = dict(n_planes=6, n_tables=4, seed=11)
    t = _bench_ann_table(spark, sf_dir)
    served = ann_topk_against_index(queries, spark.table(t), 5, **opts)
    inplan = lsh_ann_topk(corpus, queries, 5, **opts)
    j = served.withColumn("__sq_s", F.lit(1)).join(
        inplan.withColumn("__sq_p", F.lit(1)),
        ["query_id", "neighbor_id", "rank"], "full_outer",
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("__sq_p").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_only_index"),
        F.sum(F.when(F.col("__sq_s").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_only_inplan"),
    )


def _bench_ann_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-and-persist the bench vector-bucket index (n_planes=6,
    n_tables=4, seed=11 over the 90% corpus split) once per (session,
    sf_dir) — shared by the self-checking driver row, the serving bench
    row, and the recall row. Built THROUGH append_vector_bucket_index so
    the hashing parameters land in TBLPROPERTIES — consumers passing the
    table NAME (the recall row) get full validation; the diff rows keep
    passing the frame."""
    from sequila_native_spark.functions import append_vector_bucket_index

    t = "sq_bench_ann_idx"
    if _bench_table_stale(spark, t, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.where(F.col("vec_id") % 10 != 0)
        append_vector_bucket_index(
            corpus, t, buckets=8, n_planes=6, n_tables=4, seed=11
        )
        _stamp_bench_table(spark, t, sf_dir)
    return t


def _bench_ivf_tables(spark: SparkSession, sf_dir: str) -> None:
    """Build-and-persist the IVF pair (cells bucketed by cell, centroids
    model table) once per (session, sf_dir) — shared by the self-checking
    driver row and the serving bench row. Staleness is keyed on the CELLS
    table's recorded sf_dir; the centroids model table is rebuilt with it
    (they are only ever valid as a pair — the fingerprint check would
    reject a mixed pair anyway)."""
    if not _bench_table_stale(spark, "sq_bench_ivf_idx", sf_dir):
        return
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    _clear_bench_table(spark, "sq_bench_ivf_cent")
    from sequila_native_spark.functions import append_ivf_index
    from sequila_native_spark.functions.similarity import (
        _train_centroids,
        centroids_to_table,
    )

    # train once, then bootstrap through append_ivf_index so the quantizer
    # fingerprint lands in TBLPROPERTIES (the serving path validates it)
    centers = _train_centroids(corpus, "embedding", 16, 11,
                               stable_id_col="vec_id")
    append_ivf_index(corpus, "sq_bench_ivf_idx", centers, buckets=8)
    (centroids_to_table(spark, centers)
     .write.mode("overwrite").saveAsTable("sq_bench_ivf_cent"))
    _stamp_bench_table(spark, "sq_bench_ivf_idx", sf_dir)


def q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving from the PERSISTED cells index (r8): top-k answered off
    the at-rest bucketed assignment — no quantizer retraining, no corpus
    re-assignment, no vector re-scan. Self-checking like
    ``ann_index_topk``: full-outer diff vs the in-plan ``ivf_ann_topk`` at
    the same quantizer seed, one-sided counts emitted as must-be-zero law
    columns. Rows-only (k-means); equality also pinned in
    tests/test_similarity_multimodal.py."""
    from sequila_native_spark.functions import ivf_topk_against_index
    from sequila_native_spark.functions.similarity import ivf_ann_topk

    _bench_ivf_tables(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    queries = emb.where(F.col("vec_id") % 137 == 0)
    served = ivf_topk_against_index(
        queries, "sq_bench_ivf_idx", spark.table("sq_bench_ivf_cent"),
        5, n_probe=4,
    )
    inplan = ivf_ann_topk(corpus, queries, 5, n_cells=16, n_probe=4, seed=11)
    j = served.withColumn("__sq_s", F.lit(1)).join(
        inplan.withColumn("__sq_p", F.lit(1)),
        ["query_id", "neighbor_id", "rank"], "full_outer",
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("__sq_p").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_only_index"),
        F.sum(F.when(F.col("__sq_s").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_only_inplan"),
    )


_SKEW_ANCHOR_CACHE: dict = {}


def _skewed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with a DENSE REGION: 60% of the vectors pulled toward one
    anchor (``0.7·anchor + 0.3·v``, pure-codegen zip_with) — internal
    variance survives so the region is geometrically splittable, but an
    unguarded coarse quantizer concentrates it into ~1 giant cell: the
    embedding-side analogue of the skewed contig
    (``q_overlap_count_skewed``). The anchor (lowest-id vector) is
    memoized per sf_dir — it is deterministic from the parquet, and the
    ``.first()`` would otherwise cost a driver round-trip on every bench
    sample."""
    emb = _t(spark, sf_dir, "embeddings")
    anchor = _SKEW_ANCHOR_CACHE.get(sf_dir)
    if anchor is None:
        anchor = emb.orderBy("vec_id").first()["embedding"]
        _SKEW_ANCHOR_CACHE[sf_dir] = anchor
    lit_anchor = F.array(*[F.lit(float(v)) for v in anchor])
    mixed = F.zip_with(
        lit_anchor, F.col("embedding").cast("array<double>"),
        lambda a, v: F.lit(0.7) * a + F.lit(0.3) * v,
    )
    return emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 10 < 6, mixed)
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )


def q_ivf_cell_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-skew guard driven end-to-end (r9 — VERDICT r8 item 2): the
    skewed corpus quantized WITHOUT and WITH ``max_cell_frac=0.10``,
    corpus-level populations measured by ``ivf_cell_stats``. Laws in-row:

    - ``n_vectors`` (per variant) — conservation: every corpus vector is
      in exactly one cell, so both variants emit the same total and the
      driver hash pins it;
    - ``n_over_cap`` — guarded cells whose CORPUS fraction exceeds 2x the
      cap (sample-vs-corpus drift slack) — must be 0 for the guarded
      variant; the unguarded variant's count is the skew demonstration
      (≥1 by construction);
    - ``max_frac_milli`` guarded < unguarded — the guard's effect as a
      hashed number.

    Rows-only (iterative k-means has no SQL twin); the split mechanics,
    termination on unsplittable mass, and parameter validation are
    unit-pinned in tests/test_coverage_ivf.py."""
    from sequila_native_spark.functions import build_ivf_index, ivf_cell_stats

    skewed = _skewed_embeddings(spark, sf_dir)
    out = None
    for variant, cap in (("guarded", 0.10), ("unguarded", None)):
        cells, cent = build_ivf_index(
            skewed, n_cells=16, seed=11, max_cell_frac=cap
        )
        row = (
            ivf_cell_stats(cells)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_cells"),
                F.sum("n_vectors").cast("bigint").alias("n_vectors"),
                F.max("frac_milli").cast("bigint").alias("max_frac_milli"),
                F.sum(F.when(F.col("frac_milli") > 200, 1).otherwise(0))
                .cast("bigint").alias("n_over_cap"),
            )
            .select(F.lit(variant).alias("variant"), "n_cells", "n_vectors",
                    "max_frac_milli", "n_over_cap")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("variant")


def q_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction maintenance driven end-to-end (r9 — VERDICT r8 item 1),
    for all three append-mode index families: bootstrap + 3 daily appends
    → file-count health probe → ``compact_index_table`` → probe again and
    re-serve. One law row per family, every column a must-hold value the
    driver hash pins:

    - ``files_decreased``: strictly fewer files after compact (3 appends x
      multi-task writes guarantee >1 file per bucket before);
    - ``one_file_per_bucket``: max_files_per_bucket == 1 after;
    - ``probe_identical``: the family's validated table-name probe (band
      gate / ANN top-k / IVF top-k) returns the same row set before and
      after — symmetric-difference count 0;
    - ``rows_preserved``: table row count unchanged.

    Only deterministic BOOLEANS are emitted (raw file counts vary with
    task counts across hosts/scales). Tables are rebuilt fresh per
    invocation so re-runs see the uncompacted state. Rows-only (catalog
    maintenance has no SQL twin); per-family mechanics including crash
    side-tables are pinned in tests/test_plans.py."""
    from sequila_native_spark.functions import (
        ann_topk_against_index,
        append_corpus_band_index,
        append_ivf_index,
        append_vector_bucket_index,
        ivf_topk_against_index,
    )
    from sequila_native_spark.functions.dedup import stream_dedup_against_corpus
    from sequila_native_spark.functions.similarity import (
        _train_centroids,
        centroids_to_table,
    )
    from sequila_native_spark.util import (
        compact_index_table,
        index_table_file_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    db = docs.where(F.col("doc_id") % 5 == 0)
    dc = docs.where(F.col("doc_id") % 5 != 0)
    qv = emb.where(F.col("vec_id") % 137 == 0)
    cv = emb.where(F.col("vec_id") % 137 != 0)

    def band_setup(t):
        for i in range(3):
            append_corpus_band_index(
                dc.where(F.col("doc_id") % 3 == i), t,
                buckets=8, k=8, bands=4, hash_family="md5",
            )
        return lambda: stream_dedup_against_corpus(
            db, dc, k=8, bands=4, hash_family="md5", corpus_index=t,
        ).select("batch_id", "corpus_id")

    def vector_setup(t):
        for i in range(3):
            append_vector_bucket_index(
                cv.where(F.col("vec_id") % 3 == i), t,
                buckets=8, n_planes=6, n_tables=4, seed=11,
            )
        return lambda: ann_topk_against_index(
            qv, t, 5, n_planes=6, n_tables=4, seed=11,
        )

    centers = _train_centroids(cv, "embedding", 8, 11, stable_id_col="vec_id")
    cent_tbl = centroids_to_table(spark, centers)

    def ivf_setup(t):
        for i in range(3):
            append_ivf_index(
                cv.where(F.col("vec_id") % 3 == i), t, centers, buckets=8,
            )
        return lambda: ivf_topk_against_index(qv, t, cent_tbl, 5, n_probe=3)

    out = []
    for family, setup in (("band", band_setup), ("vector", vector_setup),
                          ("ivf", ivf_setup)):
        t = f"sq_row_compact_{family}"
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            _clear_bench_table(spark, side)  # also rm orphaned warehouse dir
        probe = setup(t)
        before_rows = {tuple(r) for r in probe().collect()}
        before = index_table_file_stats(spark, t)
        n_before = spark.table(t).count()
        report = compact_index_table(spark, t)
        after = index_table_file_stats(spark, t)
        after_rows = {tuple(r) for r in probe().collect()}
        out.append((
            family,
            int(report["files_after"] < report["files_before"]),
            int(after["max_files_per_bucket"] == 1),
            int(len(before_rows ^ after_rows) == 0 and len(after_rows) > 0),
            int(report["rows"] == n_before),
        ))
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            _clear_bench_table(spark, side)
    return spark.createDataFrame(
        out,
        "family string, files_decreased int, one_file_per_bucket int, "
        "probe_identical int, rows_preserved int",
    ).orderBy("family")


def q_ann_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-recall dial row (r9 — VERDICT r8 item 3): recall@k of BOTH
    at-rest serving paths vs the exact ``cosine_topk`` baseline, at two
    dial settings each:

    - LSH index serving (``ann_topk_against_index``, the bench index's 6
      planes x 4 tables): plain vs ``multiprobe_flips=1`` vs
      ``multiprobe_flips=2`` (every Hamming-1 / Hamming-≤2 bucket also
      probed — the recall dial that needs NO index rebuild; r10 adds the
      2-flip depth past the one-flip ceiling) vs ``flips=2,
      probe_budget=8`` (query-directed: each query probes only its 8
      smallest-margin buckets per table — near-2-flip recall at ~⅓ the
      probe rows);
    - IVF serving (``ivf_topk_against_index``, 16 cells): ``n_probe`` 2
      vs 8.

    Emits per setting: ``n_queries, n_exact, n_served, n_hit,
    recall_milli`` and ``n_underk`` — queries that came back with fewer
    than k rows, the LSH-miss/under-k story a user tunes the dial
    against. Dial monotonicity (multiprobe recall ≥ plain, probe8 ≥
    probe2, n_underk non-increasing) is pinned with floors in
    tests/test_similarity_multimodal.py; rows-only here (seeded planes /
    k-means have no SQL twin)."""
    from sequila_native_spark.functions import (
        ann_topk_against_index,
        cosine_topk,
        ivf_topk_against_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    queries = emb.where(F.col("vec_id") % 137 == 0)
    k = 5
    # pinned once: every setting's hit count reads the same exact pair set
    exact = cosine_topk(corpus, queries, k).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    ann_t = _bench_ann_table(spark, sf_dir)
    _bench_ivf_tables(spark, sf_dir)
    ann_kw = dict(n_planes=6, n_tables=4, seed=11)
    settings = [
        ("ann", 0, lambda: ann_topk_against_index(
            queries, ann_t, k, **ann_kw)),
        ("ann_multiprobe", 1, lambda: ann_topk_against_index(
            queries, ann_t, k, multiprobe_flips=1, **ann_kw)),
        ("ann_multiprobe", 2, lambda: ann_topk_against_index(
            queries, ann_t, k, multiprobe_flips=2, **ann_kw)),
        ("ann_mp2_budget", 8, lambda: ann_topk_against_index(
            queries, ann_t, k, multiprobe_flips=2, probe_budget=8,
            **ann_kw)),
        ("ivf", 2, lambda: ivf_topk_against_index(
            queries, "sq_bench_ivf_idx", spark.table("sq_bench_ivf_cent"),
            k, n_probe=2)),
        ("ivf", 8, lambda: ivf_topk_against_index(
            queries, "sq_bench_ivf_idx", spark.table("sq_bench_ivf_cent"),
            k, n_probe=8)),
    ]
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    # r12 (guide §2.6): the six serving plans are independent jobs whose
    # eager checkpoints ran back-to-back — each one's straggler tail left
    # the cluster idle. A small thread pool overlaps them (job descriptions
    # are thread-local; results are the same checkpointed frames in the
    # same order), cutting the harness wall time without touching any
    # served row.
    from concurrent.futures import ThreadPoolExecutor

    def _serve(setting):
        method, dial, fn = setting
        spark.sparkContext.setJobDescription(f"ann_index_recall: {method}/{dial}")
        return fn().select("query_id", "neighbor_id").localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=3) as pool:
        served_frames = list(pool.map(_serve, settings))
    out = None
    for (method, dial, fn), served in zip(settings, served_frames):
        hit = exact.join(served, ["query_id", "neighbor_id"], "left_semi")
        full = served.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("__sq_n")
        ).where(F.col("__sq_n") >= k)
        row = (
            nq.crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
            .crossJoin(served.agg(F.count(F.lit(1)).alias("n_served")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .crossJoin(full.agg(F.count(F.lit(1)).alias("__sq_full")))
            .select(
                F.lit(method).alias("method"),
                F.lit(dial).cast("bigint").alias("dial"),
                F.col("n_queries").cast("bigint").alias("n_queries"),
                F.col("n_exact").cast("bigint").alias("n_exact"),
                F.col("n_served").cast("bigint").alias("n_served"),
                F.col("n_hit").cast("bigint").alias("n_hit"),
                F.floor(F.col("n_hit") * 1000 / F.col("n_exact"))
                .cast("bigint").alias("recall_milli"),
                (F.col("n_queries") - F.col("__sq_full"))
                .cast("bigint").alias("n_underk"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("method", "dial")


def q_stream_gate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the streaming embedding gate vs the EXACT broadcast
    corpus-delta at the same threshold (VERDICT r6 item 5 — the
    n_planes×n_tables dial, quantified). Gate pairs exact-verify cosine on
    LSH candidates, so gate ⊆ exact: precision is 1 by construction
    (``n_hit == n_gate`` doubles as the subset-law check) and
    ``recall_milli`` is the number the dial trades. Rows-only (seeded
    planes); floor pinned in tests/test_similarity_multimodal.py."""
    from sequila_native_spark.functions import (
        embedding_dups_against_corpus,
        stream_embedding_gate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    b = emb.where(F.col("vec_id") % 5 == 0)
    c = emb.where(F.col("vec_id") % 5 != 0)
    # pin the exact pairs once: four downstream sub-plans (agg + semi-join
    # per dial setting) would otherwise re-run the cosine-verify join four
    # times (reviewer, r7); the pair set is small by construction
    exact = embedding_dups_against_corpus(
        b, c, threshold_milli=300
    ).select("batch_id", "corpus_id").localCheckpoint(eager=True)
    # two dial settings: the gate row's own (6 planes × 4 tables — coarse
    # buckets, low collision cost, modest recall at this LOW 0.3 threshold;
    # near-dup thresholds ≥0.9 collide far more often) and a finer 4×8 —
    # the recall/cost trade as two checkable rows
    # r10 adds the no-rebuild dial settings: the SAME 6x4 tables served
    # with Hamming-1 and Hamming-2 multi-probe (stateless dedup holds at
    # every dial — gate ⊆ exact stays the in-row law via n_hit == n_gate)
    out = None
    for n_planes, n_tables, flips in ((6, 4, 0), (4, 8, 0),
                                      (6, 4, 1), (6, 4, 2)):
        gate = stream_embedding_gate(
            b, c, threshold_milli=300, n_planes=n_planes,
            n_tables=n_tables, seed=11, multiprobe_flips=flips,
        ).select("batch_id", "corpus_id")
        hit = exact.join(gate, ["batch_id", "corpus_id"], "left_semi")
        row = (
            exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(gate.agg(F.count(F.lit(1)).alias("n_gate")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .select(
                F.lit(n_planes).cast("bigint").alias("n_planes"),
                F.lit(n_tables).cast("bigint").alias("n_tables"),
                F.lit(flips).cast("bigint").alias("flips"),
                "n_exact", "n_gate", "n_hit",
                F.floor(F.col("n_hit") * 1000 / F.col("n_exact"))
                .cast("bigint").alias("recall_milli"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("n_planes", "flips")


def q_training_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-prep composition (VERDICT r6 item 7):
    quality-classifier gate → BPE token counting → token-budget selection
    (greedy by classifier score, costed in SUBWORD tokens) → sequence
    packing on the same counts → training-shard writer.

    Conservation laws checked in-row (the composition is the product
    story; each stage is individually oracle/unit-checked):

    - ``tokens_match``: Σ packed ``n_tokens`` == Σ selected BPE counts —
      packing ran on exactly the selected rows with the subword arithmetic;
    - ``rows_match``: written shard rows == packed rows == selected rows;
    - ``shards_match``: every written row's shard partition equals the pack
      manifest's shard for that doc (same hash, same arithmetic);
    - ``shard_tokens_match``: per-shard token totals recomputed from the
      WRITTEN parquet equal the pack manifest's per-shard totals — a
      cross-frame law that fails if writer and packer ever disagree on
      rows, shard assignment, or counts (replaces the r7-draft
      ``max(pack_offset) < capacity`` check, which was a modular-arithmetic
      tautology — reviewer, r7).

    Rows-only (learned BPE merges upstream). Shards land under the
    session's spark-warehouse scratch dir, overwritten per run."""
    import os

    from sequila_native_spark.functions import (
        bpe_token_count,
        classify_documents,
        pack_documents,
        select_within_budget,
        synthetic_quality_weights,
        train_bpe,
        write_training_shards,
    )

    docs = _t(spark, sf_dir, "documents")
    w = synthetic_quality_weights(spark, _QC_BUCKETS, _QC_WSEED)
    kept = (
        classify_documents(
            docs, w, buckets=_QC_BUCKETS, seed=_QC_SEED, threshold_milli=0,
        )
        .where("keep")
        .select("doc_id", "score_milli")
        # the broadcast-strategy classifier frame carries only scores —
        # rehydrate text for tokenization with one id-equi join
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    merges = train_bpe(docs, n_merges=48, id_col="doc_id")
    counted = kept.withColumn(
        "n_bpe", bpe_token_count(F.col("text"), merges).cast("long")
    ).where(F.col("n_bpe").isNotNull())
    selected = select_within_budget(
        counted, 9000, "n_bpe", "score_milli", "doc_id",
    ).localCheckpoint(eager=True)

    capacity = 128
    packed = pack_documents(
        selected, capacity=capacity, shards=4, n_tokens_col="n_bpe"
    )
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shard_dir = os.path.join(wh, "sq_r7_training_shards")
    write_training_shards(
        selected.select("doc_id", "text", "n_bpe"), shard_dir,
        shards=4, mode="overwrite",
    )
    written = spark.read.parquet(shard_dir).select(
        "doc_id",
        F.col("shard").alias("w_shard"),
        F.col("n_bpe").alias("w_tokens"),
    )

    sel_agg = selected.agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_bpe").alias("sel_tokens"),
    )
    pack_agg = packed.agg(
        F.count(F.lit(1)).alias("n_packed"),
        F.sum("n_tokens").alias("pack_tokens"),
        (F.max("last_pack") + 1).alias("n_packs"),
    )
    # cross-frame shard law: token totals recomputed from the WRITTEN
    # parquet, per shard, must equal the pack manifest's per-shard totals
    pack_shard = packed.groupBy("shard").agg(
        F.sum("n_tokens").alias("p_tok"), F.count(F.lit(1)).alias("p_n")
    )
    wr_shard = written.groupBy(F.col("w_shard").alias("shard")).agg(
        F.sum("w_tokens").alias("w_tok"), F.count(F.lit(1)).alias("w_n")
    )
    shard_agg = (
        pack_shard.join(wr_shard, "shard", "full")
        .agg(
            F.sum(
                F.when(
                    F.col("p_tok").eqNullSafe(F.col("w_tok"))
                    & F.col("p_n").eqNullSafe(F.col("w_n")),
                    0,
                ).otherwise(1)
            ).alias("n_shard_tok_mismatch")
        )
    )
    wr_agg = (
        written.join(packed.select("doc_id", "shard"), "doc_id", "full")
        .agg(
            F.count(F.lit(1)).alias("n_written"),
            F.sum(
                F.when(
                    F.col("w_shard").isNull()
                    | F.col("shard").isNull()
                    | (F.col("w_shard") != F.col("shard")),
                    1,
                ).otherwise(0)
            ).alias("n_shard_mismatch"),
        )
    )
    return (
        sel_agg.crossJoin(pack_agg).crossJoin(wr_agg).crossJoin(shard_agg)
        .select(
            "n_selected", "sel_tokens", "n_packs",
            (F.col("sel_tokens") == F.col("pack_tokens")).alias("tokens_match"),
            (
                (F.col("n_packed") == F.col("n_selected"))
                & (F.col("n_written") == F.col("n_selected"))
            ).alias("rows_match"),
            (F.col("n_shard_mismatch") == 0).alias("shards_match"),
            (F.col("n_shard_tok_mismatch") == 0).alias("shard_tokens_match"),
        )
    )


def q_doc_dsir_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (r6): hashed-n-gram importance model
    (target = the English documents, raw = the whole corpus) scored through
    the classifier broadcast path, then deterministic Gumbel-top-k
    resampling. Rows-only: the model weights pass through ln(); the count
    tables, given-model scoring, and selection law are pinned in
    tests/test_dsir.py (python-reference parity, repartition stability,
    ∝-weight selection statistics)."""
    from sequila_native_spark.functions import (
        dsir_resample, dsir_score, dsir_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(
        docs, docs.where(F.col("lang") == "en"), buckets=512, seed=3
    )
    scored = dsir_score(docs, w, buckets=512, seed=3)
    return dsir_resample(scored, 20, seed=9).select(
        "doc_id", "n_grams", "score_milli", "resample_key_milli"
    )


def q_minhash_family_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall delta between the md5 (oracle-parity) and vectorized ``fast``
    MinHash families at driver scale. Both verify exact Jaccard on their
    candidates (equal precision), so any asymmetry is LSH recall — the
    quantity VERDICT r2 item 9 asks to make visible."""
    docs = _t(spark, sf_dir, "documents")
    opts = dict(k=8, bands=4, threshold_milli=200)
    md5 = minhash_pairs(docs, hash_family="md5", **opts).select("id_a", "id_b")
    fast = minhash_pairs(docs, hash_family="fast", **opts).select("id_a", "id_b")
    j = md5.withColumn("__m", F.lit(1)).join(
        fast.withColumn("__f", F.lit(1)), ["id_a", "id_b"], "full"
    )
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.coalesce(F.col("__m"), F.lit(0))).cast("bigint").alias("n_md5"),
            F.sum(F.coalesce(F.col("__f"), F.lit(0))).cast("bigint").alias("n_fast"),
            F.sum(
                F.coalesce(F.col("__m"), F.lit(0)) * F.coalesce(F.col("__f"), F.lit(0))
            ).cast("bigint").alias("n_both"),
        )
        .withColumn("md5_only", (F.col("n_md5") - F.col("n_both")).cast("bigint"))
        .withColumn("fast_only", (F.col("n_fast") - F.col("n_both")).cast("bigint"))
    )


def _replicate(
    df: DataFrame, start_col: str, end_col: str, spark: SparkSession, n: int = 10
) -> DataFrame:
    """``n`` coordinate-shifted replicas (domain scaled n×, density constant)
    — the DESIGN.md scale-trend shape, derived deterministically so DuckDB
    can mirror it.

    r12 (guide §2.4/§2.5): parallelize the BASE before the explode. The
    sf0.1 parquet scans as one split, so downstream consumers used to
    round-robin the n×-exploded rows — a keyless repartition whose
    sort-before-repartition and exchange write all ran in that single task
    (measured 5.7 s of the 10x row, ~30 s-class at 50x). Shuffling the
    600k-row base instead costs ~0.3 s once and the explode then fans out
    across all partitions."""
    from sequila_native_spark.util import ensure_parallel

    df = ensure_parallel(df, [])
    rep = spark.range(n).select(F.col("id").cast("int").alias("__rep"))
    return df.crossJoin(F.broadcast(rep)).select(
        "contig",
        (F.col(start_col) + F.col("__rep") * 100000).cast("int").alias(start_col),
        (F.col(end_col) + F.col("__rep") * 100000).cast("int").alias(end_col),
    )


def _replicated_overlap_count(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    reads_n = _replicate(_reads(spark, sf_dir, with_id=False), "r_start", "r_end", spark, n)
    targets_n = _replicate(
        _targets(spark, sf_dir).select("contig", "t_start", "t_end"),
        "t_start", "t_end", spark, n,
    )
    return overlap_count_agg(
        targets_n, reads_n, on="contig",
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end", alias="n_pairs",
    )


def q_overlap_count_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-trend row: the flagship join at 10x rows / 10x domain. Linear
    scaling means ~10x the flagship time; a superlinear regression (spill,
    skew, partition collapse) surfaces here per round."""
    return _replicated_overlap_count(spark, sf_dir, 10)


def q_overlap_count_50x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50x scale trend (VERDICT r3 item 7): bench-only early-warning row —
    superlinearity shows up here two rounds before it could reach the
    flagship. No oracle: past the cap, rows-only checked."""
    return _replicated_overlap_count(spark, sf_dir, 50)


def q_nearest_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference nearest contract through SQL text: SET the CoitreesNearest
    algorithm, then the ordinary overlap-join query returns nearest rows
    (integration_test.rs:352-399)."""
    from sequila_native_spark.sql import sequila_sql

    _reads(spark, sf_dir, with_id=False).createOrReplaceTempView("sq_nsql_reads")
    _targets(spark, sf_dir).where(F.col("t_id") % 10 == 2).createOrReplaceTempView(
        "sq_nsql_targets"
    )
    key = "spark.sequila.intervalJoinAlgorithm"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "CoitreesNearest")
    try:
        return sequila_sql(spark, """
            SELECT * FROM sq_nsql_reads a JOIN sq_nsql_targets b
            ON a.contig = b.contig AND a.r_start <= b.t_end AND a.r_end >= b.t_start
        """)
    finally:
        spark.conf.unset(key) if prior is None else spark.conf.set(key, prior)


def q_nearest_nonoverlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bedtools ``closest -io -d`` (r5): nearest NON-overlapping read per
    sampled target, with the gap distance column. Past the 50-slot cap;
    exact DuckDB twin (class exclusion inside the join condition + QUALIFY)
    checked by tools/check_oracle.py."""
    return nearest_join(
        _reads(spark, sf_dir, with_id=False),
        _targets(spark, sf_dir).where(F.col("t_id") % 25 == 0),
        on="contig", **_IVL, algorithm="index",
        ignore_overlaps=True, distance_col="dist",
    )


def q_doc_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index term statistics (the exact-integer core of TF-IDF /
    BM25): per-(doc, term) frequency + corpus document frequency, with
    hapax (min_df) and stop-term (max_df_ratio) pruning. Past the 50-slot
    cap; exact DuckDB twin checked by tools/check_oracle.py."""
    from sequila_native_spark.functions import term_stats

    return term_stats(
        _t(spark, sf_dir, "documents"), min_df=2, max_df_ratio=0.9
    )


def q_doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier over the documents corpus —
    BROADCAST strategy (the any-model-size path: explode grams in-scan,
    broadcast the weight table, one map-side-combinable groupBy(doc)).
    Rows-only here; the inline strategy's identical scores are hash-
    oracle-checked in-prefix inside doc_feature_stats (both strategies
    pinned equal in tests/test_classify.py)."""
    from sequila_native_spark.functions import (
        classify_documents,
        synthetic_quality_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = synthetic_quality_weights(spark, 4096, _QC_WSEED)
    return classify_documents(
        docs, w, buckets=4096, seed=_QC_SEED, threshold_milli=0
    )


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 per query over the documents corpus, querying with the
    first 5 documents' first 8 tokens (self-retrieval shape: each query's
    own source doc should rank near the top — asserted in unit tests).
    Rows-only: BM25's ln() is IEEE-double, not hash-oracle material; the
    integer core is oracle-checked by doc_term_stats."""
    from sequila_native_spark.functions import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 8), " ").alias("query"),
    )
    return bm25_topk(docs, queries, k=5)


def q_doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + nested sample, both hash-based
    (md5 key-space partition — reproducible across runs/engines/partitions,
    unlike ``df.sample``'s per-partition RNG). Driver-checked inside the
    ``doc_sampling_ops`` composite (r6), where its rows carry a ``split:``
    tag and its exact DuckDB twin is UNION ALL'd verbatim."""
    from sequila_native_spark.functions import sample_hash, split_dataset
    from sequila_native_spark.functions.sampling import HASH_SPACE

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    s = split_dataset(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, key="doc_id", seed=7
    )
    quarter = sample_hash(F.col("doc_id"), seed=11) < F.lit(int(0.25 * HASH_SPACE))
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(quarter, 1).otherwise(0)).cast("bigint").alias("n_quarter"),
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )


def q_doc_budget_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation (r6): keep the longest documents per source
    until a 700-token budget is spent, and globally until a 9000-token
    budget — the greedy knapsack step of corpus curation. The global path
    is the two-level bucketed cumulative sum (functions/curation.py): no
    single-partition window ever sees the full row stream."""
    from sequila_native_spark.functions import select_within_budget

    toks = _doc_tokens(spark, sf_dir)
    per_src = select_within_budget(
        toks, 700, "n_tokens", "n_chars", "doc_id", partition_by="source"
    )
    glob = select_within_budget(toks, 9000, "n_tokens", "n_chars", "doc_id")
    return (
        per_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("metric"),
        )
        .select(
            F.concat(F.lit("budget_src:"), F.col("source")).alias("op"),
            "n_docs",
            "metric",
        )
        .unionAll(
            glob.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("metric"),
            ).select(F.lit("budget_global").alias("op"), "n_docs", "metric")
        )
    )


def q_doc_sampling_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 composite: deterministic split/sample counts (the former
    ``doc_split_counts`` row, tag-prefixed) ∪ token-budget curation rows
    (per-source and global ``select_within_budget``) — one tagged row set,
    two operator families, twins UNION ALL'd verbatim in the oracle."""
    splits = q_doc_split_counts(spark, sf_dir).select(
        F.concat(F.lit("split:"), F.col("split")).alias("op"),
        "n_docs",
        F.col("n_quarter").alias("metric"),
    )
    return splits.unionAll(q_doc_budget_selected(spark, sf_dir))


_NEAREST_COLS = ["contig", "r_start", "r_end", "contig_r", "t_start", "t_end", "t_id"]


def q_nearest_algorithms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paths of A5 — ``partitioned`` (Arrow cogroup per key, no driver
    collect), ``index`` (broadcast build arrays) and the SQL-text route
    under ``CoitreesNearest`` — as one tagged union, each over its own
    (disjoint) target sample so the merged oracle stays the original twins
    verbatim. Replaces the standalone ``nearest_partitioned`` /
    ``nearest_sql`` rows (functions remain for bench)."""
    reads = _reads(spark, sf_dir, with_id=False)
    parts = []
    for tag, algo, mod in [
        ("partitioned", "partitioned", 5),
        # 'broadcast_probe' and 'range' are only sample labels now: they
        # named removed paths, and the tags stay so the oracle_sql twin is
        # unchanged
        ("broadcast_probe", "partitioned", 7),
        ("range", "index", 3),
    ]:
        nj = nearest_join(
            reads, _targets(spark, sf_dir).where(F.col("t_id") % 10 == mod),
            on="contig", **_IVL, algorithm=algo,
        )
        parts.append(nj.select(F.lit(tag).alias("algo"), *_NEAREST_COLS))
    sql_route = q_nearest_sql(spark, sf_dir)
    parts.append(sql_route.select(F.lit("sql").alias("algo"), *_NEAREST_COLS))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# q_overlap_count_sql retired in r4 (VERDICT r3 item 1): it re-proved
# overlap_count_per_contig's oracle verbatim through the sequila_sql
# front-end, spending a driver correctness slot the 50-query budget needs
# elsewhere. The SQL front-end stays driver-proven by nearest_sql (hash-green)
# and unit-pinned by tests/test_sql_frontend.py.


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-contig interval overlap counts at sf0.001."""
    return q_overlap_count_per_contig(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so that every oracle-bearing query sits in the first 50
    entries: the driver's correctness run checks a 50-query prefix of this
    dict (CORRECTNESS_r03 held exactly entries 1-50), so rows-only queries
    (seeded LSH, iterative k-means, recall harnesses — no ANSI-SQL twin by
    nature) are listed after the oracle block."""
    return {
        # -- oracle-bearing block (exactly 50). r5 restructure (VERDICT r4
        # item 1): four composites (selective algorithms, coverage+union,
        # semi+anti, nearest×3) free five slots for the previously uncovered
        # operators — subtract (promoted), make_windows (windowed_depth),
        # cluster_intervals (cluster_sizes), filter_documents+normalize_text
        # (filtered_doc_stats), map_intervals+fractions (map_reads_per_target).
        "overlap_count_per_contig": q_overlap_count_per_contig,
        "overlap_pairs_chr0": q_overlap_pairs_chr0,
        "overlap_count_algorithms": q_overlap_count_algorithms,
        "overlap_selective_algorithms": q_overlap_selective_algorithms,
        "overlap_count_skewed": q_overlap_count_skewed,
        "overlap_count_low_memory": q_overlap_count_low_memory,
        "overlap_count_10x": q_overlap_count_10x,
        "range_only_count": q_range_only_count,
        "overlap_strict_count": q_overlap_strict_count,
        "count_overlaps_per_target": q_count_overlaps_per_target,
        "map_reads_per_target": q_map_reads_per_target,
        "coverage_union_per_target": q_coverage_union_per_target,
        "windowed_depth": q_windowed_depth,
        "reads_in_out_targets": q_reads_in_out_targets,
        # r6 composite: merge + subtract + complement share the per-contig
        # (n_intervals, bases) shape — one tagged row set, three ops, twins
        # UNION ALL'd verbatim. Frees two slots (q_ functions stay for bench).
        "interval_set_ops": q_interval_set_ops,
        "read_depth_histogram": q_read_depth_histogram,
        "read_target_jaccard": q_read_target_jaccard,
        "reads_near_targets": q_reads_near_targets,
        "multi_intersect_regions": q_multi_intersect_regions,
        "cluster_sizes": q_cluster_sizes,
        "reads_marked_by_target": q_reads_marked_by_target,
        "nearest_target_read": q_nearest_target_read,
        "nearest_algorithms": q_nearest_algorithms,
        "nearest_k3": q_nearest_k3,
        # r6 composite: left + full outer in one tagged row set — frees the
        # slot for doc_dup_span_stats (ExactSubstr-family duplication stats)
        "overlap_outer_joins": q_overlap_outer_joins,
        "doc_dup_span_stats": q_doc_dup_span_stats,
        "pricing_summary": q_pricing_summary,
        "top_orders": q_top_orders,
        "brand_volume": q_brand_volume,
        "events_hourly": q_events_hourly,
        "user_sessions": q_user_sessions,
        # r6 composites (VERDICT r5 item 2): events_running_totals +
        # view_purchase_funnel → events_stateful_ops; events_dedup +
        # events_json → events_type_stats; doc_text_stats +
        # doc_repetition_stats → doc_feature_stats. Frees three slots for
        # the past-cap exact-oracle promotions below.
        "events_stateful_ops": q_events_stateful_ops,
        "events_type_stats": q_events_type_stats,
        # r6: doc_feature_stats now carries per-doc lang_pred (strictly
        # stronger than the doc_lang_dist aggregate — frees its slot).
        "doc_feature_stats": q_doc_feature_stats,
        "filtered_doc_stats": q_filtered_doc_stats,
        "exact_dup_clusters": q_exact_dup_clusters,
        # r6: minhash_near_dups ∪ corpus-delta incremental dedup (composite)
        "minhash_delta_dups": q_minhash_delta_dups,
        "ngram_jaccard_dups": q_ngram_jaccard_dups,
        "near_dup_clusters": q_near_dup_clusters,
        "doc_fingerprints": q_doc_fingerprints,
        "doc_containment": q_doc_containment,
        "embedding_topk": q_embedding_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "multimodal_meta": q_multimodal_meta,
        # r6 promotions (VERDICT r5 item 2): previously past-cap with
        # locally-verified exact oracles; the composite restructure above
        # freed exactly three slots. doc_split_counts later widened into
        # the doc_sampling_ops composite (+ token-budget curation rows).
        "doc_sampling_ops": q_doc_sampling_ops,
        "nearest_nonoverlap": q_nearest_nonoverlap,
        "doc_term_stats": q_doc_term_stats,
        # r6 additions (LLM-pipeline layer, exact oracles): PII
        # detect/redact, benchmark decontamination, context-window chunking.
        "doc_pii_stats": q_doc_pii_stats,
        "decontaminated_counts": q_decontaminated_counts,
        "doc_chunk_stats": q_doc_chunk_stats,
        # -- past-the-cap block: rows-only checks (no ANSI-SQL twin by
        # nature — seeded LSH, iterative k-means, recall harnesses;
        # semantics unit-pinned) ---------------------------------------------
        "minhash_near_dups_fast": q_minhash_near_dups_fast,
        "multimodal_topk": q_multimodal_topk,
        "multimodal_phash_dups": q_multimodal_phash_dups,
        "simhash_docs": q_simhash_docs,
        "simhash_pairs": q_simhash_pairs,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "lsh_recall": q_lsh_recall,
        "ivf_recall": q_ivf_recall,
        "minhash_family_delta": q_minhash_family_delta,
        "semantic_dedup_keep": q_semantic_dedup_keep,
        "embedding_balanced_sample": q_embedding_balanced_sample,
        "doc_bpe_stats": q_doc_bpe_stats,
        "doc_corpus_report": q_doc_corpus_report,
        "doc_dsir_selected": q_doc_dsir_selected,
        "stream_embedding_gate": q_stream_embedding_gate,
        "doc_bm25_topk": q_doc_bm25_topk,
        "doc_quality_scores": q_doc_quality_scores,
        "doc_budget_selected": q_doc_budget_selected,
        "stream_corpus_gate": q_stream_corpus_gate,
        "overlap_count_50x": q_overlap_count_50x,
        # r7 additions: persisted bucketBy gate indexes (VERDICT r6 item 1),
        # gate recall vs the exact delta (item 5), and the end-to-end
        # training-prep composition with conservation laws (item 7)
        "persisted_index_gates": q_persisted_index_gates,
        "stream_gate_recall": q_stream_gate_recall,
        "training_prep_pipeline": q_training_prep_pipeline,
        "doc_span_removal": q_doc_span_removal,
        "doc_perplexity_stats": q_doc_perplexity_stats,
        # r8: the CCNet keep rule driven with in-row laws (VERDICT r7
        # items 1+2 — the filter's keep side is no longer broadcast), and
        # the trigram upgrade (item 7)
        "perplexity_keep": q_perplexity_keep,
        "doc_trigram_stats": q_doc_trigram_stats,
        "ann_index_topk": q_ann_index_topk,
        "ivf_index_topk": q_ivf_index_topk,
        "ccnet_buckets": q_ccnet_buckets,
        "dedup_keep_best": q_dedup_keep_best,
        # r9: index compaction maintenance (VERDICT r8 item 1), IVF
        # cell-skew guard (item 2), at-rest serving recall dial (item 3)
        "index_compaction": q_index_compaction,
        "ivf_cell_skew": q_ivf_cell_skew,
        "ann_index_recall": q_ann_index_recall,
        # r12: measured 10x scale rows for the dedup/embedding family
        # (VERDICT r11 item 2) — bench-only trend rows, rows-only checked
        "minhash_near_dups_10x": q_minhash_near_dups_10x,
        "embedding_near_dups_10x": q_embedding_near_dups_10x,
    }


def _merged_runs_sql(src: str, s: str, e: str, gap: int = 0) -> str:
    """Bedtools-merge twin as a subquery: (contig, s, e) disjoint runs.
    ``gap`` > 0 merges runs within that distance (bedtools ``-d``).

    TIE-ORDER HAZARD (found at sf0.001, r5): the pattern stacks a flag
    window (prev-max → ``new_run``) and a prefix-sum window. Ordering both
    by ``(s, e)`` alone is NOT a total order when duplicate intervals
    exist, and the engine may order ties differently in the two passes —
    a duplicate of a run-opening row can then land in the *previous* run,
    splitting one run in two. A ``row_number`` materialized FIRST (its own
    tie order is arbitrary but fixed once assigned) and appended to every
    later ORDER BY makes the order total and the result deterministic."""
    prev_max = (
        f"max({e}) OVER (PARTITION BY contig ORDER BY {s}, {e}, __rn "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return f"""(
        SELECT contig, min({s}) AS s, max({e}) AS e
        FROM (
            SELECT contig, {s}, {e},
                   sum(new_run) OVER (PARTITION BY contig ORDER BY {s}, {e}, __rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
            FROM (
                SELECT contig, {s}, {e}, __rn,
                       CASE WHEN {prev_max} IS NULL OR {s} > {prev_max} + 1 + {gap}
                       THEN 1 ELSE 0 END AS new_run
                FROM (
                    SELECT contig, {s}, {e},
                           row_number() OVER (PARTITION BY contig
                               ORDER BY {s}, {e}) AS __rn
                    FROM {src}
                )
            )
        ) GROUP BY contig, run_id
    )"""


def _nearest_oracle_sql(
    tfilter: str,
    *,
    k: int = 1,
    exclude_overlap: bool = False,
    with_dist: bool = False,
    algo_case: str | None = None,
    window: int = 256,
) -> str:
    """DuckDB-FEASIBLE nearest oracle (VERDICT r9 item 2). The naive twin
    (per-contig cross join through a QUALIFY window) is exactly the
    quadratic plan this engine exists to avoid — ~1B materialized rows at
    sf0.1, infeasible, which kept the four nearest twins rows-only at the
    10x sweep. This form is sound AND near-linear:

    1. CANDIDATES: reads within a fixed coordinate window ``W`` of the
       target (``dist <= W`` ⟺ ``r_start <= t_end+W AND r_end >=
       t_start-W`` — the same bounded-range trick as the engine), hash-
       aggregated per target with ``min(struct(dist, r_start, r_end))``
       (DuckDB struct comparison is lexicographic = the tie-break order)
       or ``list(... ORDER BY ...)[:k]`` for k>1 — no window sort over
       the join output.
    2. SOUNDNESS GUARD: a target with ≥k in-window candidates is exact
       (its k nearest all have dist ≤ the k-th in-window dist ≤ W, so
       they ARE in the candidate set). Targets with <k in-window
       candidates — rare stragglers, or contigs with <k reads — FALL
       BACK to the unbounded per-contig join, so the bound can never
       make the oracle wrong, only slow for the straggler slice.

    ``W`` is engine-independent (a fixed literal in the SQL); the
    fallback is what keeps any W correct at every sf.
    """
    excl = ("\n     AND (r.r_end < t.t_start OR r.r_start > t.t_end)"
            if exclude_overlap else "")
    dist_case = """CASE WHEN r.r_start > t.t_end THEN r.r_start - t.t_end
                    WHEN r.r_end < t.t_start THEN t.t_start - r.r_end
                    ELSE 0 END"""
    pack = "struct_pack(dist := dist, r_start := r_start, r_end := r_end)"
    if k == 1:
        agg_sel = f"count(*) AS n, min({pack}) AS best"
        fb_sel = (f"min(CASE WHEN r_start IS NOT NULL THEN {pack} END) "
                  f"AS best")
        assemble = """
            best AS (
                SELECT t_id, best FROM agg WHERE n >= 1
                UNION ALL SELECT t_id, best FROM fb
            )"""
        row_src = "FROM tb t JOIN best b USING (t_id)"
        u = "b.best"
    else:
        agg_sel = (f"count(*) AS n, (list({pack} ORDER BY dist, r_start, "
                   f"r_end))[:{k}] AS top")
        fb_sel = (f"(list({pack} ORDER BY dist, r_start, r_end) "
                  f"FILTER (WHERE r_start IS NOT NULL))[:{k}] AS top")
        assemble = f"""
            tops AS (
                SELECT t_id, top FROM agg WHERE n >= {k}
                UNION ALL SELECT t_id, top FROM fb
            ),
            ex AS (SELECT t_id, unnest(top) AS u FROM tops)"""
        row_src = "FROM tb t LEFT JOIN ex b USING (t_id)"
        u = "b.u"
    algo = f"{algo_case} AS algo,\n                   " if algo_case else ""
    dist_out = (f",\n                   CAST(struct_extract({u}, 'dist') "
                f"AS BIGINT) AS dist" if with_dist else "")
    return f"""
            tb AS (SELECT * FROM targets WHERE {tfilter}),
            cand AS (
                SELECT t.t_id, r.r_start, r.r_end,
                       {dist_case} AS dist
                FROM tb t JOIN reads r
                  ON r.contig = t.contig
                 AND r.r_start <= t.t_end + {window}
                 AND r.r_end >= t.t_start - {window}{excl}
            ),
            agg AS (SELECT t_id, {agg_sel} FROM cand GROUP BY t_id),
            fbc AS (
                SELECT t.t_id, r.r_start, r.r_end,
                       {dist_case} AS dist
                FROM (SELECT tb.* FROM tb LEFT JOIN agg USING (t_id)
                      WHERE agg.n IS NULL OR agg.n < {k}) t
                LEFT JOIN reads r ON r.contig = t.contig{excl}
            ),
            fb AS (SELECT t_id, {fb_sel} FROM fbc GROUP BY t_id),
            {assemble}
            SELECT {algo}CASE WHEN {u} IS NULL THEN NULL
                        ELSE t.contig END AS contig,
                   struct_extract({u}, 'r_start') AS r_start,
                   struct_extract({u}, 'r_end') AS r_end,
                   t.contig AS contig_r, t.t_start, t.t_end, t.t_id{dist_out}
            {row_src}
        """


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for the driver gate. Keys are a superset of
    ``queries()``: six entries (doc_lang_dist, merged_read_runs,
    overlap_left_outer, overlap_full_outer, read_coverage_gaps,
    reads_minus_targets) have no standalone ``queries()`` slot — their
    gate coverage moved into the r5/r6 composites (interval_set_ops,
    overlap_outer_joins, doc_feature_stats), but the standalone SQL
    stays because other oracles COMPOSE it (read_target_jaccard builds
    on merged_read_runs) and it's the per-operator debug query. The
    driver ignores oracle keys without a queries() twin."""
    from sequila_native_spark.functions import (
        chunk_documents_sql,
        contamination_report_sql,
        duplicated_span_stats_sql,
        pack_documents_sql,
        pii_stats_sql,
    )

    reads = f"reads AS ({READS_SQL})"
    targets = f"targets AS ({TARGETS_SQL})"
    overlap = "r.contig = t.contig AND r.r_start <= t.t_end AND r.r_end >= t.t_start"
    pii_cols = ",\n                   ".join(
        f"{v} AS {k}" for k, v in pii_stats_sql("aug").items()
    )
    out = {
        "overlap_count_per_contig": f"""
            WITH {reads}, {targets}
            SELECT r.contig AS contig, count(*) AS n_pairs
            FROM reads r JOIN targets t ON {overlap}
            GROUP BY r.contig
        """,
        # Shift-delta decomposition of the 10-replica join (VERDICT r3 item 1:
        # the naive 10x-by-10x twin made DuckDB evaluate a 100x pair join and
        # fell out of the driver's budget). A read in replica i overlaps a
        # target in replica j iff the BASE pair overlaps when shifted by
        # d = j - i blocks: r_start <= t_end + 100000*d AND
        # r_end >= t_start + 100000*d; there are (10 - |d|) such (i, j)
        # replica pairs. Interval ends stay < 2 blocks long (r_end <= 100498,
        # t_end <= 101998), so only d in {-1, 0, 1} can match — the oracle is
        # 3 base-size joins instead of one 100x join.
        "overlap_count_10x": f"""
            WITH {reads}, {targets},
            d AS (SELECT unnest([-1, 0, 1]) AS dd)
            SELECT r.contig AS contig, CAST(sum(10 - abs(d.dd)) AS BIGINT) AS n_pairs
            FROM reads r, targets t, d
            WHERE r.contig = t.contig
              AND r.r_start <= t.t_end + 100000 * d.dd
              AND r.r_end >= t.t_start + 100000 * d.dd
            GROUP BY r.contig
        """,
        "overlap_pairs_chr0": f"""
            WITH {reads}, {targets}
            SELECT r.r_id, r.r_start, r.r_end, t.t_id, t.t_start, t.t_end,
                   r.contig AS contig
            FROM reads r JOIN targets t ON {overlap}
            WHERE r.contig = 'chr0' AND r.r_id % 7 = 0
        """,
        "overlap_count_algorithms": f"""
            WITH {reads}, {targets}
            SELECT r.contig AS contig,
                   count(*) AS n_pairs_index,
                   count(*) AS n_pairs_naive,
                   count(*) AS n_pairs_partitioned
            FROM reads r JOIN targets t ON {overlap}
            GROUP BY r.contig
        """,
        "overlap_count_low_memory": f"""
            WITH {reads}, {targets}
            SELECT count(*) AS n_pairs FROM reads r JOIN targets t ON {overlap}
        """,
        "overlap_count_skewed": f"""
            WITH reads_sk AS (
                SELECT 'chr' || CAST(CASE WHEN l_orderkey % 2 = 0 THEN 0
                                          ELSE l_orderkey % 8 END AS VARCHAR) AS contig,
                       CAST(l_partkey % 100000 AS INT) AS r_start,
                       CAST(l_partkey % 100000 + (l_suppkey % 500) AS INT) AS r_end
                FROM lineitem
            ),
            targets_sk AS (
                SELECT 'chr' || CAST(CASE WHEN o_orderkey % 2 = 0 THEN 0
                                          ELSE o_orderkey % 8 END AS VARCHAR) AS contig,
                       CAST((o_custkey * 37) % 100000 AS INT) AS t_start,
                       CAST((o_custkey * 37) % 100000 + (o_orderkey % 2000) AS INT) AS t_end
                FROM orders
                WHERE o_orderkey % 10 < 4
            )
            SELECT r.contig AS contig, count(*) AS n_pairs
            FROM reads_sk r JOIN targets_sk t
            ON r.contig = t.contig AND r.r_start <= t.t_end AND r.r_end >= t.t_start
            GROUP BY r.contig
        """,
        "overlap_selective_algorithms": f"""
            WITH {reads}, {targets}
            SELECT r.contig AS contig,
                   count(*) AS n_pairs_index,
                   count(*) AS n_pairs_partitioned
            FROM reads r JOIN (SELECT * FROM targets WHERE t_id % 101 = 0) t
            ON {overlap}
            GROUP BY r.contig
        """,
        "range_only_count": f"""
            WITH {reads}, {targets}
            SELECT count(*) AS n_pairs
            FROM (SELECT * FROM reads WHERE r_id % 97 = 0) r
            JOIN (SELECT * FROM targets WHERE t_id % 101 = 0) t
            ON r.r_start <= t.t_end AND r.r_end >= t.t_start
        """,
        "overlap_strict_count": f"""
            WITH {reads}, {targets}
            SELECT r.contig AS contig, count(*) AS n_pairs
            FROM reads r JOIN targets t
            ON r.contig = t.contig AND r.r_start < t.t_end AND r.r_end > t.t_start
            GROUP BY r.contig
        """,
        "count_overlaps_per_target": f"""
            WITH {reads}, {targets}
            SELECT t.contig, t.t_start, t.t_end, t.t_id,
                   count(r.contig) AS n_overlaps
            FROM targets t LEFT JOIN reads r ON {overlap}
            GROUP BY t.contig, t.t_start, t.t_end, t.t_id
        """,
        "coverage_union_per_target": f"""
            WITH {reads}, {targets},
            cov AS (
                SELECT t.contig, t.t_start, t.t_end, t.t_id,
                       count(r.contig) AS n_overlaps,
                       CAST(coalesce(sum(
                           CASE WHEN r.contig IS NULL THEN NULL
                                ELSE least(r.r_end, t.t_end)
                                     - greatest(r.r_start, t.t_start) + 1 END
                       ), 0) AS BIGINT) AS bases_covered
                FROM targets t LEFT JOIN reads r ON {overlap}
                GROUP BY t.contig, t.t_start, t.t_end, t.t_id
            ),
            pairs AS (
                SELECT t.t_id,
                       greatest(r.r_start, t.t_start) AS cs,
                       least(r.r_end, t.t_end) AS ce
                FROM targets t JOIN reads r ON {overlap}
            ),
            sweep AS (
                SELECT t_id, cs, ce,
                       max(ce) OVER (
                           PARTITION BY t_id ORDER BY cs, ce
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS pm
                FROM pairs
            ),
            agg AS (
                SELECT t_id,
                       CAST(sum(greatest(0, ce - greatest(cs - 1, coalesce(pm, cs - 1)))) AS BIGINT) AS bases_union
                FROM sweep GROUP BY t_id
            )
            SELECT c.contig, c.t_start, c.t_end, c.t_id,
                   c.n_overlaps, c.bases_covered,
                   CAST(coalesce(a.bases_union, 0) AS BIGINT) AS bases_union
            FROM cov c LEFT JOIN agg a ON c.t_id = a.t_id
        """,
        "map_reads_per_target": f"""
            WITH {reads}, {targets}
            SELECT t.contig, t.t_start, t.t_end, t.t_id,
                   count(r.contig) AS n_reads,
                   CAST(sum(CASE WHEN r.contig IS NULL THEN NULL
                            ELSE r.r_end - r.r_start + 1 END) AS BIGINT) AS sum_len,
                   min(r.r_start) AS min_start,
                   max(r.r_end) AS max_end
            FROM (SELECT * FROM targets WHERE t_id % 7 = 3) t
            LEFT JOIN reads r
            ON {overlap}
               AND CAST(least(r.r_end, t.t_end) - greatest(r.r_start, t.t_start) + 1 AS DOUBLE)
                   >= 0.5 * CAST(r.r_end - r.r_start + 1 AS DOUBLE)
            GROUP BY t.contig, t.t_start, t.t_end, t.t_id
        """,
        "windowed_depth": f"""
            WITH {reads}, {targets},
            sel AS (SELECT contig, t_id, t_start, t_end FROM targets WHERE t_id % 101 = 0),
            wins AS (
                SELECT contig, t_id, i,
                       CAST(t_start + 500 * i AS INT) AS ws,
                       CAST(least(t_start + 500 * i + 499, t_end) AS INT) AS we
                FROM sel, LATERAL (
                    SELECT unnest(range(0,
                        CAST(floor((t_end - t_start) / 500.0) AS BIGINT) + 1)) AS i
                ) g
            ),
            d AS (
                SELECT w.contig AS contig, w.t_id, w.i, w.ws, w.we,
                       count(r.contig) AS depth
                FROM wins w LEFT JOIN reads r
                ON r.contig = w.contig AND r.r_start <= w.we AND r.r_end >= w.ws
                GROUP BY 1, 2, 3, 4, 5
            )
            SELECT contig, count(*) AS n_windows,
                   CAST(sum(depth) AS BIGINT) AS total_depth,
                   CAST(max(depth) AS BIGINT) AS max_depth,
                   CAST(sum(we - ws + 1) AS BIGINT) AS window_bases
            FROM d GROUP BY contig
        """,
        "cluster_sizes": f"""
            WITH {reads},
            sel AS (SELECT contig, r_start, r_end FROM reads
                    WHERE (r_start * 7 + r_end) % 31 = 0),
            m AS {_merged_runs_sql("sel", "r_start", "r_end", gap=300)},
            j AS (
                SELECT r.contig AS contig, m.s, m.e, count(*) AS sz
                FROM sel r JOIN m
                ON r.contig = m.contig AND r.r_start >= m.s AND r.r_end <= m.e
                GROUP BY 1, 2, 3
            )
            SELECT contig, count(*) AS n_clusters,
                   CAST(sum(sz) AS BIGINT) AS n_rows,
                   CAST(max(sz) AS BIGINT) AS max_cluster_size,
                   CAST(sum(e - s + 1) AS BIGINT) AS cluster_bases
            FROM j GROUP BY contig
        """,
        # subtract summary via the counting identity over DISJOINT merged
        # covers: pieces(read) = #overlapping covers + 1 − [start covered] −
        # [end covered]; surviving bases = length − Σ clipped cover lengths.
        # (0 pieces / 0 bases for fully-covered reads — they vanish, matching
        # the operator's output.)
        "reads_minus_targets": f"""
            WITH {reads}, {targets},
            sel_t AS (SELECT contig, t_start, t_end FROM targets WHERE t_id % 11 = 0),
            m AS {_merged_runs_sql("sel_t", "t_start", "t_end")},
            -- r_id is NOT unique in the driver's synthetic lineitem
            -- (duplicate (orderkey, linenumber) pairs exist); subtraction is
            -- per physical ROW, so group by a synthetic row number instead
            r2 AS (SELECT *, row_number() OVER () AS __rid FROM reads),
            j AS (
                SELECT r.__rid, r.contig, r.r_start, r.r_end,
                       count(m.contig) AS c,
                       coalesce(sum(CASE WHEN m.contig IS NULL THEN NULL
                                    ELSE least(m.e, r.r_end) - greatest(m.s, r.r_start) + 1 END), 0) AS cov_bases,
                       coalesce(max(CASE WHEN m.s <= r.r_start THEN 1 ELSE 0 END), 0) AS scov,
                       coalesce(max(CASE WHEN m.e >= r.r_end THEN 1 ELSE 0 END), 0) AS ecov
                FROM r2 r LEFT JOIN m
                ON r.contig = m.contig AND r.r_start <= m.e AND r.r_end >= m.s
                GROUP BY r.__rid, r.contig, r.r_start, r.r_end
            )
            SELECT contig,
                   CAST(sum(c + 1 - scov - ecov) AS BIGINT) AS n_pieces,
                   CAST(sum(r_end - r_start + 1 - cov_bases) AS BIGINT) AS bases_left
            FROM j GROUP BY contig
            HAVING sum(c + 1 - scov - ecov) > 0
        """,
        "reads_near_targets": f"""
            WITH {reads}, {targets}
            SELECT r.contig AS contig, count(*) AS n_pairs
            FROM (SELECT * FROM reads WHERE (r_start * 7 + r_end) % 31 = 0) r
            JOIN (SELECT * FROM targets WHERE t_id % 17 = 0) t
            ON r.contig = t.contig
               AND r.r_start - 300 <= t.t_end AND r.r_end + 300 >= t.t_start
            GROUP BY r.contig
        """,
        "read_coverage_gaps": f"""
            WITH {reads},
            sel AS (SELECT * FROM reads WHERE (r_start * 7 + r_end) % 31 = 0),
            merged AS (
                SELECT contig, s, e
                FROM {_merged_runs_sql("sel", "r_start", "r_end")} m
            ),
            gaps AS (
                SELECT contig, e + 1 AS gs,
                       LEAD(s) OVER (PARTITION BY contig ORDER BY s) - 1 AS ge
                FROM merged
            )
            SELECT contig, count(*) AS n_gaps,
                   CAST(SUM(ge - gs + 1) AS BIGINT) AS gap_bases
            FROM gaps WHERE ge >= gs GROUP BY contig
        """,
        "read_target_jaccard": f"""
            WITH {reads}, {targets},
            sel_a AS (SELECT * FROM reads WHERE (r_start * 7 + r_end) % 31 = 0),
            sel_b AS (SELECT contig, t_start, t_end FROM targets WHERE t_start % 5 = 0),
            ma AS {_merged_runs_sql("sel_a", "r_start", "r_end")},
            mb AS {_merged_runs_sql("sel_b", "t_start", "t_end")},
            la AS (SELECT contig, SUM(e - s + 1) AS len_a FROM ma GROUP BY contig),
            lb AS (SELECT contig, SUM(e - s + 1) AS len_b FROM mb GROUP BY contig),
            inter AS (
                SELECT a.contig, SUM(LEAST(a.e, b.e) - GREATEST(a.s, b.s) + 1) AS i
                FROM ma a JOIN mb b
                ON a.contig = b.contig AND a.s <= b.e AND a.e >= b.s
                GROUP BY a.contig
            )
            SELECT COALESCE(la.contig, lb.contig) AS contig,
                   CAST(COALESCE(i, 0) AS BIGINT) AS inter_bases,
                   CAST(COALESCE(len_a, 0) + COALESCE(len_b, 0) - COALESCE(i, 0) AS BIGINT) AS union_bases,
                   CAST(CASE WHEN COALESCE(len_a, 0) + COALESCE(len_b, 0) - COALESCE(i, 0) > 0
                             THEN floor(COALESCE(i, 0) * 1000 /
                                  (COALESCE(len_a, 0) + COALESCE(len_b, 0) - COALESCE(i, 0)))
                             ELSE 0 END AS BIGINT) AS jaccard_milli
            FROM la FULL JOIN lb ON la.contig = lb.contig
            LEFT JOIN inter ON COALESCE(la.contig, lb.contig) = inter.contig
        """,
        "multi_intersect_regions": f"""
            WITH {reads}, {targets},
            sel_a AS (SELECT * FROM reads WHERE (r_start * 7 + r_end) % 31 = 0),
            sel_b AS (SELECT contig, t_start, t_end FROM targets WHERE t_start % 5 = 0),
            ma AS {_merged_runs_sql("sel_a", "r_start", "r_end")},
            mb AS {_merged_runs_sql("sel_b", "t_start", "t_end")},
            ev AS (
                SELECT contig, CAST(s AS BIGINT) AS pos, 1 AS d FROM ma
                UNION ALL SELECT contig, CAST(e AS BIGINT) + 1, -1 FROM ma
                UNION ALL SELECT contig, CAST(s AS BIGINT), 2 FROM mb
                UNION ALL SELECT contig, CAST(e AS BIGINT) + 1, -2 FROM mb
            ),
            agg AS (SELECT contig, pos, SUM(d) AS d FROM ev GROUP BY 1, 2),
            sweep AS (
                SELECT contig, pos,
                       SUM(d) OVER (PARTITION BY contig ORDER BY pos) AS mask,
                       LEAD(pos) OVER (PARTITION BY contig ORDER BY pos) AS np
                FROM agg
            )
            SELECT contig, CAST(mask AS BIGINT) AS cover_mask,
                   count(*) AS n_regions,
                   CAST(SUM(np - pos) AS BIGINT) AS n_bases
            FROM sweep WHERE mask > 0 AND np IS NOT NULL
            GROUP BY contig, mask
        """,
        "read_depth_histogram": f"""
            WITH {reads},
            sel AS (SELECT * FROM reads WHERE (r_start * 13 + r_end) % 23 = 0),
            ev AS (
                SELECT contig, CAST(r_start AS BIGINT) AS pos, 1 AS d FROM sel
                UNION ALL
                SELECT contig, CAST(r_end AS BIGINT) + 1 AS pos, -1 AS d FROM sel
            ),
            agg AS (
                SELECT contig, pos, SUM(d) AS d FROM ev GROUP BY contig, pos
            ),
            sweep AS (
                SELECT contig, pos,
                       SUM(d) OVER (PARTITION BY contig ORDER BY pos) AS depth,
                       LEAD(pos) OVER (PARTITION BY contig ORDER BY pos) AS next_pos
                FROM agg
            )
            SELECT contig, CAST(depth AS BIGINT) AS depth,
                   CAST(SUM(next_pos - pos) AS BIGINT) AS n_bases
            FROM sweep
            WHERE depth > 0 AND next_pos IS NOT NULL
            GROUP BY contig, depth
        """,
        # total tie order via __rn (see _merged_runs_sql docstring): stacked
        # flag/prefix-sum windows over (s, e) alone are nondeterministic
        # with duplicate intervals
        "merged_read_runs": f"""
            WITH {reads},
            rn AS (
                SELECT contig, r_start, r_end,
                       row_number() OVER (PARTITION BY contig
                           ORDER BY r_start, r_end) AS __rn
                FROM reads
            ),
            m AS (
                SELECT contig, r_start, r_end, __rn,
                       CASE WHEN max(r_end) OVER (
                                PARTITION BY contig ORDER BY r_start, r_end, __rn
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                            ) IS NULL
                            OR r_start > max(r_end) OVER (
                                PARTITION BY contig ORDER BY r_start, r_end, __rn
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                            ) + 1
                       THEN 1 ELSE 0 END AS new_run
                FROM rn
            ),
            runs AS (
                SELECT contig, r_start, r_end,
                       sum(new_run) OVER (
                           PARTITION BY contig ORDER BY r_start, r_end, __rn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS run_id
                FROM m
            ),
            merged AS (
                SELECT contig, min(r_start) AS s, max(r_end) AS e,
                       count(*) AS n_merged
                FROM runs GROUP BY contig, run_id
            )
            SELECT contig, count(*) AS n_runs,
                   CAST(sum(e - s + 1) AS BIGINT) AS bases_total,
                   CAST(sum(n_merged) AS BIGINT) AS n_inputs
            FROM merged GROUP BY contig
        """,
        "reads_in_out_targets": f"""
            WITH {reads}, {targets},
            fl AS (
                SELECT r.contig AS contig,
                       EXISTS (
                           SELECT 1 FROM targets t
                           WHERE t.t_id % 11 = 0 AND {overlap}
                       ) AS ex
                FROM reads r
            )
            SELECT contig,
                   CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
                   CAST(sum(CASE WHEN ex THEN 0 ELSE 1 END) AS BIGINT) AS n_outside
            FROM fl GROUP BY contig
        """,
        "reads_marked_by_target": f"""
            WITH {reads}, {targets}
            SELECT r.contig AS contig,
                   EXISTS (
                       SELECT 1 FROM targets t
                       WHERE t.t_id % 11 = 0 AND {overlap}
                   ) AS has_overlap,
                   count(*) AS n_reads
            FROM reads r
            GROUP BY 1, 2
        """,
        "nearest_target_read": f"""
            WITH {reads}, {targets},
            {_nearest_oracle_sql("t_id % 10 = 0")}
        """,
        "nearest_k3": f"""
            WITH {reads}, {targets},
            {_nearest_oracle_sql("t_id % 50 = 0", k=3)}
        """,
        # r6 composite twin: the two outer-join twins UNION ALL'd with
        # aligned aliases (left-outer pads no left side → n_no_target 0)
        "overlap_outer_joins": f"""
            WITH {reads}, {targets}
            SELECT 'left' AS family, t.contig AS contig, count(*) AS n_rows,
                   CAST(sum(CASE WHEN r.r_start IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_read,
                   CAST(0 AS BIGINT) AS n_no_target
            FROM (SELECT * FROM targets WHERE t_id % 11 = 0) t
            LEFT JOIN reads r
            ON t.contig = r.contig AND r.r_start <= t.t_end AND r.r_end >= t.t_start
            GROUP BY t.contig
            UNION ALL
            SELECT 'full' AS family, t.contig AS contig, count(*) AS n_rows,
                   CAST(sum(CASE WHEN r.r_start IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_read,
                   CAST(sum(CASE WHEN t.t_start IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_target
            FROM (SELECT * FROM targets WHERE t_id % 13 = 0) t
            FULL JOIN (SELECT * FROM reads WHERE (r_start * 31 + r_end) % 17 = 0) r
            ON t.contig = r.contig AND r.r_start <= t.t_end AND r.r_end >= t.t_start
            GROUP BY t.contig
        """,
        "overlap_left_outer": f"""
            WITH {reads}, {targets}
            SELECT t.contig AS contig, count(*) AS n_rows,
                   CAST(sum(CASE WHEN r.r_start IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
            FROM (SELECT * FROM targets WHERE t_id % 11 = 0) t
            LEFT JOIN reads r
            ON t.contig = r.contig AND r.r_start <= t.t_end AND r.r_end >= t.t_start
            GROUP BY t.contig
        """,
        "overlap_full_outer": f"""
            WITH {reads}, {targets}
            SELECT t.contig AS contig, count(*) AS n_rows,
                   CAST(sum(CASE WHEN r.r_start IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_read,
                   CAST(sum(CASE WHEN t.t_start IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_target
            FROM (SELECT * FROM targets WHERE t_id % 13 = 0) t
            FULL JOIN (SELECT * FROM reads WHERE (r_start * 31 + r_end) % 17 = 0) r
            ON t.contig = r.contig AND r.r_start <= t.t_end AND r.r_end >= t.t_start
            GROUP BY t.contig
        """,
        # three tagged copies of the original nearest twins (samples 5/7/2),
        # merged with the same algo labels the Spark composite emits
        "nearest_algorithms": f"""
            WITH {reads}, {targets},
            {_nearest_oracle_sql(
                "t_id % 10 IN (5, 7, 2, 3)",
                algo_case="CASE t.t_id % 10 WHEN 5 THEN 'partitioned' "
                          "WHEN 7 THEN 'broadcast_probe' "
                          "WHEN 3 THEN 'range' ELSE 'sql' END")}
        """,
        "pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
                   CAST(sum({_REV_SQL}) AS BIGINT) AS sum_disc_price_cents,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_orders": f"""
            SELECT o.o_orderkey, o.o_orderdate,
                   CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_cents
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY o.o_orderkey, o.o_orderdate
            ORDER BY revenue_cents DESC, o.o_orderkey
            LIMIT 10
        """,
        "brand_volume": """
            SELECT p.p_brand,
                   CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
                   count(*) AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
            ORDER BY p.p_brand
        """,
        # events_type_stats (r6 composite): the replayed duplicates are
        # exact copies, so key-dedup restores the original event set and the
        # JSON aggregation over the survivors equals the plain-events twin.
        "events_type_stats": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n_events
            FROM events
            GROUP BY event_type
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
                   count(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY 1, 2
        """,
        # events_stateful_ops (r6 composite): the two original stateful
        # twins (funnel join; running totals) aliased to (op, user_id, k1,
        # k2, v) and UNION ALL'd — expressions unchanged.
        "events_stateful_ops": """
            WITH ev AS (
                SELECT user_id, event_id, event_type,
                       date_trunc('second', ts) AS ts
                FROM events
            )
            SELECT 'funnel' AS op,
                   a.user_id AS user_id,
                   a.event_id AS k1,
                   b.event_id AS k2,
                   CAST(epoch(b.ts) - epoch(a.ts) AS BIGINT) AS v
            FROM ev a JOIN ev b
            ON a.user_id = b.user_id
               AND a.event_type = 'view' AND b.event_type = 'purchase'
               AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 21600 SECOND
            UNION ALL
            SELECT 'running' AS op, user_id, event_id AS k1,
                   CAST(row_number() OVER w AS BIGINT) AS k2,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS v
            FROM events
            WHERE user_id % 50 = 0
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        # (ts, event_id) total order in BOTH stacked windows: ties in ts
        # alone could order differently between the lag pass and the
        # prefix-sum pass, splitting simultaneous events across sessions
        "user_sessions": """
            WITH e AS (
                SELECT user_id, ts, value, event_id
                FROM events WHERE user_id % 20 = 0
            ),
            m AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
                SELECT *, sum(new_s) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS sid
                FROM m
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
            FROM s GROUP BY user_id, sid
        """,
        # doc_feature_stats (r6 composite): the doc_text_stats and
        # doc_repetition_stats twins' expressions merged into one SELECT —
        # one wide feature row per doc, expressions unchanged.
        "doc_feature_stats": f"""
            WITH t AS (
                SELECT doc_id, text, string_split(lower(text), ' ') AS toks
                FROM documents
            ), warr AS (
                SELECT list(weight_milli ORDER BY bucket) AS __qw
                FROM ({_QC_WARR_SQL})
            ), f AS (
                SELECT doc_id,
                       {lang_id_sql("text")} AS lang_pred,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CAST(len(toks) AS BIGINT) AS n_tokens,
                       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
                       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
                       CAST(floor(len(list_distinct(toks)) * 1000.0 / len(toks)) AS BIGINT) AS ttr_milli,
                       CAST(floor(len(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, x))) * 1000.0 / len(toks)) AS BIGINT) AS stop_milli,
                       {_REP_SQL['n_lines']} AS n_lines,
                       {_REP_SQL['n_distinct_lines']} AS n_distinct_lines,
                       {_REP_SQL['dup_line_milli']} AS dup_line_milli,
                       {_REP_SQL['top_bigram_milli']} AS top_bigram_milli,
                       {_REP_SQL['max_word_run']} AS max_word_run,
                       {_QC_N_SQL} AS qc_grams,
                       {_QC_S_SQL} AS qc_score_milli
                FROM t, warr
            )
            SELECT doc_id, lang_pred, n_chars, n_tokens, n_bpe_tokens,
                   n_distinct_tokens,
                   ttr_milli, stop_milli, ttr_milli + stop_milli AS quality_milli,
                   n_lines, n_distinct_lines, dup_line_milli,
                   top_bigram_milli, max_word_run,
                   qc_grams, qc_score_milli
            FROM f
        """,
        "doc_lang_dist": f"""
            SELECT {lang_id_sql("text")} AS lang_pred, count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        # filter_documents ∘ normalize_text: the rule expressions are the
        # already-hash-green feature twins (doc_text_stats /
        # doc_repetition_stats), normalization is the byte-equal
        # normalize_text_sql — so the kept set and recomputed stats agree
        # by composition.
        "filtered_doc_stats": f"""
            WITH t0 AS (
                SELECT doc_id, text, string_split(lower(text), ' ') AS toks
                FROM documents
            ),
            f AS (
                SELECT doc_id, text FROM t0
                WHERE CAST(len(toks) AS BIGINT) >= 10
                  AND CAST(floor(len(list_distinct(toks)) * 1000.0 / len(toks)) AS BIGINT) >= 100
                  AND CAST(floor(len(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, x))) * 1000.0 / len(toks)) AS BIGINT) >= 10
                  AND {_REP_SQL['dup_line_milli']} <= 300
                  AND {_REP_SQL['top_bigram_milli']} <= 180
                  AND {_REP_SQL['max_word_run']} <= 8
            ),
            n AS (SELECT doc_id, {normalize_text_sql("text")} AS text FROM f),
            t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM n)
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
                   CAST(floor(len(list_distinct(toks)) * 1000.0 / len(toks)) AS BIGINT) AS ttr_milli,
                   CAST(floor(len(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, x))) * 1000.0 / len(toks)) AS BIGINT) AS stop_milli,
                   CAST(floor(len(list_distinct(toks)) * 1000.0 / len(toks)) AS BIGINT)
                   + CAST(floor(len(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, x))) * 1000.0 / len(toks)) AS BIGINT) AS quality_milli
            FROM t
        """,
        "exact_dup_clusters": """
            SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
                   count(*) AS n_docs, min(doc_id) AS canonical_id
            FROM documents WHERE text IS NOT NULL GROUP BY 1
        """,
        # minhash_delta_dups (r6 composite): the full-corpus pair twin
        # ('all', id_a < id_b) plus the corpus-delta twin ('delta': the same
        # banded candidates restricted to CROSS-side (batch, corpus) pairs —
        # batch = doc_id%5=0 probing corpus = the rest). Shared CTEs.
        "minhash_delta_dups": f"""
            WITH base AS (
                SELECT doc_id, {_SHINGLES_SQL} AS sh, {_MINHASH_SQL} AS sig
                FROM documents
            ),
            banded AS (
                SELECT doc_id, b.band_idx,
                       sig[b.band_idx*2+1 : b.band_idx*2+2] AS band_key
                FROM base, (SELECT unnest(range(0, 4)) AS band_idx) b
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
            ),
            dcand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
            ),
            allp AS (
                SELECT 'all' AS family, id_a, id_b FROM cand
                UNION ALL
                SELECT 'delta' AS family, id_a, id_b FROM dcand
            )
            SELECT c.family, c.id_a, c.id_b,
                   CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common,
                   CAST(len(list_distinct(sa.sh || sb.sh)) AS BIGINT) AS n_union
            FROM allp c
            JOIN base sa ON sa.doc_id = c.id_a
            JOIN base sb ON sb.doc_id = c.id_b
            WHERE len(list_intersect(sa.sh, sb.sh)) * 1000
                  >= 200 * len(list_distinct(sa.sh || sb.sh))
        """,
        "ngram_jaccard_dups": ngram_jaccard_pairs_sql(
            "documents", threshold_milli=200
        ),
        "near_dup_clusters": f"""
            WITH RECURSIVE
            pairs AS ({ngram_jaccard_pairs_sql("documents", threshold_milli=200)}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach(id, lbl) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
        """,
        "doc_fingerprints": winnow_fingerprints_oracle_sql(
            "documents", "doc_id", "text", k=8, w=4
        ),
        "doc_containment": winnow_containment_oracle_sql(
            "documents", "doc_id", "text", k=8, w=4, threshold_milli=800
        ),
        "embedding_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
            s AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_dot_product(e.v, q.qv)
                       / sqrt(greatest(list_dot_product(e.v, e.v) * list_dot_product(q.qv, q.qv), 1e-300)) AS c
                FROM e, q
            )
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY c DESC, neighbor_id
                   ) AS BIGINT) AS rank
            FROM s
            QUALIFY rank <= 5
        """,
        # r6 composite: within-label pairs ('all') ∪ corpus-delta ('delta':
        # batch = vec_id%5==0 vs the rest, cross-side pairs only) — same
        # cosine expression both branches
        "embedding_near_dups": """
            WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT 'all' AS family, a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(floor(list_dot_product(a.v, b.v)
                        / sqrt(greatest(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v), 1e-300))
                        * 1000) AS BIGINT) AS cos_milli
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE floor(list_dot_product(a.v, b.v)
                  / sqrt(greatest(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v), 1e-300))
                  * 1000) >= 300
            UNION ALL
            SELECT 'delta' AS family, a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(floor(list_dot_product(a.v, b.v)
                        / sqrt(greatest(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v), 1e-300))
                        * 1000) AS BIGINT) AS cos_milli
            FROM e a JOIN e b ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
            WHERE floor(list_dot_product(a.v, b.v)
                  / sqrt(greatest(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v), 1e-300))
                  * 1000) >= 300
        """,
        "multimodal_meta": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   hex(substr(text, 1, 4)) AS header_hex
            FROM documents
        """,
        # hash-split twin: identical integer thresholds (split_thresholds)
        # and the identical md5('seed:key')[:8] selection hash
        "doc_sampling_ops": """
            WITH h AS (
                SELECT doc_id, CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv, CAST(concat('0x', substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS qv
                FROM documents
            ),
            toks AS (
                SELECT doc_id, source, n_chars,
                       len(string_split(text, ' ')) AS n_tokens
                FROM documents
            ),
            src_sel AS (
                SELECT source, n_tokens FROM (
                    SELECT source, n_tokens, sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS cum FROM toks
                ) WHERE cum <= 700
            ),
            glob_sel AS (
                SELECT n_tokens FROM (
                    SELECT n_tokens, sum(n_tokens) OVER (
                        ORDER BY n_chars DESC, doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS cum FROM toks
                ) WHERE cum <= 9000
            )
            SELECT 'split:' || CASE WHEN hv < 3435973836 THEN 'train'
                        WHEN hv < 3865470566 THEN 'val'
                        ELSE 'test' END AS op,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN qv < 1073741824 THEN 1 ELSE 0 END) AS BIGINT) AS metric
            FROM h GROUP BY 1
            UNION ALL
            SELECT 'budget_src:' || source AS op, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS metric
            FROM src_sel GROUP BY 1
            UNION ALL
            SELECT 'budget_global' AS op, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS metric
            FROM glob_sel
        """,
        "doc_term_stats": """
        WITH occ AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM occ WHERE length(term) > 0
            GROUP BY doc_id, term
        ),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        dfq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        )
        SELECT t.doc_id, t.term, t.tf, d.df
        FROM tf t JOIN dfq d ON t.term = d.term, n
        WHERE d.df >= 2
          AND d.df <= floor(n.n_docs * 0.9)
    """,
        "nearest_nonoverlap": f"""
            WITH {reads}, {targets},
            {_nearest_oracle_sql("t_id % 25 = 0", exclude_overlap=True,
                                 with_dist=True)}
        """,
        # PII detect/redact over the deterministically augmented documents
        # column (_PII_AUG_SQL — same expression both engines; {cast}
        # ExactSubstr-family duplicated-span stats (r6): generator-produced
        # twin — same 60-bit md5 gram keys, same fixed-span coverage fold
        "doc_dup_span_stats": duplicated_span_stats_sql("documents", n=8),
        # absorbs STRING vs VARCHAR). Patterns are Java∩RE2-portable.
        "doc_pii_stats": f"""
            WITH aug AS (
                SELECT source, {_PII_AUG_SQL.format(cast="VARCHAR")} AS aug
                FROM documents
            ), per AS (
                SELECT source,
                   {pii_cols}
                FROM aug
            )
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_email) AS BIGINT) AS n_email,
                   CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
                   CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
                   CAST(sum(n_credit_card) AS BIGINT) AS n_credit_card,
                   CAST(sum(n_phone) AS BIGINT) AS n_phone,
                   CAST(sum(n_pii) AS BIGINT) AS n_pii,
                   CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_docs_with_pii,
                   CAST(sum(redact_delta) AS BIGINT) AS redact_delta
            FROM per GROUP BY source
        """,
        # Decontamination: contaminated stats from the shared-4-gram report;
        # the clean side re-derived as corpus − contaminated (complement
        # identity), which the Spark row computes via decontaminate()'s
        # anti-join — so the anti-join itself is what's verified.
        "decontaminated_counts": f"""
            WITH rep AS ({contamination_report_sql(
                "(SELECT * FROM documents WHERE doc_id % 17 != 0)",
                "(SELECT * FROM documents WHERE doc_id % 17 = 0)",
                n=4,
            )}),
            cont AS (
                SELECT d.source,
                       count(*) AS n_contaminated,
                       CAST(sum(r.n_shared) AS BIGINT) AS shared_grams
                FROM rep r JOIN documents d ON r.doc_id = d.doc_id
                GROUP BY d.source
            ),
            corpus AS (
                SELECT source, count(*) AS n_docs
                FROM documents WHERE doc_id % 17 != 0 GROUP BY source
            )
            SELECT c.source,
                   CAST(COALESCE(t.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   CAST(COALESCE(t.shared_grams, 0) AS BIGINT) AS shared_grams,
                   CAST(c.n_docs - COALESCE(t.n_contaminated, 0) AS BIGINT) AS n_clean
            FROM corpus c LEFT JOIN cont t ON c.source = t.source
        """,
        "doc_chunk_stats": f"""
            WITH ch AS ({chunk_documents_sql("documents", size=64, overlap=8)}),
            pk AS ({pack_documents_sql("documents", capacity=512, shards=8)})
            SELECT 'chunk' AS op, d.source AS key, count(*) AS n_items,
                   CAST(sum(c.n_tokens) AS BIGINT) AS tokens,
                   CAST(max(c.chunk_id) AS BIGINT) AS n_groups,
                   CAST(sum(CASE WHEN c.n_tokens < 64 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_partial
            FROM ch c JOIN documents d ON c.doc_id = d.doc_id
            GROUP BY d.source
            UNION ALL
            SELECT 'pack' AS op, 'shard_' || shard AS key, count(*) AS n_items,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens,
                   CAST(max(last_pack) + 1 AS BIGINT) AS n_groups,
                   CAST(sum(CASE WHEN first_pack < last_pack THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_partial
            FROM pk GROUP BY shard
        """,
        # simhash_docs, lsh_ann_topk: intentionally no oracle (rows-only) —
        # per-bit vote aggregation / seeded random hyperplanes are not
        # ANSI-SQL-expressible; unit tests pin their semantics instead.
    }
    # interval_set_ops (r6 composite): the three standalone interval-set
    # twins (hash-green since r4/r5, kept above for tools/bench re-checks)
    # UNION ALL'd with aligned aliases — built post-hoc so the texts stay
    # single-sourced.
    out["interval_set_ops"] = f"""
        SELECT 'merge' AS op, contig, n_runs AS n_intervals,
               bases_total AS bases, n_inputs
        FROM ({out["merged_read_runs"]})
        UNION ALL
        SELECT 'subtract' AS op, contig, n_pieces AS n_intervals,
               bases_left AS bases, CAST(NULL AS BIGINT) AS n_inputs
        FROM ({out["reads_minus_targets"]})
        UNION ALL
        SELECT 'complement' AS op, contig, n_gaps AS n_intervals,
               gap_bases AS bases, CAST(NULL AS BIGINT) AS n_inputs
        FROM ({out["read_coverage_gaps"]})
    """
    return out
