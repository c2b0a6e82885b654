"""Metric definitions (name -> unit) and their computation from a run.

A pass is one unit of client work: one query on ``join_pairs``, the three
index calls on ``annotate_index``, one dedup pipeline on ``doc_dedup`` and
one request on ``region_lookups``. An operation is one public call plus the
action on its result. METRICS.md says which layer each metric belongs to
and which workload it should move.
"""

from __future__ import annotations

from stats import latency_summary, median

# a pass during which the hypervisor gave at most this share of the host's
# CPU time to other guests counts as measured on a quiet host
QUIET_STEAL = 0.02

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "pairs_per_s": "pairs/s",
    "latency_p50_s": "s", "latency_p90_s": "s", "requests_per_s": "req/s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sql.call_s": "s", "sql.rewrite_fired": "count",
    "binning.input_rows": "count", "binning.exploded_rows": "count",
    "binning.replication": "ratio", "binning.pairs": "count",
    "index.call_s": "s", "index.eager_jobs": "count", "index.build_rows": "count",
    "index.action_s": "s",
    "dedup.call_s": "s", "dedup.eager_jobs": "count", "dedup.pairs": "count",
    "dedup.clusters": "count",
    "scan.rows_per_match": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.cpu_util": "ratio", "spark.task_skew": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "client.request_build_s": "s", "proc.jvm_peak_rss_mb": "MB", "trace.overhead_frac": "ratio",
}
# counters summed over a pass's operations, reported as their median per pass
_SPARK_SUMS = (
    "jobs", "stages", "tasks", "tasks_failed", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


def _metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def pass_wall(ops) -> float:
    return sum(op.latency_s for op in ops)


def quiet(passes):
    """The passes measured while the host was quiet: those with at most
    ``QUIET_STEAL`` of its CPU time stolen, or the less-stolen half when
    fewer than half are that quiet.

    On a shared host other guests take CPU time in bursts of tens of
    seconds, and a pass slows by about five times the share they take
    (+50% at 10%), so without this a run's figures follow its neighbours.
    Passes are chosen by the steal counter, never by their own time.
    """
    limit = max(QUIET_STEAL, median([p[0].steal for p in passes]))
    return [p for p in passes if p[0].steal <= limit]


def end_to_end(passes, setups: dict, seconds: float, driver_rss_mb: float) -> dict:
    """The user-visible metrics of an untraced run over ``passes`` (the
    quiet ones, see :func:`quiet`). Throughputs are the
    median over passes of a pass's own rate, so a few passes slowed by
    other load on the host move them no more than they move ``wall_s``."""
    walls = [pass_wall(p) for p in passes]
    ops = [op for p in passes for op in p]
    lat = latency_summary([(op.latency_s, op.ok) for op in ops], penalty=seconds)
    rate = lambda per_pass: median([per_pass(p) / w for p, w in zip(passes, walls)])  # noqa: E731
    v = {
        "setup_s": setups["total_s"],
        "wall_s": median(walls),
        "rows_per_s": rate(lambda p: max(op.rows_in for op in p)),
        "pairs_per_s": rate(lambda p: sum(op.pairs for op in p)),
        "latency_p50_s": lat["p50"],
        "latency_p90_s": lat["p90"],
        "requests_per_s": rate(len),
        "driver_peak_rss_mb": driver_rss_mb,
    }
    return {k: _metric(v[k], END_TO_END[k]) for k in END_TO_END}


def _by_pass(spans) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s["op"], []).append(s)
    return out


def _med(values) -> float:
    return median(values) if values else 0.0


def per_layer(base, traced, spans, setups: dict, cores: int, jvm_rss_mb: float) -> dict:
    """Per-layer metrics of the traced half of a run; ``base`` is the
    untraced half, against which the tracing overhead is measured."""
    groups = _by_pass(spans)
    rows = []  # one dict of per-pass values per traced pass
    first = min((s["op"] for s in spans), default=0)
    for i, ops in enumerate(traced, start=first):
        ss = groups.get(i, [])
        named = lambda pred: [s for s in ss if pred(s["name"])]  # noqa: E731
        tops = named(lambda n: n.startswith("op."))
        wall = sum(s["wall_s"] for s in tops)
        spark = {k: sum(s["spark"].get(k, 0) for s in tops) for k in _SPARK_SUMS}
        binned = [s for s in named(lambda n: n.endswith(".action")) if s["plan"].get("generate_nodes")]
        sql_actions = named(lambda n: n == "sql.action")
        index_calls = named(lambda n: n == "index.call")
        dedup_calls = named(lambda n: n.startswith("dedup.") and n.endswith(".call"))
        scan_rows = sum(s["plan"].get("scan_rows", 0) for s in sql_actions)
        binned_in = sum(s["plan"].get("scan_rows", 0) for s in binned)
        binned_out = sum(s["plan"].get("generate_rows", 0) for s in binned)
        rows.append({
            "sql.call_s": sum(s["wall_s"] for s in named(lambda n: n == "sql.call")),
            "sql.rewrite_fired": sum(1 for s in sql_actions if s["plan"].get("generate_nodes")),
            "binning.input_rows": binned_in,
            "binning.exploded_rows": binned_out,
            "binning.replication": binned_out / binned_in if binned_in else 0.0,
            "binning.pairs": sum(s["plan"].get("join_rows", 0) for s in binned),
            "index.call_s": sum(s["wall_s"] for s in index_calls),
            "index.eager_jobs": sum(s["spark"]["jobs"] for s in index_calls),
            "index.build_rows": sum(s["spark"]["input_records"] for s in index_calls),
            "index.action_s": sum(s["wall_s"] for s in named(lambda n: n == "index.action")),
            "dedup.call_s": sum(s["wall_s"] for s in dedup_calls),
            "dedup.eager_jobs": sum(s["spark"]["jobs"] for s in dedup_calls),
            "dedup.pairs": sum(op.pairs for op in ops if op.name == "doc_dedup"),
            "dedup.clusters": sum(op.detail.get("clusters", 0) for op in ops),
            "client.request_build_s": sum(
                s["wall_s"] for s in named(lambda n: n == "client.request_build")),
            "scan_rows": scan_rows,
            "matched": sum(op.detail.get("matched", op.pairs) for op in ops) if sql_actions else 0,
            "spark.cpu_util": spark["executor_cpu_s"] / (wall * cores) if wall else 0.0,
            "spark.task_skew": max((s["spark"].get("skew", 0.0) for s in tops), default=0.0),
            **{f"spark.{k}": v for k, v in spark.items()},
        })
    col = lambda k: [r[k] for r in rows]  # noqa: E731
    matched = sum(col("matched"))
    v = {k: _med(col(k)) for k in rows[0] if k not in ("scan_rows", "matched")} if rows else {}
    v["sql.rewrite_fired"] = sum(col("sql.rewrite_fired"))
    v["scan.rows_per_match"] = sum(col("scan_rows")) / matched if matched else 0.0
    v["session.start_s"] = setups["start_s"]
    v["session.warmup_s"] = setups["warmup_s"]
    v["proc.jvm_peak_rss_mb"] = jvm_rss_mb
    v["trace.overhead_frac"] = (
        median([pass_wall(p) for p in traced]) / median([pass_wall(p) for p in base]) - 1
    )
    return {k: _metric(v.get(k, 0.0), PER_LAYER[k]) for k in PER_LAYER}
