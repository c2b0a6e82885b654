"""The four workloads, each driven only through the package's public API.

One client, closed loop: the next operation starts when the previous one
has returned its result. :meth:`run_pass` performs one pass (one request on
``region_lookups``) and returns its operations; timing covers each public
call and the action that consumes its result, and the answer is checked
against the oracle after the clock stops.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import sequila_native_spark as sq
from sequila_native_spark.functions import dedup_clusters, minhash_pairs

from oracle import COVER_VALUE, checksum

OVERLAP = "{a}.contig = {b}.contig AND {a}.pos_end >= {b}.pos_start AND {a}.pos_start <= {b}.pos_end"
# the databio query shape; the checksum makes every pair reach the aggregate
JOIN_SQL = (
    f"SELECT count(*) AS n, {checksum('a.read_id', 'b.target_id')} AS chk "
    f"FROM reads a JOIN targets b ON {OVERLAP.format(a='a', b='b')}"
)
REGION_COUNT_SQL = f"SELECT count(*) AS n FROM region q JOIN reads r ON {OVERLAP.format(a='q', b='r')}"
REGION_FETCH_SQL = (
    "SELECT t.target_id, t.contig, t.pos_start, t.pos_end "
    f"FROM region q JOIN targets t ON {OVERLAP.format(a='q', b='t')}"
)
REGION_SCHEMA = "contig string, pos_start int, pos_end int"


@dataclass
class Op:
    """One timed operation: a public call plus the action on its result."""

    name: str
    latency_s: float
    ok: bool
    rows_in: int  # input rows the operation consumed
    pairs: int  # overlapping pairs, matched rows or emitted pairs it produced
    hot: bool = False  # region_lookups: request for a hot-set region
    detail: dict = field(default_factory=dict)
    steal: float = 0.0  # share of host CPU time stolen while its pass ran


class Workload:
    tables: tuple[str, ...] = ()
    layer = ""  # span-name prefix of the package layer the calls exercise

    def __init__(self, spark, tracer, expected: dict, rows: dict):
        self.spark = spark
        self.tr = tracer
        self.expected = expected
        self.rows = rows  # row count per input table

    def run_pass(self, i: int) -> list[Op]:
        raise NotImplementedError

    def warm_pass(self, i: int) -> list[Op]:
        """One untimed pass before measuring."""
        return self.run_pass(i)

    def _timed(self, name: str, i: int, call, consume):
        """Run ``call``, then collect the frame ``consume`` makes of its
        result, inside spans; return the first row and the latency."""
        with self.tr.span(f"op.{name}", op=i):
            t0 = time.perf_counter()
            with self.tr.span(f"{self.layer}.call"):
                df = call()
            with self.tr.span(f"{self.layer}.action"):
                out = consume(df)
                row = out.collect()[0]
                self.tr.plan(out)
            return row, time.perf_counter() - t0


class JoinPairs(Workload):
    """Output-bound overlap join through the SQL rewrite."""

    tables = ("reads", "targets")
    layer = "sql"

    def run_pass(self, i):
        row, lat = self._timed(
            "join_pairs", i, lambda: sq.sequila_sql(self.spark, JOIN_SQL), lambda df: df,
        )
        exp = self.expected
        ok = row["n"] == exp["pairs"] and row["chk"] == exp["checksum"]
        return [Op("join_pairs", lat, ok, self.rows["reads"] + self.rows["targets"], int(row["n"] or 0))]


class AnnotateIndex(Workload):
    """Broadcast-index annotation: two builds on the large reads side, one
    on the small targets side."""

    tables = ("reads", "targets")
    layer = "index"

    def run_pass(self, i):
        spark, exp = self.spark, self.expected
        reads, targets = spark.table("reads"), spark.table("targets")
        rows_in = self.rows["reads"] + self.rows["targets"]
        ops = []

        def agg(*cols):
            return lambda df: df.agg(*cols)

        r, lat = self._timed(
            "count_overlaps", i,
            lambda: sq.count_overlaps(reads, targets, "contig", algorithm="index"),
            agg(F.count(F.lit(1)), F.sum("count"), F.expr(checksum("target_id", "`count`"))),
        )
        ok = (r[0], r[1], r[2]) == (exp["targets"], exp["pairs"], exp["count_checksum"])
        ops.append(Op("count_overlaps", lat, ok, rows_in, int(r[1] or 0)))

        cover = COVER_VALUE.format(n="n_overlaps", bases="bases_covered")
        r, lat = self._timed(
            "coverage", i,
            lambda: sq.coverage(reads, targets, "contig", algorithm="index"),
            agg(F.count(F.lit(1)), F.sum("n_overlaps"), F.expr(checksum("target_id", cover))),
        )
        ok = (r[0], r[1], r[2]) == (exp["targets"], exp["pairs"], exp["cover_checksum"])
        ops.append(Op("coverage", lat, ok, rows_in, int(r[1] or 0)))

        r, lat = self._timed(
            "nearest_join", i,
            lambda: sq.nearest_join(targets, reads, "contig", algorithm="index", distance_col="dist"),
            agg(F.count(F.lit(1)), F.expr(checksum("read_id", "coalesce(dist, -1) + 1"))),
        )
        ok = (r[0], r[1]) == (exp["reads"], exp["nearest_checksum"])
        ops.append(Op("nearest_join", lat, ok, rows_in, int(r[0] or 0)))
        return ops


class RegionLookups(Workload):
    """Many small user queries: one region each, counted or fetched."""

    tables = ("reads", "targets")
    layer = "sql"

    def __init__(self, spark, tracer, expected, rows, requests):
        super().__init__(spark, tracer, expected, rows)
        # list of dicts in send order; timed pass i sends request i, so the
        # hot/cold mix of a run depends on the seed alone
        self.requests = [r for r in requests if not r["warmup"]]
        self.warm = [r for r in requests if r["warmup"]]

    def run_pass(self, i):
        return [self._request(i, self.requests[i % len(self.requests)])]

    def warm_pass(self, i):
        return [self._request(i, self.warm[i % len(self.warm)])]

    def _request(self, i: int, req: dict) -> Op:
        spark, tr = self.spark, self.tr
        count = req["kind"] == "count"
        with tr.span("op.region", op=i):
            t0 = time.perf_counter()
            with tr.span("client.request_build"):
                spark.createDataFrame(
                    [(req["contig"], req["pos_start"], req["pos_end"])], REGION_SCHEMA
                ).createOrReplaceTempView("region")
            with tr.span("sql.call"):
                df = sq.sequila_sql(spark, REGION_COUNT_SQL if count else REGION_FETCH_SQL)
            with tr.span("sql.action"):
                rows = df.collect()
                tr.plan(df)
            lat = time.perf_counter() - t0
        key = str(req["req_id"])
        if count:
            got = int(rows[0]["n"])
            ok = got == self.expected["count"][key]
        else:
            got = len(rows)
            ok = sorted(r["target_id"] for r in rows) == self.expected["fetch"][key]
        # the input is the whole region store and the output one answer per
        # request: matched-row counts follow the seed's region sizes and
        # the count/fetch mix, which would make throughputs seed noise
        return Op(f"region_{req['kind']}", lat, ok, self.rows["reads"] + self.rows["targets"], 1,
                  bool(req["hot"]), detail={"matched": got})


class DocDedup(Workload):
    """MinHash pairs, connected components, keep one document per cluster."""

    tables = ("corpus",)
    layer = "dedup"

    def __init__(self, spark, tracer, expected, rows):
        super().__init__(spark, tracer, expected, rows)
        self.truth = {(a, b): (c, u) for a, b, c, u in expected["pairs"]}

    def run_pass(self, i):
        spark, tr = self.spark, self.tr
        docs = spark.table("corpus")
        with tr.span("op.doc_dedup", op=i):
            t0 = time.perf_counter()
            with tr.span("dedup.minhash_pairs.call"):
                pairs = minhash_pairs(docs, threshold_milli=self.expected["threshold_milli"])
            with tr.span("dedup.dedup_clusters.call"):
                labels = dedup_clusters(pairs, docs.select("doc_id"))
            with tr.span("dedup.action"):
                kept_df = docs.join(
                    labels.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id"), "doc_id"
                ).select("doc_id")
                kept = {r[0] for r in kept_df.collect()}
                tr.plan(kept_df)
            lat = time.perf_counter() - t0
        emitted = pairs.collect()
        ok = all(
            self.truth.get((r["id_a"], r["id_b"])) == (r["n_common"], r["n_union"])
            for r in emitted
        ) and all(
            sum(d in kept for d in group) == 1 for group in self.expected["exact_groups"]
        )
        return [Op("doc_dedup", lat, ok, self.rows["corpus"], len(emitted),
                   detail={"clusters": len(kept)})]


WORKLOADS = {
    "join_pairs": JoinPairs,
    "annotate_index": AnnotateIndex,
    "region_lookups": RegionLookups,
    "doc_dedup": DocDedup,
}
