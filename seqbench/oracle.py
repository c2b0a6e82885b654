"""Independent DuckDB oracle for every workload's answers.

Nothing here calls the package under test. Interval overlaps use DuckDB's
inequality join on genome-wide coordinates (``contig index << 32 | pos``),
nearest distances use two ``ASOF`` joins, and document similarity joins the
word 3-gram sets directly, so no answer shares an algorithm with the engine.

All intervals are closed: ``[pos_start, pos_end]`` overlaps ``[s, e]`` iff
``pos_end >= s AND pos_start <= e``.

Row-level answers are compared through checksums that both engines compute
with the same integer SQL, :data:`CHECKSUM`, so a single wrong row changes
the sum.
"""

from __future__ import annotations

import os

import duckdb

# sum over rows of a mix of a row id and its answer; both terms are
# non-negative bigints, so Spark and DuckDB agree bit for bit
CHECKSUM = "sum(({id} * 1000003 + {value}) % 1000000007)"
# the value folded into a per-target checksum (count and covered bases)
COVER_VALUE = "{n} * 1000033 + {bases}"
JACCARD_MILLI = 500


def checksum(id_expr: str, value_expr: str) -> str:
    return CHECKSUM.format(id=id_expr, value=value_expr)


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A connection with one view per generated table under ``data_dir``."""
    con = duckdb.connect()
    intervals = []
    for name in sorted(os.listdir(data_dir)):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}/*.parquet')"
        )
        if name in ("reads", "targets", "requests"):
            intervals.append(f"SELECT DISTINCT contig FROM {name}")
    if intervals:
        # one key per contig, shared by every table's genome-wide coordinates
        con.execute(f"""
            CREATE TEMP TABLE contig_keys AS
            SELECT contig, CAST(row_number() OVER (ORDER BY contig) AS BIGINT) AS k
            FROM ({' UNION '.join(intervals)})
        """)
    return con


_GLOBAL = """
CREATE OR REPLACE TEMP TABLE {out} AS
SELECT s.*,
       (c.k << 32) | s.pos_start AS gs,
       (c.k << 32) | s.pos_end AS ge
FROM {src} s JOIN contig_keys c USING (contig)
"""


def _globalize(con, *tables: str) -> None:
    for t in tables:
        con.execute(_GLOBAL.format(out=f"g_{t}", src=t))


def _pairs(con) -> None:
    """Every overlapping (read, target) pair with its clipped overlap length."""
    _globalize(con, "reads", "targets")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE pairs AS
        SELECT a.read_id, b.target_id,
               least(a.pos_end, b.pos_end) - greatest(a.pos_start, b.pos_start) + 1 AS clipped
        FROM g_reads a JOIN g_targets b ON a.ge >= b.gs AND a.gs <= b.ge
    """)


def join_pairs(con) -> dict:
    """Pair count and pair checksum of the reads x targets overlap join."""
    _pairs(con)
    n, chk = con.execute(
        f"SELECT count(*), {checksum('read_id', 'target_id')} FROM pairs"
    ).fetchone()
    return {"pairs": int(n), "checksum": int(chk)}


def annotate(con) -> dict:
    """Per-target overlap counts and covered bases, per-read nearest
    distances (0 on overlap, else the gap to the closest target on the
    same contig, -1 when the contig has none), each as a checksum."""
    _pairs(con)
    per_target = con.execute(f"""
        SELECT count(*), sum(n),
               {checksum('target_id', 'n')},
               {checksum('target_id', COVER_VALUE.format(n='n', bases='bases'))}
        FROM (
            SELECT t.target_id, count(p.read_id) AS n, coalesce(sum(p.clipped), 0) AS bases
            FROM targets t LEFT JOIN pairs p USING (target_id)
            GROUP BY t.target_id
        )
    """).fetchone()
    per_read = con.execute(f"""
        WITH hit AS (SELECT DISTINCT read_id FROM pairs),
        down AS (
            SELECT r.read_id, t.pos_start - r.pos_end AS d
            FROM reads r ASOF LEFT JOIN targets t
              ON r.contig = t.contig AND r.pos_end < t.pos_start
        ),
        up AS (
            SELECT r.read_id, r.pos_start - t.pos_end AS d
            FROM reads r ASOF LEFT JOIN targets t
              ON r.contig = t.contig AND r.pos_start > t.pos_end
        ),
        dist AS (
            SELECT r.read_id,
                   CASE WHEN h.read_id IS NOT NULL THEN 0
                        ELSE coalesce(least(up.d, down.d), -1) END AS d
            FROM reads r
            LEFT JOIN hit h USING (read_id)
            LEFT JOIN up USING (read_id)
            LEFT JOIN down USING (read_id)
        )
        SELECT count(*), {checksum('read_id', 'd + 1')} FROM dist
    """).fetchone()
    return {
        "targets": int(per_target[0]),
        "pairs": int(per_target[1]),
        "count_checksum": int(per_target[2]),
        "cover_checksum": int(per_target[3]),
        "reads": int(per_read[0]),
        "nearest_checksum": int(per_read[1]),
    }


def regions(con) -> dict:
    """Per request: the read count in the region, or the sorted ids of the
    targets overlapping it (both computed for every request)."""
    _globalize(con, "reads", "targets", "requests")
    counts = dict(con.execute("""
        SELECT q.req_id, count(r.read_id)
        FROM g_requests q LEFT JOIN g_reads r ON q.ge >= r.gs AND q.gs <= r.ge
        GROUP BY q.req_id
    """).fetchall())
    fetched = dict(con.execute("""
        SELECT q.req_id, list(t.target_id ORDER BY t.target_id) FILTER (WHERE t.target_id IS NOT NULL)
        FROM g_requests q LEFT JOIN g_targets t ON q.ge >= t.gs AND q.gs <= t.ge
        GROUP BY q.req_id
    """).fetchall())
    return {
        "count": {int(k): int(v) for k, v in counts.items()},
        "fetch": {int(k): [int(x) for x in (v or [])] for k, v in fetched.items()},
    }


def similar_docs(con, threshold_milli: int = JACCARD_MILLI) -> dict:
    """Every document pair whose word 3-gram Jaccard is at least the
    threshold, with its exact ``(n_common, n_union)``, and the planted
    exact-duplicate groups."""
    con.execute("""
        CREATE OR REPLACE TEMP TABLE grams AS
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
               ))) AS g
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM corpus)
    """)
    rows = con.execute(f"""
        WITH sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, c, sa.n + sb.n - c AS u
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c * 1000 >= {int(threshold_milli)} * (sa.n + sb.n - c)
    """).fetchall()
    groups = con.execute("""
        SELECT list(doc_id ORDER BY doc_id) FROM corpus
        WHERE dup_group >= 0 GROUP BY dup_group ORDER BY min(doc_id)
    """).fetchall()
    return {
        "threshold_milli": int(threshold_milli),
        "pairs": [[int(a), int(b), int(c), int(u)] for a, b, c, u in rows],
        "exact_groups": [[int(x) for x in g[0]] for g in groups],
    }
