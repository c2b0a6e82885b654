"""SQL front-end: accelerate interval-overlap joins written as plain SQL.

The reference drives everything through SQL text (``queries/q1-coitrees.sql``,
``sequila-cli``): a physical-optimizer rule rewrites any hash/nested-loop join
whose filter is the 2-conjunct range pattern into ``IntervalJoinExec``
(``sequila_physical_planner.rs:27-101``, recognizer ``intervals.rs:30-232``).
Catalyst is not extensible from Python, so this module does the equivalent one
level up: recognize the pattern in the SQL *text* and rewrite the FROM clause
into the binned equi-join (the SQL fragments `overlap_join(algorithm="binning")`
is built from, in ``operators/interval_join.py`` — int32-checked bounds,
fixed-width bins, equi-join on ``(keys…, bin)``, exact filter,
first-common-bin dedup), then hand the rewritten text to ``spark.sql``.
The checked bounds replace the statement's two range conjuncts, so a
``bigint`` bound past int32 raises the reference's ``Cast error``, as the
API does. Everything else in the statement (projection, aggregates,
GROUP/ORDER/LIMIT, residual predicates) is untouched, so the full inherited
SQL surface keeps working.

Recognized shape (the reference's documented surface, 8 predicate orderings,
strict or inclusive, ≥0 equi-keys, extra single-side predicates ride along):

    SELECT … FROM t1 [AS] a [INNER] JOIN t2 [AS] b ON <cond> [tail]
    SELECT … FROM t1 [AS] a, t2 [AS] b WHERE <cond> [tail]

Anything else — OR, parenthesized conditions, compound bound expressions
(rejected by the reference too, ``intervals.rs:48,54``), subqueries, outer
joins, multi-joins — falls back to ``spark.sql(sql)`` verbatim: never wrong,
just not accelerated. ``spark.sequila.preferIntervalJoin=false`` disables the
rewrite, mirroring ``sequila.prefer_interval_join``.

Scale note: the rewrite never materializes the unfiltered equi-join
intermediate (the 70 GB / DNF plan of ``sandbox/datafusion_baseline.md:101``);
the binned join shuffles both sides by ``(keys…, bin)`` so it distributes
across executors like any equi-join.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.interval_join import BINNED_HINT, binned_on_sql, binned_side_sql
from .session import DEFAULT_FIXED_BIN_WIDTH, SequilaConf

# one comparison between the two relations: q1.c1 <op> q2.c2
_CMP = re.compile(
    r"^(\w+)\.(\w+)\s*(<=|>=|=|<|>)\s*(\w+)\.(\w+)$", re.ASCII
)
_REL = r"[\w.]+"
_JOIN_FROM = re.compile(
    rf"\bFROM\s+({_REL})(?:\s+(?:AS\s+)?(?!INNER\b|JOIN\b)(\w+))?"
    rf"\s+(?:INNER\s+)?JOIN\s+({_REL})(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?"
    rf"\s+ON\s+",
    re.IGNORECASE,
)
_COMMA_FROM = re.compile(
    rf"\bFROM\s+({_REL})(?:\s+(?:AS\s+)?(\w+))?\s*,"
    rf"\s*({_REL})(?:\s+(?:AS\s+)?(\w+))?\s+WHERE\s+",
    re.IGNORECASE,
)
_TAIL = re.compile(r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b", re.IGNORECASE)
_BAIL = re.compile(r"\bOR\b|[()']", re.IGNORECASE)


def _split_top_commas(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


def _classify(cond: str, a: str, b: str):
    """Split a conjunction into (equi, range, residual) conjunct lists.

    Returns None if the text is outside the recognized grammar (the caller
    falls back to vanilla ``spark.sql``).
    """
    if _BAIL.search(cond):
        return None
    equi: list[str] = []
    ranges: list[tuple[str, str, str, str]] = []  # (a_col, op, b_col, text)
    residual: list[str] = []
    for conj in re.split(r"\bAND\b", cond, flags=re.IGNORECASE):
        conj = conj.strip()
        if not conj:
            return None
        m = _CMP.match(conj)
        if not m:
            # single-side predicate like a.pos_start > 0 — keep verbatim
            quals = set(re.findall(r"\b(\w+)\s*\.", conj))
            if quals <= {a, b}:
                residual.append(conj)
                continue
            return None
        q1, c1, op, q2, c2 = m.groups()
        if {q1, q2} == {a, b}:
            if q1 == b:  # normalize: a-side on the left, flip the operator
                q1, c1, q2, c2 = q2, c2, q1, c1
                op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(op, op)
            if op == "=":
                equi.append(conj)
            else:
                ranges.append((c1, op, c2, conj))
        elif {q1, q2} <= {a, b}:  # same-side comparison — residual
            residual.append(conj)
        else:
            return None
    return equi, ranges, residual


def _bounds(ranges):
    """From the two range conjuncts, identify each side's (start, end) column.

    ``a.X <= b.Y`` ⇒ X is a's start, Y is b's end; ``a.X >= b.Y`` ⇒ X is a's
    end, Y is b's start (the 8 orderings of ``intervals.rs:76-84`` collapse to
    these two after operand normalization). Strict ``<``/``>`` forms are
    *stricter* than the closed ones, so bins computed from the raw bounds
    still cover every qualifying pair — the original conjunct text remains the
    exact filter, no ``x-1`` rewrite needed here.
    """
    if len(ranges) != 2:
        return None
    lo = [r for r in ranges if r[1] in ("<=", "<")]
    hi = [r for r in ranges if r[1] in (">=", ">")]
    if len(lo) != 1 or len(hi) != 1:
        return None
    a_start, _, b_end, _ = lo[0]
    a_end, _, b_start, _ = hi[0]
    return a_start, a_end, b_start, b_end


class _JoinText(NamedTuple):
    """A statement's two-relation interval join, split at its FROM clause."""

    head: str  # "SELECT <list> " (FROM excluded)
    rel1: str
    a: str
    rel2: str
    b: str
    tail: str  # from the first WHERE/GROUP BY/HAVING/ORDER BY/LIMIT on, or ""
    comma: bool  # the "FROM t1 a, t2 b WHERE" phrasing
    equi: list
    ranges: list
    residual: list
    bounds: tuple  # (a_start, a_end, b_start, b_end)


def _recognize_join(text: str) -> _JoinText | None:
    """Recognize ``text`` (stripped, no trailing ``;``) as ``SELECT … FROM
    t1 [AS] a JOIN t2 [AS] b ON <cond> [tail]`` or its comma phrasing, with
    a condition of equi-keys plus the two range conjuncts; None otherwise.
    Aliases default to the bare table names."""
    if not re.match(r"SELECT\b", text, re.IGNORECASE):
        return None
    comma = False
    m = _JOIN_FROM.search(text)
    if not m:
        m = _COMMA_FROM.search(text)
        comma = True
    if not m:
        return None
    rel1, a, rel2, b = m.groups()
    a = a or rel1.split(".")[-1]
    b = b or rel2.split(".")[-1]
    rest = text[m.end():]
    t = _TAIL.search(rest)
    cond, tail = (rest[: t.start()], rest[t.start():]) if t else (rest, "")
    parsed = _classify(cond.strip(), a, b)
    if parsed is None:
        return None
    bounds = _bounds(parsed[1])
    if bounds is None:
        return None
    return _JoinText(text[: m.start()], rel1, a, rel2, b, tail, comma, *parsed, bounds)


def _expand_stars(select_list: str, a: str, b: str, a_cols, b_cols):
    items = _split_top_commas(select_list)
    out = []
    for it in items:
        if it == "*":
            out += [f"{a}.{c}" for c in a_cols] + [f"{b}.{c}" for c in b_cols]
        elif re.fullmatch(rf"{a}\s*\.\s*\*", it):
            out += [f"{a}.{c}" for c in a_cols]
        elif re.fullmatch(rf"{b}\s*\.\s*\*", it):
            out += [f"{b}.{c}" for c in b_cols]
        else:
            out.append(it)
    return ", ".join(out)


def rewrite_interval_sql(
    spark: SparkSession, sql: str, *, bin_width: int | None = None
) -> str | None:
    """Return the binned-join rewrite of ``sql``, or None if unrecognized."""
    text = sql.strip().rstrip(";")
    if re.search(r"\bUNION\b|\bLEFT\b|\bRIGHT\b|\bFULL\b|\bCROSS\b|/\*", text, re.IGNORECASE):
        return None
    if len(re.findall(r"\bJOIN\b", text, re.IGNORECASE)) > 1:
        return None
    if len(re.findall(r"\bSELECT\b", text, re.IGNORECASE)) > 1:  # subqueries
        return None
    j = _recognize_join(text)
    if j is None or j.a == j.b:
        return None
    if j.comma and j.tail[:5].upper() == "WHERE":
        return None  # two WHEREs can't happen; defensive
    rel1, a, rel2, b, tail = j.rel1, j.a, j.rel2, j.b, j.tail
    a_start, a_end, b_start, b_end = j.bounds

    conf = SequilaConf.from_spark(spark)
    if not conf.prefer_interval_join:
        return None
    width = bin_width if bin_width is not None else conf.bin_width
    if not isinstance(width, int):
        # "auto" width needs a data pass over DataFrames; the text-level SQL
        # path uses the fixed engine fallback instead (documented in README)
        width = DEFAULT_FIXED_BIN_WIDTH

    try:  # star expansion + integral-bounds guard need the schemas
        sch1 = dict((f.name, f.dataType.simpleString()) for f in spark.table(rel1).schema)
        sch2 = dict((f.name, f.dataType.simpleString()) for f in spark.table(rel2).schema)
    except Exception:
        return None
    ints = {"tinyint", "smallint", "int", "bigint"}
    if (
        sch1.get(a_start) not in ints or sch1.get(a_end) not in ints
        or sch2.get(b_start) not in ints or sch2.get(b_end) not in ints
    ):
        return None  # closed-interval + bin math is integer-only

    sel = re.sub(r"^SELECT\s+", "", j.head.strip(), flags=re.IGNORECASE)
    sel = _expand_stars(sel, a, b, list(sch1), list(sch2))

    # per-conjunct strictness (intervals.rs:67-69): a strict `a.e > b.s`
    # shrinks a's end, a strict `a.s < b.e` shrinks b's end
    ops = {r[1] for r in j.ranges}
    on = [binned_on_sql(j.equi, width), *j.residual]
    return (
        f"SELECT /*+ {BINNED_HINT}({a}, {b}) */ {sel} "
        f"FROM {binned_side_sql(rel1, a, a_start, a_end, '>' in ops, True, width, sch1)} "
        f"JOIN {binned_side_sql(rel2, b, b_start, b_end, '<' in ops, False, width, sch2)} "
        f"ON {' AND '.join(on)}{tail and ' ' + tail.strip()}"
    )


def _nearest_from_sql(spark: SparkSession, sql: str) -> DataFrame | None:
    """Route a recognized interval-join query to ``nearest_join`` — the
    ``SET sequila.interval_join_algorithm TO CoitreesNearest`` contract
    (``integration_test.rs:352-399``: the SAME join SQL runs with nearest
    semantics).

    Supports the reference query shape: ``SELECT * FROM a JOIN b ON <equi +
    2-conjunct range>`` with uniform strictness and same-named key columns.
    Returns None when the text isn't an interval join at all (caller falls
    back to plain ``spark.sql``); raises for recognized-but-unsupported
    variants rather than silently running overlap semantics.
    """
    from sequila_native_spark.operators.nearest_join import nearest_join

    j = _recognize_join(sql.strip().rstrip(";"))
    if j is None:
        return None

    def unsupported(why: str):
        return ValueError(
            f"CoitreesNearest SQL mode: {why}; use "
            f"sequila_native_spark.nearest_join(...) directly for this query"
        )

    sel = re.sub(r"^SELECT\s+", "", j.head.strip(), flags=re.IGNORECASE).strip()
    if sel != "*":
        raise unsupported(f"only SELECT * is supported, got {sel!r}")
    if j.residual:
        raise unsupported(f"residual predicates {j.residual} are not supported")
    if j.tail.strip():
        raise unsupported(f"trailing clause {j.tail.strip()!r} is not supported")
    strict_ops = {r[1] for r in j.ranges}
    if strict_ops == {"<", ">"}:
        strict = True
    elif strict_ops == {"<=", ">="}:
        strict = False
    else:
        raise unsupported("mixed strict/closed range conjuncts")
    on_keys = []
    for conj in j.equi:
        q1, c1, _, _, c2 = _CMP.match(conj).groups()
        if q1 == j.b:
            c1, c2 = c2, c1
        if c1 != c2:
            raise unsupported(f"equi-key columns differ: {conj!r}")
        on_keys.append(c1)
    a_start, a_end, b_start, b_end = j.bounds
    return nearest_join(
        spark.table(j.rel1),
        spark.table(j.rel2),
        on=on_keys or None,
        left_start=a_start,
        left_end=a_end,
        right_start=b_start,
        right_end=b_end,
        strict=strict,
    )


# ---------------------------------------------------------------------------
# Table-valued phrasings for the non-join interval operators
# ---------------------------------------------------------------------------
#
# The reference exposes only the join family through SQL; merge / complement /
# depth-histogram / count-overlaps / coverage are API-only there. For
# .sql-script users we accept a table-function phrasing in FROM position and
# substitute the REAL operator's (lazy) result as a temp view — the operator's
# distributed plan is unchanged, the SQL around it (projection, WHERE,
# GROUP/ORDER/LIMIT, further joins) all still applies:
#
#     SELECT * FROM sequila_merge('reads', 'contig', 'r_start', 'r_end')
#     SELECT * FROM sequila_merge('reads', 'contig', 's', 'e', 100)  -- -d 100
#     SELECT * FROM sequila_complement('reads', 'contig', 's', 'e')
#     SELECT * FROM sequila_depth_histogram('reads', 'contig', 's', 'e')
#     SELECT * FROM sequila_count_overlaps('reads', 'targets', 'contig',
#                                          'r_start', 'r_end', 't_start', 't_end')
#     SELECT * FROM sequila_coverage('reads', 'targets', 'contig',
#                                    'r_start', 'r_end', 't_start', 't_end')
#
# LLM-pipeline table functions (r6) follow the same shape:
#
#     SELECT * FROM sequila_chunk('docs', 'text', 'doc_id', 64, 8)
#     SELECT * FROM sequila_pack('docs', 'text', 'doc_id', 2048, 32)
#     SELECT * FROM sequila_redact('docs', 'text')
#     SELECT * FROM sequila_decontaminate('docs', 'bench', 'text', 'doc_id', 8)
#     SELECT * FROM sequila_budget('docs', 9000, 'n_tokens', 'score', 'doc_id')
#     SELECT * FROM sequila_quality('docs', 'model', 'text', 'doc_id', 4096)
#     SELECT * FROM sequila_bpe_count('docs', 'merges', 'text', 'doc_id')
#     SELECT * FROM sequila_corpus_gate('batch', 'corpus', 'text', 'doc_id', 200)
#     SELECT * FROM sequila_dsir('raw', 'target', 'text', 'doc_id', 512, 20)
#     SELECT * FROM sequila_semdedup('emb', 'vec_id', 'embedding', 32, 950)
#     SELECT * FROM sequila_balanced('emb', 'vec_id', 'embedding', 32, 200,
#                                    'sqrt')
#     SELECT * FROM sequila_embedding_gate('batch', 'corpus', 'vec_id',
#                                          'embedding', 300)
#     SELECT * FROM sequila_dupspans('docs', 'text', 'doc_id', 8)
#     SELECT * FROM sequila_span_removal('docs', 'text', 'doc_id', 8)
#     SELECT * FROM sequila_perplexity('docs', 'model', 'text', 'doc_id')
#     SELECT * FROM sequila_trigram_perplexity('docs', 'model', 'text',
#                                              'doc_id')
#     SELECT * FROM sequila_ann_topk('queries', 'idx_tbl', 'vec_id',
#                                    'embedding', 5, 6, 4, 11)  -- +[flips 0-2],
#                                                               -- +[probe_budget]
#     SELECT * FROM sequila_ivf_topk('queries', 'cells_tbl', 'cent_tbl',
#                                    'vec_id', 'embedding', 5, 8)
#
# Index-maintenance phrasing (r9) — the daily-ingest health loop as SQL:
#
#     SELECT * FROM sequila_index_stats('idx_tbl')   -- files per bucket
#     SELECT * FROM sequila_ivf_cells('cells_tbl')   -- cell populations
#     SELECT * FROM sequila_compact('idx_tbl')       -- compact NOW, report
#     SELECT * FROM sequila_maintain('idx_tbl', 8)   -- compact iff decayed
#
# sequila_compact / sequila_maintain are ACTIONS: the table is rewritten
# when the statement is prepared (TVF expansion is eager), and the
# returned row is the report. sequila_maintain('t', [max_files_per_bucket])
# rewrites only when some bucket exceeds the threshold — the idempotent
# daily-cadence form. MAINTENANCE WINDOW: the rewrite's catalog swap has a
# brief window where the table name resolves to nothing; don't run either
# against a table being actively probed from other sessions (validated
# probes retry briefly and then fail with a named-swap message).
#
# The first argument(s) name registered tables/views; `on` takes ':'-separated
# names for multi-key grouping ('' for none). Arguments are literals, not
# expressions — project/rename in a view first if needed.

_TVF = re.compile(
    r"\bsequila_(merge|complement|depth_histogram|count_overlaps|coverage"
    r"|subtract|makewindows|cluster|map"
    r"|chunk|pack|redact|decontaminate|budget|quality|bpe_count|corpus_gate"
    r"|dsir|semdedup|balanced|embedding_gate|dupspans|span_removal"
    r"|trigram_perplexity|perplexity|ann_topk|ivf_topk"
    r"|index_stats|ivf_cells|compact|maintain)"
    r"\s*\(([^()]*)\)",
    re.IGNORECASE,
)


def _parse_map_spec(spec: str) -> dict[str, tuple[str, str | None]]:
    """Parse the sequila_map aggregate spec: ``'out=op:col;out2=count'``
    (ops as in :func:`~sequila_native_spark.map_intervals`; ``count`` takes
    no column)."""
    aggs: dict[str, tuple[str, str | None]] = {}
    for part in spec.split(";"):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise ValueError(
                f"sequila_map spec entries are 'out=op:col' or 'out=count', "
                f"got {part!r}"
            )
        out_name, rhs = (x.strip() for x in part.split("=", 1))
        if ":" in rhs:
            op, col = (x.strip() for x in rhs.split(":", 1))
            aggs[out_name] = (op, col)
        else:
            aggs[out_name] = (rhs, None)
    if not aggs:
        raise ValueError(f"sequila_map spec names no aggregates: {spec!r}")
    return aggs


def _tvf_args(raw: str) -> list[str]:
    """Split a TVF argument list. Quoted arguments keep their value even
    when empty — ``sequila_merge('t', '', 's', 'e')`` means "no grouping
    keys", and dropping the ``''`` would shift every later position (an
    arity error at best, wrong columns at worst). Only truly blank unquoted
    slots (e.g. the zero-argument ``()``) are dropped."""
    out = []
    for part in raw.split(","):
        p = part.strip()
        if len(p) >= 2 and p[0] == p[-1] == "'":
            out.append(p[1:-1])
        elif p != "":
            out.append(p)
    return out


def _literal_comment_spans(sql: str) -> list[tuple[int, int]]:
    """Spans of single-quoted literals, double-quoted identifiers, ``--``
    line comments and ``/* */`` block comments — regions where a
    ``sequila_*(...)`` match is TEXT, not a table factor, and must not be
    rewritten."""
    spans = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n)))
            i = min(j + 1, n)
        elif c == '"':
            j = sql.find('"', i + 1)
            j = n - 1 if j < 0 else j
            spans.append((i, j + 1))
            i = j + 1
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            spans.append((i, j))
            i = j
        elif c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


def _blank_comments(sql: str) -> str:
    """``sql`` with each comment replaced by spaces, so a comment cannot
    hide a conjunct from the join recognizer. ``/*+ hints */`` stay: they
    change the plan, and the rewrite leaves a hinted statement alone."""
    for a, b in _literal_comment_spans(sql):
        if sql[a] in "-/" and not sql.startswith("/*+", a):
            sql = sql[:a] + " " * (b - a) + sql[b:]
    return sql


def expand_sequila_tvfs(spark: SparkSession, sql: str) -> str:
    """Replace ``sequila_<op>(...)`` table factors with temp views holding
    the corresponding operator's (lazy) DataFrame; returns the rewritten SQL.
    No-op when the text contains none."""
    from sequila_native_spark.operators.count_overlaps import count_overlaps
    from sequila_native_spark.operators.coverage import coverage, depth_histogram
    from sequila_native_spark.operators.merge_intervals import (
        complement_intervals,
        merge_intervals,
    )

    def keys(s: str) -> list[str] | None:
        return [k for k in s.split(":") if k] or None

    def build(op: str, a: list[str]) -> DataFrame:
        if op == "makewindows":
            if not (5 <= len(a) <= 6):
                raise ValueError(
                    f"sequila_makewindows takes (table, on, start, end, "
                    f"window, [step]), got {a!r}"
                )
            from sequila_native_spark.operators.merge_intervals import make_windows

            step = int(a[5]) if len(a) == 6 else None
            return make_windows(
                spark.table(a[0]), keys(a[1]), a[2], a[3],
                window=int(a[4]), step=step,
            )
        if op == "cluster":
            if not (4 <= len(a) <= 5):
                raise ValueError(
                    f"sequila_cluster takes (table, on, start, end, "
                    f"[max_gap]), got {a!r}"
                )
            from sequila_native_spark.operators.merge_intervals import (
                cluster_intervals,
            )

            gap = int(a[4]) if len(a) == 5 else 0
            return cluster_intervals(
                spark.table(a[0]), keys(a[1]), a[2], a[3], max_gap=gap
            )
        if op == "map":
            if len(a) != 8:
                raise ValueError(
                    f"sequila_map takes (left, right, on, left_start, "
                    f"left_end, right_start, right_end, "
                    f"'out=op:col;...'), got {a!r}"
                )
            from sequila_native_spark.operators.map_intervals import map_intervals

            return map_intervals(
                spark.table(a[0]), spark.table(a[1]), keys(a[2]),
                a[3], a[4], a[5], a[6], aggs=_parse_map_spec(a[7]),
            )
        if op == "chunk":
            if not (3 <= len(a) <= 5):
                raise ValueError(
                    f"sequila_chunk takes (table, text, id, [size], "
                    f"[overlap]), got {a!r}"
                )
            from sequila_native_spark.functions.chunking import chunk_documents

            return chunk_documents(
                spark.table(a[0]), text_col=a[1], id_col=a[2],
                size=int(a[3]) if len(a) > 3 else 64,
                overlap=int(a[4]) if len(a) > 4 else 8,
            )
        if op == "pack":
            if not (3 <= len(a) <= 6):
                raise ValueError(
                    f"sequila_pack takes (table, text, id, [capacity], "
                    f"[shards], [seed]), got {a!r}"
                )
            from sequila_native_spark.functions.chunking import pack_documents

            return pack_documents(
                spark.table(a[0]), text_col=a[1], id_col=a[2],
                capacity=int(a[3]) if len(a) > 3 else 2048,
                shards=int(a[4]) if len(a) > 4 else 32,
                seed=int(a[5]) if len(a) > 5 else 0,
            )
        if op == "redact":
            if len(a) != 2:
                raise ValueError(
                    f"sequila_redact takes (table, text_col), got {a!r}"
                )
            from sequila_native_spark.functions.pii import redact_pii

            df = spark.table(a[0])
            if a[1] not in df.columns:
                raise ValueError(
                    f"sequila_redact: column {a[1]!r} not in {df.columns}"
                )
            return df.withColumn(a[1], redact_pii(F.col(a[1])))
        if op == "budget":
            if not (5 <= len(a) <= 7):
                raise ValueError(
                    f"sequila_budget takes (table, budget, cost, order, "
                    f"tiebreak, [partition_by], [ascending]), got {a!r}"
                )
            from sequila_native_spark.functions.curation import (
                select_within_budget,
            )

            return select_within_budget(
                spark.table(a[0]), int(a[1]),
                cost_col=a[2], order_col=a[3], tiebreak_col=a[4],
                partition_by=(a[5] or None) if len(a) > 5 else None,
                ascending=(a[6].lower() in ("true", "1", "asc"))
                if len(a) > 6 else False,
            )
        if op == "quality":
            if not (5 <= len(a) <= 7):
                raise ValueError(
                    f"sequila_quality takes (docs, weights, text, id, "
                    f"buckets, [seed], [threshold_milli]), got {a!r}"
                )
            from sequila_native_spark.functions.classify import (
                classify_documents,
            )

            return classify_documents(
                spark.table(a[0]), spark.table(a[1]),
                text_col=a[2], id_col=a[3], buckets=int(a[4]),
                seed=int(a[5]) if len(a) > 5 else 0,
                threshold_milli=int(a[6]) if len(a) > 6 else 0,
            )
        if op == "bpe_count":
            if len(a) != 4:
                raise ValueError(
                    f"sequila_bpe_count takes (docs, merges, text, id), "
                    f"got {a!r}"
                )
            from sequila_native_spark.functions.bpe import bpe_token_count

            # the merge table is MODEL DATA (like sequila_quality's
            # weights): a (left, right, rank) relation, collected bounded
            # (vocab-sized, not corpus-sized) into the ordered merge list
            mrows = (
                spark.table(a[1])
                .select("left", "right", "rank")
                .orderBy("rank", "left", "right")
                .collect()
            )
            ranks = [r["rank"] for r in mrows]
            if len(set(ranks)) != len(ranks):
                # duplicate ranks would make the merge ORDER — and thus the
                # tokenization — nondeterministic across runs (advisor, r6)
                raise ValueError(
                    "sequila_bpe_count: merges table has duplicate rank "
                    "values; merge order would be ambiguous"
                )
            merges = [(r["left"], r["right"]) for r in mrows]
            docs = spark.table(a[0])
            return docs.select(
                F.col(a[3]),
                bpe_token_count(F.col(a[2]), merges).alias("n_bpe_tokens"),
            )
        if op == "corpus_gate":
            if not (4 <= len(a) <= 6):
                raise ValueError(
                    f"sequila_corpus_gate takes (batch, corpus, text, id, "
                    f"[threshold_milli], [hash_family]), got {a!r}"
                )
            from sequila_native_spark.functions.dedup import (
                stream_dedup_against_corpus,
            )

            return stream_dedup_against_corpus(
                spark.table(a[0]), spark.table(a[1]),
                text_col=a[2], id_col=a[3],
                threshold_milli=int(a[4]) if len(a) > 4 else 200,
                hash_family=a[5] if len(a) > 5 else "fast",
            )
        if op == "dsir":
            if not (6 <= len(a) <= 7):
                raise ValueError(
                    f"sequila_dsir takes (raw, target, text, id, buckets, "
                    f"n, [seed]), got {a!r}"
                )
            from sequila_native_spark.functions.dsir import (
                dsir_resample, dsir_score, dsir_weights,
            )

            raw, target = spark.table(a[0]), spark.table(a[1])
            buckets = int(a[4])
            seed = int(a[6]) if len(a) > 6 else 0
            w = dsir_weights(
                raw, target, buckets=buckets, text_col=a[2], seed=seed
            )
            scored = dsir_score(
                raw, w, buckets=buckets, text_col=a[2], id_col=a[3],
                seed=seed,
            )
            return dsir_resample(scored, int(a[5]), id_col=a[3], seed=seed)
        if op == "semdedup":
            if not (3 <= len(a) <= 6):
                raise ValueError(
                    f"sequila_semdedup takes (table, id, vec, [n_cells], "
                    f"[threshold_milli], [seed]), got {a!r}"
                )
            from sequila_native_spark.functions.similarity import (
                semantic_dedup,
            )

            return semantic_dedup(
                spark.table(a[0]), id_col=a[1], vec_col=a[2],
                n_cells=int(a[3]) if len(a) > 3 else 32,
                threshold_milli=int(a[4]) if len(a) > 4 else 950,
                seed=int(a[5]) if len(a) > 5 else 42,
            )
        if op == "balanced":
            if not (5 <= len(a) <= 7):
                raise ValueError(
                    f"sequila_balanced takes (table, id, vec, n_cells, "
                    f"total, [weighting], [seed]), got {a!r}"
                )
            from sequila_native_spark.functions.similarity import (
                cluster_balanced_sample,
            )

            return cluster_balanced_sample(
                spark.table(a[0]), id_col=a[1], vec_col=a[2],
                n_cells=int(a[3]), total=int(a[4]),
                weighting=a[5] if len(a) > 5 else "equal",
                seed=int(a[6]) if len(a) > 6 else 42,
            )
        if op == "embedding_gate":
            if not (4 <= len(a) <= 5):
                raise ValueError(
                    f"sequila_embedding_gate takes (batch, corpus, id, vec, "
                    f"[threshold_milli]), got {a!r}"
                )
            from sequila_native_spark.functions.similarity import (
                embedding_dups_against_corpus,
            )

            return embedding_dups_against_corpus(
                spark.table(a[0]), spark.table(a[1]),
                id_col=a[2], vec_col=a[3],
                threshold_milli=int(a[4]) if len(a) > 4 else 300,
            )
        if op == "dupspans":
            if not (3 <= len(a) <= 5):
                raise ValueError(
                    f"sequila_dupspans takes (table, text, id, [n], "
                    f"[min_count]), got {a!r}"
                )
            from sequila_native_spark.functions.dupspans import (
                duplicated_span_stats,
            )

            return duplicated_span_stats(
                spark.table(a[0]), text_col=a[1], id_col=a[2],
                n=int(a[3]) if len(a) > 3 else 8,
                min_count=int(a[4]) if len(a) > 4 else 2,
            )
        if op == "perplexity":
            if len(a) != 4:
                raise ValueError(
                    f"sequila_perplexity takes (docs, model, text, id), "
                    f"got {a!r}"
                )
            from sequila_native_spark.functions.lm import (
                bigram_lm_from_table,
                perplexity_score,
            )

            # the LM is MODEL DATA (cf. sequila_quality / sequila_bpe_count):
            # a (kind, prev, word, milli) relation, collected bounded
            model = bigram_lm_from_table(spark.table(a[1]))
            return perplexity_score(
                spark.table(a[0]), model, text_col=a[2], id_col=a[3]
            )
        if op == "trigram_perplexity":
            if len(a) != 4:
                raise ValueError(
                    f"sequila_trigram_perplexity takes (docs, model, text, "
                    f"id), got {a!r}"
                )
            from sequila_native_spark.functions.lm import (
                trigram_lm_from_table,
                trigram_perplexity_score,
            )

            tri_model = trigram_lm_from_table(spark.table(a[1]))
            return trigram_perplexity_score(
                spark.table(a[0]), tri_model, text_col=a[2], id_col=a[3]
            )
        if op == "ann_topk":
            if not (8 <= len(a) <= 10):
                raise ValueError(
                    f"sequila_ann_topk takes (queries, index_table, id, "
                    f"vec, k, n_planes, n_tables, seed, "
                    f"[multiprobe_flips], [probe_budget]), got {a!r}"
                )
            from sequila_native_spark.functions.similarity import (
                ann_topk_against_index,
            )

            # index_table stays a NAME: the serving path validates every
            # recorded hashing parameter against the TBLPROPERTIES before
            # the plan is built — the SQL surface inherits the guard
            return ann_topk_against_index(
                spark.table(a[0]), a[1], int(a[4]),
                id_col=a[2], vec_col=a[3],
                n_planes=int(a[5]), n_tables=int(a[6]), seed=int(a[7]),
                multiprobe_flips=int(a[8]) if len(a) > 8 else 0,
                probe_budget=int(a[9]) if len(a) > 9 else None,
            )
        if op == "ivf_topk":
            if len(a) != 7:
                raise ValueError(
                    f"sequila_ivf_topk takes (queries, cells_table, "
                    f"centroids_table, id, vec, k, n_probe), got {a!r}"
                )
            from sequila_native_spark.functions.similarity import (
                ivf_topk_against_index,
            )

            # cells_table stays a NAME (quantizer fingerprint validated);
            # the centroids table is MODEL DATA (cf. sequila_perplexity)
            return ivf_topk_against_index(
                spark.table(a[0]), a[1], spark.table(a[2]), int(a[5]),
                id_col=a[3], vec_col=a[4], n_probe=int(a[6]),
            )
        if op in ("index_stats", "compact", "maintain"):
            if op == "maintain":
                if not (1 <= len(a) <= 2):
                    raise ValueError(
                        f"sequila_maintain takes (index_table, "
                        f"[max_files_per_bucket]), got {a!r}"
                    )
            elif len(a) != 1:
                raise ValueError(
                    f"sequila_{op} takes (index_table), got {a!r}"
                )
            from sequila_native_spark.util import (
                compact_index_table,
                index_table_file_stats,
                maintain_index,
            )

            if op == "maintain":
                rep = maintain_index(
                    spark, a[0],
                    **({"max_files_per_bucket": int(a[1])} if len(a) > 1
                       else {}),
                )
                # fixed schema regardless of outcome: the rewrite-report
                # columns are NULL on the metadata-only no-op path
                return spark.createDataFrame(
                    [(int(rep["compacted"]), rep["n_files"],
                      rep["n_buckets"], rep["max_files_per_bucket"],
                      float(rep["mean_files_per_bucket"]),
                      rep.get("files_before"), rep.get("files_after"),
                      rep.get("rows"))],
                    "`compacted` bigint, `n_files` bigint, "
                    "`n_buckets` bigint, `max_files_per_bucket` bigint, "
                    "`mean_files_per_bucket` double, `files_before` bigint, "
                    "`files_after` bigint, `rows` bigint",
                )
            stats = (compact_index_table if op == "compact"
                     else index_table_file_stats)(spark, a[0])
            return spark.createDataFrame(
                [tuple(stats[k] for k in sorted(stats))],
                ", ".join(f"`{k}` {'double' if isinstance(stats[k], float) else 'bigint'}"
                          for k in sorted(stats)),
            )
        if op == "ivf_cells":
            if len(a) != 1:
                raise ValueError(
                    f"sequila_ivf_cells takes (cells_table), got {a!r}"
                )
            from sequila_native_spark.functions.similarity import ivf_cell_stats

            return ivf_cell_stats(a[0], spark=spark)
        if op == "span_removal":
            if not (3 <= len(a) <= 5):
                raise ValueError(
                    f"sequila_span_removal takes (table, text, id, [n], "
                    f"[min_count]), got {a!r}"
                )
            from sequila_native_spark.functions.dupspans import (
                remove_duplicate_spans,
            )

            return remove_duplicate_spans(
                spark.table(a[0]), text_col=a[1], id_col=a[2],
                n=int(a[3]) if len(a) > 3 else 8,
                min_count=int(a[4]) if len(a) > 4 else 2,
            )
        if op == "decontaminate":
            if not (4 <= len(a) <= 5):
                raise ValueError(
                    f"sequila_decontaminate takes (docs, benchmark, text, "
                    f"id, [n]), got {a!r}"
                )
            from sequila_native_spark.functions.decontam import decontaminate

            return decontaminate(
                spark.table(a[0]), spark.table(a[1]),
                text_col=a[2], id_col=a[3],
                n=int(a[4]) if len(a) == 5 else 8,
            )
        if op in ("merge", "complement", "depth_histogram"):
            if not (4 <= len(a) <= (5 if op == "merge" else 4)):
                raise ValueError(
                    f"sequila_{op} takes (table, on, start, end"
                    f"{', [max_gap]' if op == 'merge' else ''}), got {a!r}"
                )
            df = spark.table(a[0])
            if op == "merge":
                gap = int(a[4]) if len(a) == 5 else 0
                return merge_intervals(df, keys(a[1]), a[2], a[3], max_gap=gap)
            if op == "complement":
                return complement_intervals(df, keys(a[1]), a[2], a[3])
            return depth_histogram(df, keys(a[1]), a[2], a[3])
        if len(a) != 7:
            raise ValueError(
                f"sequila_{op} takes (left, right, on, left_start, left_end, "
                f"right_start, right_end), got {a!r}"
            )
        from sequila_native_spark.operators.merge_intervals import (
            subtract_intervals,
        )

        fn = {
            "count_overlaps": count_overlaps,
            "coverage": coverage,
            "subtract": subtract_intervals,
        }[op]
        return fn(
            spark.table(a[0]), spark.table(a[1]), keys(a[2]),
            a[3], a[4], a[5], a[6],
        )

    # Rewrite only matches in CODE position: a sequila_*(...) inside a
    # string literal or comment is text, and eagerly building views for it
    # would corrupt the query (advisor finding, r4).
    masked = _literal_comment_spans(sql)

    def in_masked(pos: int) -> bool:
        return any(a <= pos < b for a, b in masked)

    i = 0
    out = []
    last = 0
    for m in _TVF.finditer(sql):
        if in_masked(m.start()):
            continue
        op = m.group(1).lower()
        df = build(op, _tvf_args(m.group(2)))
        view = f"__sequila_tvf_{op}_{i}"
        i += 1
        df.createOrReplaceTempView(view)
        out.append(sql[last:m.start()])
        out.append(view)
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def sequila_sql(spark: SparkSession, sql: str, *, bin_width: int | None = None) -> DataFrame:
    """``spark.sql`` with interval-join acceleration (reference CLI parity).

    A recognized 2-conjunct range join (``sequila_physical_planner.rs:46-89``
    surface) runs as the binned equi-join; anything else runs verbatim.
    Under ``SET sequila.interval_join_algorithm TO CoitreesNearest`` a
    recognized join runs with nearest semantics (right-side columns renamed
    ``_r`` on collision — Spark frames cannot carry the duplicate names the
    reference prints).

    ``sequila_merge`` / ``sequila_complement`` / ``sequila_depth_histogram``
    / ``sequila_count_overlaps`` / ``sequila_coverage`` / ``sequila_subtract``
    / ``sequila_makewindows`` / ``sequila_cluster`` / ``sequila_map`` table
    functions in FROM position route to the corresponding operators (see
    :func:`expand_sequila_tvfs`) — SQL reach for the operator surface the
    reference keeps API-only. ``sequila_map``'s last argument is the
    aggregate spec, e.g. ``'n=count;total=sum:score'``.
    """
    sql = expand_sequila_tvfs(spark, sql)
    text = _blank_comments(sql)
    mode = SequilaConf.from_spark(spark).join_mode
    if mode == "nearest":
        df = _nearest_from_sql(spark, text)
        if df is not None:
            return df
    rewritten = rewrite_interval_sql(spark, text, bin_width=bin_width)
    if mode == "count_overlaps" and rewritten is not None:
        raise ValueError(
            "CoitreesCountOverlaps is broken and untested in the reference "
            "(SURVEY §2A A6); use sequila_native_spark.count_overlaps(...) "
            "instead"
        )
    return spark.sql(rewritten if rewritten is not None else sql)


# ---------------------------------------------------------------------------
# Script runner: execute the reference's .sql files verbatim
# ---------------------------------------------------------------------------
#
# The reference drives benchmarks through datafusion-cli scripts
# (``queries/q1-coitrees.sql:1-14``): SET sequila.* / SET datafusion.* knobs,
# CREATE EXTERNAL TABLE … STORED AS CSV … OPTIONS ('delimiter' '\t', …),
# then the SELECT. ``run_sql_script`` executes that text end-to-end:
# statements split on top-level semicolons, SET sequila.* mapped onto
# ``spark.sequila.*`` (snake_case → camelCase), SET datafusion.* ignored
# (engine-specific), CREATE EXTERNAL TABLE translated to a schema'd
# ``spark.read.csv``/``parquet`` temp view, queries routed through
# :func:`sequila_sql` so the interval rewrite still fires.

_SET_STMT = re.compile(
    r"^SET\s+([\w.]+)\s+(?:TO|=)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_CET_STMT = re.compile(
    r"^CREATE\s+EXTERNAL\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
    r"(?:\((?P<cols>.*?)\)\s*)?"  # optional — self-describing formats
    r"STORED\s+AS\s+(?P<fmt>\w+)\s+"
    r"LOCATION\s+'(?P<loc>[^']+)'"
    r"(?:\s*OPTIONS\s*\((?P<opts>.*?)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_OPT_PAIR = re.compile(r"'((?:[^'\\]|\\.)*)'\s+'((?:[^'\\]|\\.)*)'")

_SQL_TYPES = {
    "VARCHAR": "string", "STRING": "string", "TEXT": "string", "CHAR": "string",
    "BIGINT": "long", "LONG": "long", "INT": "int", "INTEGER": "int",
    "SMALLINT": "short", "TINYINT": "byte",
    "DOUBLE": "double", "FLOAT": "float", "REAL": "float",
    "BOOLEAN": "boolean", "DATE": "date", "TIMESTAMP": "timestamp",
}

# sequila.<snake> → spark.sequila.<camel> (session_context.rs:29-49 knobs)
def _camel(snake: str) -> str:
    head, *rest = snake.split("_")
    return head + "".join(w.capitalize() for w in rest)


def _split_statements(script: str) -> list[str]:
    """Split on semicolons outside single-quoted strings; strip -- comments."""
    lines = []
    for line in script.splitlines():
        # cut -- comments not inside quotes (count preceding quotes)
        idx, search = -1, 0
        while True:
            idx = line.find("--", search)
            if idx < 0:
                break
            if line.count("'", 0, idx) % 2 == 0:
                line = line[:idx]
                break
            search = idx + 2
        lines.append(line)
    text = "\n".join(lines)
    out, cur, in_q = [], [], False
    for ch in text:
        if ch == "'":
            in_q = not in_q
        if ch == ";" and not in_q:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [s.strip() for s in out if s.strip()]


def _unescape(s: str) -> str:
    return s.replace("\\t", "\t").replace("\\n", "\n").replace("\\'", "'")


def _create_external_table(spark: SparkSession, m: re.Match, base_dir: str | None):
    import os

    name = m.group(1)
    fields = []
    for coldef in _split_top_commas(m.group("cols") or ""):
        parts = coldef.split()
        if len(parts) < 2:
            raise ValueError(f"cannot parse column definition {coldef!r}")
        cname, ctype = parts[0].strip('"`'), parts[1].upper()
        ctype = re.sub(r"\(.*", "", ctype)  # VARCHAR(10) → VARCHAR
        if ctype not in _SQL_TYPES:
            raise ValueError(f"unsupported column type {ctype!r} in {coldef!r}")
        nullable = "NOT NULL" not in coldef.upper()
        fields.append(f"{cname} {_SQL_TYPES[ctype]}" + ("" if nullable else " not null"))
    schema = ", ".join(f.replace(" not null", "") for f in fields)

    loc = m.group("loc")
    if base_dir is not None and not os.path.isabs(loc):
        loc = os.path.join(base_dir, loc)
    opts = dict(
        (k.lower(), _unescape(v))
        for k, v in _OPT_PAIR.findall(m.group("opts") or "")
    )
    fmt = m.group("fmt").upper()
    if fmt == "CSV":
        df = spark.read.csv(
            loc,
            sep=opts.get("delimiter", ","),
            header=opts.get("has_header", "false").lower() == "true",
            # no column list → infer, like datafusion-cli does
            schema=schema or None,
            inferSchema=not schema,
        )
    elif fmt == "PARQUET":
        df = spark.read.parquet(loc)
    else:
        raise ValueError(f"unsupported STORED AS format {fmt!r} (CSV/PARQUET)")
    df.createOrReplaceTempView(name)


def run_sql_script(
    spark: SparkSession,
    script: str,
    *,
    base_dir: str | None = None,
    bin_width: int | None = None,
) -> DataFrame | None:
    """Execute a reference-style ``.sql`` script; return the last query result.

    ``base_dir`` resolves relative ``LOCATION`` paths (the reference scripts
    use paths relative to the repo root). Unknown ``SET`` namespaces
    (``datafusion.*``) are ignored — they tune the other engine.
    """
    result: DataFrame | None = None
    for stmt in _split_statements(script):
        m = _SET_STMT.match(stmt)
        if m:
            key, value = m.group(1), m.group(2).strip().strip("'\"")
            if key.lower().startswith("sequila."):
                spark.conf.set("spark.sequila." + _camel(key[len("sequila."):]), value)
            elif key.lower().startswith("datafusion."):
                pass  # other engine's knob — no Spark analogue
            else:
                spark.sql(stmt)  # plain Spark SET
            continue
        m = _CET_STMT.match(stmt)
        if m:
            _create_external_table(spark, m, base_dir)
            continue
        result = sequila_sql(spark, stmt, bin_width=bin_width)
    return result


def run_sql_file(
    spark: SparkSession,
    path: str,
    *,
    base_dir: str | None = None,
    bin_width: int | None = None,
) -> DataFrame | None:
    """``run_sql_script`` over a file; LOCATIONs resolve against its dir
    unless ``base_dir`` is given."""
    import os

    with open(path) as f:
        text = f.read()
    if base_dir is None:
        base_dir = os.path.dirname(os.path.abspath(path))
    return run_sql_script(spark, text, base_dir=base_dir, bin_width=bin_width)
