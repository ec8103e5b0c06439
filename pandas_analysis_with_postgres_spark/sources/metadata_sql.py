"""Metadata-answered SQL: route manifest-provable ``SELECT``s on
snapshot tables to the :mod:`sources.snapshot` manifest layer — the
optimizer rule warehouses apply before ever scheduling a scan (Spark
itself does this only for COUNT(*) over some V2 sources; Iceberg/Delta
answer from manifest numRecords). At 100 TB the difference is a driver
JSON read vs a cluster-wide scan for a poll a dashboard issues every
minute.

A metadata answerer must refuse what it cannot prove, never
approximate it: every statement outside the shapes below returns
``None`` and the caller falls back to a real scan. The grammar
(:func:`parse_metadata_select`) is strict; answering is three steps.

1. **Resolve** (:func:`_resolve_table`): one manifest read, pinned —
   the statement's ``FOR VERSION/TIMESTAMP AS OF`` (Delta/Iceberg
   syntax, timestamps via :func:`snapshot.resolve_as_of`), the
   caller's version, or else the newest version it read, so a commit
   landing mid-statement cannot mix two snapshots in one answer. Types
   are the table's LOGICAL schema: the rename chain applied, dropped
   columns gone.
2. **Fold** (:func:`snapshot._manifest_fold`): the WHERE normaliser
   (:func:`_restriction`) turns ``pcol = lit``, ``pcol IN (…)`` and
   their conjunctions over spec components into one partition
   restriction, and ``col IS [NOT] NULL`` (optionally member-
   restricted) into a null predicate; the GROUP BY list names spec
   components (one or several — a composite-partition rollup). One
   pass over the live partitions then serves every item:
   ``COUNT(*)`` from ``::n_rows``, ``COUNT(col)`` from recorded null
   counts, ``COUNT(DISTINCT pcol)`` from the live directory names,
   ``SUM``/``AVG`` from ``col::sum`` pairs, ``MIN``/``MAX`` from
   ``stats_cols`` entries (partition names for spec columns),
   ``APPROX_COUNT_DISTINCT`` from ``::hll`` registers and
   ``APPROX_QUANTILE(col, p)`` from ``::hist:<width>`` buckets. Under a
   null predicate COUNT(*) is the column's null-skipping count (or live
   rows minus it) and only same-column aggregates are provable. The
   fold raises on anything unprovable — layout-mixed tables,
   tombstoned partitions under a value item, missing stats, dropped
   columns — and the statement refuses.
3. **Assemble** (:func:`_assemble_grouped`): scan-identical types
   (MIN of a date column is a DATE, not the manifest's ISO string),
   then ``HAVING <alias> <op> <num>`` and ``ORDER BY <output alias>
   [ASC|DESC] [LIMIT n]`` — provable because the full group set exists
   before filtering or ordering (ties break by the group columns
   ascending). ``SELECT DISTINCT pcol`` parses as ``GROUP BY pcol``.

Range predicates (``col <op> lit``, ``BETWEEN``, optionally conjoined
with ``pcol = lit``) answer COUNT(*) from the manifest only when every
partition's [min, max] proves it fully inside or outside the range
(:func:`snapshot.manifest_range_count`). Partial overlap, other items
under a range, OR-windows, IN/conj + range and range + NULL predicates
belong to the separate, caller-opted HYBRID tier
(:func:`hybrid_range_count`), which scans only the boundary;
:func:`explain_metadata_sql` reports which tier serves a statement.
``extract_as_of`` strips a time-travel clause for callers that fall
back to a real scan and must pin the view themselves (the CLI).
"""

from __future__ import annotations

import datetime
import json
import re

from pyspark.sql import DataFrame, SparkSession

from .snapshot import (
    _logical_name,
    _manifest_fold,
    manifest_range_count,
    read_manifest,
)

_STMT = re.compile(
    r"^\s*SELECT\s+(?:(?P<distinct>DISTINCT)\s+)?"
    r"(?P<items>.+?)\s+FROM\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+FOR\s+(?:VERSION\s+AS\s+OF\s+(?P<asof_v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<asof_ts>[^']*)'))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<gcol>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*))?"
    r"(?:\s+HAVING\s+(?P<hcol>[A-Za-z_]\w*)\s*"
    r"(?P<hop><=|>=|<>|=|<|>)\s*(?P<hval>-?\d+(?:\.\d+)?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<ocol>[A-Za-z_]\w*)"
    r"(?:\s+(?P<odir>ASC|DESC))?)?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: Standalone time-travel clause matcher for ARBITRARY statements (the
#: CLI strips it and pins the scan view when the strict grammar
#: refuses) — Delta/Iceberg's SQL time-travel syntax.
_AS_OF = re.compile(
    r"\s+FOR\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']*)')",
    re.IGNORECASE,
)


def extract_as_of(sql: str) -> "tuple[str, dict | None]":
    """Strip one ``FOR VERSION/TIMESTAMP AS OF`` clause from an
    arbitrary statement, returning ``(clean_sql, {"version": n} |
    {"timestamp": s} | None)``. Multiple clauses raise (one table, one
    pin — multi-table time travel needs the API)."""
    # Quote-state guard: a FOR ... AS OF sequence INSIDE a single-quoted
    # string literal (WHERE note = 'FOR VERSION AS OF 3') is data, not a
    # time-travel pin. SQL escapes quotes by doubling (''), which keeps
    # the parity rule exact: a position is inside a literal iff an odd
    # number of quotes precede it.
    hits = [
        m
        for m in _AS_OF.finditer(sql)
        if sql.count("'", 0, m.start()) % 2 == 0
    ]
    if not hits:
        return sql, None
    if len(hits) > 1:
        raise ValueError(
            "multiple FOR ... AS OF clauses — pin one table per "
            "statement (use read_snapshot/register_snapshot_view for "
            "multi-table time travel)"
        )
    m = hits[0]
    spec = (
        {"version": int(m.group("v"))}
        if m.group("v") is not None
        else {"timestamp": m.group("ts")}
    )
    return sql[: m.start()] + sql[m.end():], spec
_ITEM = re.compile(
    r"^\s*(?:COUNT\s*\(\s*\*\s*\)"
    r"|(?P<cdn>COUNT)\s*\(\s*DISTINCT\s+(?P<cdncol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<cnt>COUNT)\s*\(\s*(?P<cntcol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<adc>APPROX_COUNT_DISTINCT)\s*\(\s*(?P<adccol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<aq>APPROX_QUANTILE)\s*\(\s*(?P<aqcol>[A-Za-z_]\w*)\s*,\s*(?P<aqp>\d+)\s*\)"
    r"|(?P<sa>SUM|AVG)\s*\(\s*(?P<sacol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<fn>MIN|MAX)\s*\(\s*(?P<col>[A-Za-z_]\w*)\s*\)"
    r"|(?P<bare>[A-Za-z_]\w*))"
    r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)
_LIT = r"(?:'[^']*'|-?\d+(?:\.\d+)?|true|false)"
_W_EQ = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s*=\s*(?P<val>{_LIT})\s*$",
    re.IGNORECASE,
)
_W_IN = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s+IN\s*\(\s*(?P<vals>{_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s*$",
    re.IGNORECASE,
)
_LIT_RE = re.compile(_LIT)
_W_CMP = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})\s*$",
    re.IGNORECASE,
)
_W_BETWEEN = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<lo>{_LIT})\s+AND\s+(?P<hi>{_LIT})\s*$",
    re.IGNORECASE,
)
#: NULL-membership shape: the null-rate dashboard predicate. COUNT(*)
#: under IS NULL is the recorded per-partition null count summed;
#: under IS NOT NULL it is COUNT(col); same-column aggregates under
#: IS NOT NULL are the plain aggregates (SQL aggregates skip NULLs)
#: and under IS NULL are provable constants (0 / NULL).
_W_NULL = re.compile(
    r"^\s*(?P<col>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)

#: Conjunctive NULL-membership: partition equality / IN-membership
#: AND a NULL predicate — "today's null rate". Strictly eq/IN-first.
_W_EQ_NULL = re.compile(
    rf"^\s*(?P<ecol>[A-Za-z_]\w*)\s*=\s*(?P<eval>{_LIT})\s+AND\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)
_W_IN_NULL = re.compile(
    rf"^\s*(?P<icol>[A-Za-z_]\w*)\s+IN\s*\(\s*"
    rf"(?P<ivals>{_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s+AND\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)

#: Disjunctive window shape: two or more closed BETWEENs on the SAME
#: column OR-ed together — "this week OR the same week last year".
#: Served by the hybrid tier as a union of disjoint intervals (each
#: classified and boundary-scanned independently after merging
#: overlaps); open-ended comparisons in a disjunct refuse to the scan.
#: Range conjoined with a NULL predicate — "COUNT(*) WHERE latency >
#: 500 AND user_id IS NULL" (the data-quality drill-down on a window).
#: Strictly range-first; hybrid-tier only (r9 verdict ask #6b).
_W_RANGE_NULL = re.compile(
    rf"^\s*(?:(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})"
    rf"|(?P<bcol>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<blo>{_LIT})\s+AND\s+(?P<bhi>{_LIT}))"
    rf"\s+AND\s+(?P<ncol>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)

_W_OR_RANGE = re.compile(
    rf"^\s*[A-Za-z_]\w*\s+BETWEEN\s+{_LIT}\s+AND\s+{_LIT}"
    rf"(?:\s+OR\s+[A-Za-z_]\w*\s+BETWEEN\s+{_LIT}\s+AND\s+{_LIT})+\s*$",
    re.IGNORECASE,
)
_OR_SPLIT = re.compile(r"\s+OR\s+", re.IGNORECASE)
_AND_SPLIT = re.compile(r"\s+AND\s+", re.IGNORECASE)
#: a conjunct CUT SHORT by the split: "col BETWEEN lit" missing its
#: upper bound — the following piece is BETWEEN's own AND-operand
_BTW_DANGLING = re.compile(rf"\bBETWEEN\s+{_LIT}\s*$", re.IGNORECASE)


def _split_and(wtext: str) -> list:
    """Split a WHERE on conjunction ANDs, stitching back the AND that
    belongs to a BETWEEN (``v BETWEEN 100 AND 300`` is ONE atom)."""
    raw = _AND_SPLIT.split(wtext)
    out, i = [], 0
    while i < len(raw):
        p = raw[i]
        if _BTW_DANGLING.search(p) and i + 1 < len(raw):
            p = p + " AND " + raw[i + 1]
            i += 2
        else:
            i += 1
        out.append(p)
    return out


def _parse_conjrange(wtext: str) -> "tuple | None":
    """Parse ``m1 = … AND m2 IN (…) AND col <range>`` — ≥2 eq/IN atoms
    on DISTINCT columns plus exactly ONE range/BETWEEN atom, in any
    order (the 1+1 shapes keep their dedicated eqrange/inrange kinds).
    Returns ``(members, (rng_col, lo, hi, lo_strict, hi_strict))`` or
    None."""
    parts = _split_and(wtext)
    if len(parts) < 3:
        return None
    members, rng, seen = [], None, set()
    for p in parts:
        if (em := _W_EQ.match(p)) is not None:
            col, vals = em.group("col"), [em.group("val")]
        elif (im_ := _W_IN.match(p)) is not None:
            col = im_.group("col")
            vals = [v.group(0) for v in _LIT_RE.finditer(im_.group("vals"))]
        elif (cm := _W_CMP.match(p)) is not None:
            if rng is not None:
                return None  # two ranges: scan decides
            op, val = cm.group("op"), cm.group("val")
            rng = (cm.group("col"),) + (
                (None, val, False, op == "<")
                if op in ("<", "<=")
                else (val, None, op == ">", False)
            )
            continue
        elif (bm := _W_BETWEEN.match(p)) is not None:
            if rng is not None:
                return None
            rng = (bm.group("col"), bm.group("lo"), bm.group("hi"),
                   False, False)
            continue
        else:
            return None
        if col.lower() in seen:
            return None
        seen.add(col.lower())
        members.append((col, vals))
    if rng is None or len(members) < 2 or rng[0].lower() in seen:
        return None
    return members, rng


def _parse_conj(wtext: str) -> "list | None":
    """Parse a conjunction of ≥2 eq / IN atoms on DISTINCT columns —
    ``day = 'd1' AND source IN ('web','api')`` — the multi-component
    restriction of a multi-column partition spec. Returns
    ``[(col, [raw literals]), …]`` or None (any non-eq/IN atom, a
    repeated column, or a literal containing ' AND ' that the naive
    split corrupts simply fails to match → the caller scans)."""
    parts = _split_and(wtext)
    if len(parts) < 2:
        return None
    out, seen = [], set()
    for p in parts:
        if (em := _W_EQ.match(p)) is not None:
            col, vals = em.group("col"), [em.group("val")]
        elif (im_ := _W_IN.match(p)) is not None:
            col = im_.group("col")
            vals = [v.group(0) for v in _LIT_RE.finditer(im_.group("vals"))]
        else:
            return None
        if col.lower() in seen:
            return None  # repeated column: scan decides
        seen.add(col.lower())
        out.append((col, vals))
    return out

#: Conjunctive dashboard shape: partition equality AND one range —
#: "COUNT(*) WHERE day = '2026-08-01' AND latency > 500". Strictly
#: eq-first (the reverse order refuses to the scan).
_W_EQ_RANGE = re.compile(
    rf"^\s*(?P<ecol>[A-Za-z_]\w*)\s*=\s*(?P<eval>{_LIT})\s+AND\s+"
    rf"(?:(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})"
    rf"|(?P<bcol>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<blo>{_LIT})\s+AND\s+(?P<bhi>{_LIT}))\s*$",
    re.IGNORECASE,
)
#: Conjunctive IN-membership AND one range — "COUNT(*) WHERE day IN
#: ('2026-08-01', '2026-08-02') AND latency > 500". Strictly IN-first.
_W_IN_RANGE = re.compile(
    rf"^\s*(?P<icol>[A-Za-z_]\w*)\s+IN\s*\(\s*"
    rf"(?P<ivals>{_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s+AND\s+"
    rf"(?:(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})"
    rf"|(?P<bcol>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<blo>{_LIT})\s+AND\s+(?P<bhi>{_LIT}))\s*$",
    re.IGNORECASE,
)
# keywords that must not be mistaken for a bare select column (the
# items split sees only commas, so these cannot appear there anyway,
# but guard the bare-column path against e.g. "SELECT all FROM t")
_KEYWORDS = {
    "select", "from", "where", "group", "by", "and", "between",
    "distinct", "having",
}


def parse_metadata_select(sql: str) -> "dict | None":
    """Parse ``sql`` against the strict metadata-answerable grammar.
    Returns ``{"table", "items": [(kind, col, alias)], "where",
    "group_by"}`` — kind is ``count``/``min``/``max``/``group`` (col
    is None for count, the grouped column for ``group``); ``where`` is
    ``None``, ``("eq", col, raw)`` or ``("range", col, lo, hi,
    lo_strict, hi_strict)`` with raw literal strings — or ``None`` if
    the statement is not provably metadata-answerable."""
    m = _STMT.match(sql)
    if not m:
        return None
    gcol = m.group("gcol")
    if m.group("distinct") is not None:
        # SELECT DISTINCT pcol ≡ SELECT pcol GROUP BY pcol — rewrite
        # to the grouped form so form 3 serves it unchanged (zero data
        # pages: the live partition list IS the distinct value set).
        # Strictly ONE bare column; DISTINCT over aggregates or
        # combined with an explicit GROUP BY refuses to the scan.
        if gcol is not None:
            return None
        dm = re.match(
            r"^\s*(?P<col>[A-Za-z_]\w*)"
            r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s*$",
            m.group("items"),
            re.IGNORECASE,
        )
        if dm is None or dm.group("col").lower() in _KEYWORDS:
            return None
        gcol = dm.group("col")
    # GROUP BY may name SEVERAL spec components (comma list): the
    # composite-partition rollup of a multi-column spec
    gcols = (
        [c.strip() for c in gcol.split(",")] if gcol is not None else None
    )
    if gcols is not None and len({c.lower() for c in gcols}) != len(gcols):
        return None  # repeated group column: scan decides
    items = []
    n_bare = 0
    # split the select list on TOP-LEVEL commas only — the comma
    # inside APPROX_QUANTILE(col, p) is part of one item
    parts, depth, buf = [], 0, []
    for ch in m.group("items"):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    for raw in parts:
        im = _ITEM.match(raw)
        if not im:
            return None
        bare = im.group("bare")
        if bare is not None:
            # a bare column is only legal as A grouped column
            if (
                gcols is None
                or bare.lower() not in {c.lower() for c in gcols}
                or bare.lower() in _KEYWORDS
            ):
                return None
            n_bare += 1
            items.append(("group", bare, im.group("alias") or bare))
            continue
        if im.group("sa") is not None:
            kind = im.group("sa").lower()
            col = im.group("sacol")
            items.append(
                (kind, col, im.group("alias") or f"{kind}_{col}")
            )
            continue
        if im.group("cdn") is not None:
            col = im.group("cdncol")
            items.append(
                (
                    "cdistinct",
                    col,
                    im.group("alias") or f"count_distinct_{col}",
                )
            )
            continue
        if im.group("cnt") is not None:
            col = im.group("cntcol")
            items.append(
                ("countcol", col, im.group("alias") or f"count_{col}")
            )
            continue
        if im.group("adc") is not None:
            col = im.group("adccol")
            items.append(
                ("approx", col, im.group("alias") or f"approx_distinct_{col}")
            )
            continue
        if im.group("aq") is not None:
            col, qp = im.group("aqcol"), int(im.group("aqp"))
            items.append(
                ("quantile", (col, qp),
                 im.group("alias") or f"approx_q{qp}_{col}")
            )
            continue
        fn = (im.group("fn") or "count").lower()
        col = im.group("col")
        default = "count_star" if fn == "count" else f"{fn}_{col}"
        items.append((fn, col, im.group("alias") or default))
    aliases = [a for _, _, a in items]
    if len(set(aliases)) != len(aliases):
        return None  # ambiguous output names — let a real engine error
    as_of = None
    if m.group("asof_v") is not None:
        as_of = {"version": int(m.group("asof_v"))}
    elif m.group("asof_ts") is not None:
        as_of = {"timestamp": m.group("asof_ts")}
    where = None
    if m.group("where") is not None:
        wtext = m.group("where")
        if (em := _W_EQ.match(wtext)) is not None:
            where = ("eq", em.group("col"), em.group("val"))
        elif (im_ := _W_IN.match(wtext)) is not None:
            vals = [v.group(0) for v in _LIT_RE.finditer(im_.group("vals"))]
            where = ("in", im_.group("col"), vals)
        elif (cm := _W_CMP.match(wtext)) is not None:
            op, val = cm.group("op"), cm.group("val")
            if op in ("<", "<="):
                where = ("range", cm.group("col"), None, val, False, op == "<")
            else:
                where = ("range", cm.group("col"), val, None, op == ">", False)
        elif (bm := _W_BETWEEN.match(wtext)) is not None:
            where = (
                "range",
                bm.group("col"),
                bm.group("lo"),
                bm.group("hi"),
                False,
                False,
            )
        elif (nm := _W_NULL.match(wtext)) is not None:
            where = ("isnull", nm.group("col"), nm.group("not") is not None)
        elif (enm := _W_EQ_NULL.match(wtext)) is not None:
            where = (
                "eqnull",
                enm.group("ecol"),
                [enm.group("eval")],
                enm.group("col"),
                enm.group("not") is not None,
            )
        elif (inm := _W_IN_NULL.match(wtext)) is not None:
            where = (
                "eqnull",
                inm.group("icol"),
                [v.group(0) for v in _LIT_RE.finditer(inm.group("ivals"))],
                inm.group("col"),
                inm.group("not") is not None,
            )
        elif (rnm := _W_RANGE_NULL.match(wtext)) is not None:
            if rnm.group("col") is not None:
                op, val = rnm.group("op"), rnm.group("val")
                rng = (
                    (None, val, False, op == "<")
                    if op in ("<", "<=")
                    else (val, None, op == ">", False)
                )
                rcol = rnm.group("col")
            else:
                rng = (rnm.group("blo"), rnm.group("bhi"), False, False)
                rcol = rnm.group("bcol")
            where = ("rangenull", rcol) + rng + (
                rnm.group("ncol"),
                rnm.group("not") is not None,
            )
        elif _W_OR_RANGE.match(wtext) is not None:
            col0, ivs = None, []
            for part in _OR_SPLIT.split(wtext):
                pm = _W_BETWEEN.match(part)
                if pm is None:
                    return None
                if col0 is None:
                    col0 = pm.group("col")
                elif pm.group("col") != col0:
                    return None  # disjuncts on different columns: scan
                ivs.append((pm.group("lo"), pm.group("hi")))
            where = ("orrange", col0, ivs)
        elif (erm := _W_EQ_RANGE.match(wtext)) is not None:
            if erm.group("col") is not None:
                op, val = erm.group("op"), erm.group("val")
                rng = (
                    (None, val, False, op == "<")
                    if op in ("<", "<=")
                    else (val, None, op == ">", False)
                )
            else:
                rng = (erm.group("blo"), erm.group("bhi"), False, False)
            where = (
                "eqrange",
                erm.group("ecol"),
                erm.group("eval"),
            ) + rng + (erm.group("bcol") or erm.group("col"),)
        elif (irm := _W_IN_RANGE.match(wtext)) is not None:
            if irm.group("col") is not None:
                op, val = irm.group("op"), irm.group("val")
                rng = (
                    (None, val, False, op == "<")
                    if op in ("<", "<=")
                    else (val, None, op == ">", False)
                )
            else:
                rng = (irm.group("blo"), irm.group("bhi"), False, False)
            vals = [
                v.group(0) for v in _LIT_RE.finditer(irm.group("ivals"))
            ]
            where = (
                "inrange",
                irm.group("icol"),
                vals,
            ) + rng + (irm.group("bcol") or irm.group("col"),)
        elif (cr := _parse_conjrange(wtext)) is not None:
            # ≥2 eq/IN atoms + ONE range: the multi-component hybrid
            # shape (day = x AND source = y AND cents BETWEEN a AND b)
            members, rng = cr
            where = ("conjrange", members) + rng[1:] + (rng[0],)
        elif (conj := _parse_conj(wtext)) is not None:
            # conjunction of eq/IN atoms on DISTINCT columns — each
            # restricts its own directory level of a multi-column spec
            where = ("conj", conj)
        else:
            return None  # unsupported predicate: scan
    if gcols is not None:
        if n_bare != len(gcols):
            return None  # every grouped column must appear in the list
        if any(k == "cdistinct" for k, _, _ in items):
            # COUNT(DISTINCT) per group: only the degenerate
            # COUNT(DISTINCT pcol) GROUP BY pcol (= 1 per group) would
            # be provable — not worth a special case; scan decides
            return None
        if len(gcols) > 1:
            # composite GROUP BY: the multi-group answerer serves
            # count/sum/avg/min/max under no WHERE or an eq/IN/conj
            # partition restriction; everything else scans
            if any(
                k not in ("group", "count", "sum", "avg", "min", "max")
                for k, _, _ in items
            ):
                return None
            if where is not None and where[0] not in ("eq", "in", "conj"):
                return None
        elif where is not None and where[0] not in (
            "eq", "in", "range", "inrange", "orrange", "isnull", "eqnull",
            "conj", "conjrange",
        ):
            return None  # eqrange + GROUP BY: the member IS the group
        if where is not None and where[0] in ("isnull", "eqnull"):
            # grouped NULL predicate: per-group null/non-null COUNTs
            # only — other aggregates over the null-filtered rows are
            # cross-column unprovable; scan decides
            if any(k not in ("group", "count") for k, _, _ in items):
                return None
        if where is not None and where[0] in (
            "range", "inrange", "orrange", "conjrange",
        ):
            # range / disjunctive windows + GROUP BY parse ONLY when
            # the grouped hybrid tier can serve every item
            # (count/sum/avg/min/max); the pure-metadata answerer
            # refuses them at answer time
            if any(
                k not in ("group", "count", "sum", "avg", "min", "max")
                for k, _, _ in items
            ):
                return None
    if where is not None and where[0] in (
        "range", "eqrange", "inrange", "orrange", "conjrange"
    ):
        # The MANIFEST proof covers COUNT(*) only (clipped extremes /
        # range-restricted sketches are unprovable), but any list of
        # COUNT(*)/SUM/AVG/MIN/MAX items still PARSES so the hybrid
        # boundary-scan tier can serve it — any item list via one
        # shared range_multi_pruned pass; the metadata answerer
        # refuses them at answer time. Sketch items (NDV/quantile/COUNT(col))
        # refuse here as before: no prover serves them under a range.
        if any(
            k in ("approx", "quantile", "countcol", "cdistinct")
            for k, _, _ in items
        ):
            return None
    if where is not None and where[0] == "rangenull":
        # range AND NULL-predicate conjunction: COUNT(*) only (the
        # hybrid tier's cross-column proof covers nothing else)
        if any(k != "count" for k, _, _ in items):
            return None
    having = None
    if m.group("hcol") is not None:
        if gcol is None:
            return None  # HAVING without GROUP BY: scan decides/errors
        hraw = m.group("hval")
        having = (
            m.group("hcol"),
            m.group("hop"),
            float(hraw) if "." in hraw else int(hraw),
        )
    order_by = None
    if m.group("ocol") is not None:
        if gcol is None:
            return None  # ORDER BY on a 1-row answer: meaningless, scan
        order_by = (
            m.group("ocol"),
            (m.group("odir") or "ASC").upper() == "DESC",
        )
    limit = None
    if m.group("limit") is not None:
        if order_by is None:
            return None  # LIMIT without ORDER BY is nondeterministic
        limit = int(m.group("limit"))
    return {
        "table": m.group("table"),
        "items": items,
        "where": where,
        "group_by": (
            gcols[0] if gcols is not None and len(gcols) == 1 else gcols
        ),
        "having": having,
        "order_by": order_by,
        "limit": limit,
        "as_of": as_of,
    }


def _canonical_date(raw: str) -> str:
    """Parse a SQL date literal LENIENTLY (strptime pads '1994-1-5' the
    way CAST would) and re-render it canonically, because every
    manifest comparison — stats entries and hive partition names — is
    lexical over canonical ISO renderings. Unparseable → _Refuse (scan
    fallback), never a silently wrong lexical compare."""
    try:
        return (
            datetime.datetime.strptime(raw, "%Y-%m-%d").date().isoformat()
        )
    except ValueError:
        raise _Refuse()


def _typed_literal(raw: str, coltype: str):
    """Decode a raw SQL literal against a column type, returning the
    manifest-rendering value it compares against — or raise
    ``_Refuse`` on a provability mismatch (quoted literal vs numeric
    column, bare number vs string column, timestamp columns whose ISO
    'T' rendering is not literal-comparable, …)."""
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    if raw.startswith("'"):
        if coltype not in ("string", "date"):
            raise _Refuse()  # quoted literal vs non-string/date column
        if coltype == "date":
            # Manifest stats render dates as canonical ISO strings and
            # the proofs compare LEXICALLY, so a non-canonical literal
            # ('1994-1-5') would silently prove the wrong count while a
            # real scan CASTs and answers differently. Canonicalize
            # (strptime tolerates unpadded components, as SQL CAST
            # does) or refuse — never compare a raw date string.
            return _canonical_date(raw[1:-1])
        return raw[1:-1]
    if raw.lower() in ("true", "false"):
        raise _Refuse()  # boolean stats are never recorded (prune-useless)
    if coltype not in numeric:
        raise _Refuse()  # bare number vs string/date/timestamp column
    return float(raw) if ("." in raw or coltype in ("float", "double")) else int(raw)


def _sum_avg_value(kind: str, pair: "tuple"):
    """Decode one (sum, n_nonnull) manifest pair into the SQL answer:
    SUM → the exact integer (None when every value was NULL; refuse
    past int64 — a scan would overflow there too, loudly), AVG → the
    IEEE double sum/n (None when n is 0), computed float(s)/float(n)
    so the DuckDB oracle's CAST(..AS DOUBLE)/CAST(..AS DOUBLE)
    replays it bit-for-bit."""
    sv, nn = pair
    if kind == "sum":
        if sv is not None and abs(int(sv)) > 0x7FFFFFFFFFFFFFFF:
            raise _Refuse()  # past int64: let the scan error honestly
        return None if sv is None else int(sv)
    return None if nn == 0 else float(sv) / float(nn)


class _Refuse(Exception):
    """Internal: this statement is not provably metadata-answerable."""


def _apply_having(out: DataFrame, parsed: dict) -> DataFrame:
    """``HAVING <output alias> <op> <numeric lit>`` on a grouped
    metadata answer. Provable for the same reason ORDER BY/LIMIT is
    (z63): the FULL group set is assembled before the filter, so
    filtering the local frame is exactly the engine's post-aggregate
    HAVING. Strictly numeric aggregate aliases — a HAVING on the group
    column or a MIN/MAX rendering (typed date/string comparisons)
    refuses to the scan; NULL aggregates drop, SQL semantics."""
    having = parsed.get("having")
    if having is None:
        return out
    from pyspark.sql import functions as F

    hcol, hop, hval = having
    numeric = {
        a
        for k, _, a in parsed["items"]
        if k in ("count", "countcol", "sum", "avg", "approx", "quantile")
    }
    if hcol not in numeric:
        raise _Refuse()
    c = F.col(hcol)
    cond = {
        "=": c == hval,
        "<>": c != hval,
        "<": c < hval,
        "<=": c <= hval,
        ">": c > hval,
        ">=": c >= hval,
    }[hop]
    return out.filter(cond)


def answer_from_manifest(
    spark: SparkSession,
    sql: str,
    tables: dict[str, str],
    *,
    version: "int | str | None" = None,
) -> "DataFrame | None":
    """Answer ``sql`` from manifest metadata if its shape allows it and
    its table is in ``tables`` ({name: snapshot path}); else ``None``
    (caller falls back to a real scan). The returned frame has the
    aliases and the SCAN-identical column types (from the table's
    recorded spark_schema)."""
    try:
        return _answer(spark, sql, tables, version)
    except _Refuse:
        return None


def _coerce_partition_literal(raw: str, ptype: str):
    """One raw SQL literal → a typed partition value, with the same
    type-compatibility refusals the eq path has always had (quoted vs
    integral, bare number vs string, fractional vs integral)."""
    if raw.startswith("'"):
        if ptype in ("tinyint", "smallint", "int", "bigint", "boolean"):
            raise _Refuse()
        if ptype == "date":
            # Partition directory names render dates canonically;
            # match _typed_literal: canonicalize or refuse (a
            # non-canonical '1994-1-5' must not silently miss).
            return _canonical_date(raw[1:-1])
        return raw[1:-1]
    if raw.lower() in ("true", "false"):
        if ptype != "boolean":
            raise _Refuse()
        return raw.lower() == "true"
    if ptype not in ("tinyint", "smallint", "int", "bigint"):
        raise _Refuse()
    if "." in raw:
        raise _Refuse()
    return int(raw)


def _coerce_conj(conj: list, spec_types: dict) -> list:
    """Type a parsed conjunction against the spec: every column must
    be a spec component (anything else is not manifest-provable —
    refuse to the scan), literals coerce per the component's recorded
    type. Returns the ``[(col, [typed members]), …]`` form
    snapshot._restrict_parts applies conjunctively."""
    out = []
    for wcol, raws in conj:
        wtype = spec_types.get(wcol)
        if wtype is None:
            raise _Refuse()
        out.append(
            (
                wcol,
                sorted(
                    {_coerce_partition_literal(r, wtype) for r in raws},
                    key=repr,
                ),
            )
        )
    return out


def _resolve_table(parsed: dict, tables: dict, version):
    """Shared statement preamble: resolve the table path, fold the
    statement's ``FOR … AS OF`` into the caller's pinned version
    (raising on a double pin), and read the manifest ONCE — an unpinned
    statement pins the version it read, so every later read of the same
    statement sees that snapshot whatever commits land meanwhile.
    ``field_types`` are LOGICAL: the rename chain applied to the
    recorded spark_schema, dropped columns gone. Returns ``(path,
    version, manifest, field_types, spec_types)``."""
    path = tables[parsed["table"]]
    if parsed["as_of"] is not None:
        if version is not None:
            raise ValueError(
                "statement has FOR ... AS OF and the caller also "
                "pinned a version — pick one"
            )
        if "version" in parsed["as_of"]:
            version = parsed["as_of"]["version"]
        else:
            from .snapshot import resolve_as_of

            version = resolve_as_of(path, parsed["as_of"]["timestamp"])
    man = read_manifest(path, version)
    if version is None:
        version = int(man.get("version") or 0)
    meta = man.get("schema") or {}
    renames = meta.get("renames") or []
    live = meta.get("columns")
    sj = meta.get("spark_schema")
    from pyspark.sql.types import StructType

    field_types = {}
    for f in StructType.fromJson(json.loads(sj)).fields if sj else []:
        name = _logical_name(renames, f.name)
        if live is None or name in live:
            field_types[name] = f.dataType
    return path, version, man, field_types, _spec_types_of(meta)


def _spec_types_of(schema_meta: dict) -> dict:
    """``{spec column: simple type string}`` for the table's partition
    spec — one entry for a legacy single-column table, one per
    component for a multi-column spec. Grammar checks that used to be
    ``col == pcol`` become ``col in spec_types``: eq/IN/GROUP BY are
    provable on ANY spec component (the manifest restriction and
    grouping machinery matches the component's own directory level)."""
    from .snapshot import _spec_meta

    return dict(_spec_meta(schema_meta))


def _local_rows_df(spark, rows, schema) -> DataFrame:
    """LOCAL answer frame that never launches a Python worker:
    plain-list ``spark.createDataFrame`` ships rows through pickled
    RDD slices — a Python-worker launch per job, measured at SECONDS
    per one-row answer under a large local JVM — and a metadata answer
    must never need a Python executor. Small lists (≤64 rows) become a
    pure-JVM literal plan (lit→struct→array→explode — exact types via
    casts); larger ones go through the Arrow path (pandas → Arrow
    batches the JVM consumes directly), because a literal array's plan
    compiles O(rows) and was measured pathological in the thousands.
    One partition by construction — the pinned physical shape for a
    handful of rows (the CartesianProduct-task-storm lesson)."""
    from pyspark.sql import functions as F

    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    if len(rows) > 64:
        import pandas as pd

        pdf = pd.DataFrame(
            [tuple(r) for r in rows], columns=[f.name for f in schema.fields]
        )
        return spark.createDataFrame(pdf, schema).coalesce(1)
    structs = F.array(
        *[
            F.struct(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    for v, f in zip(r, schema.fields)
                ]
            )
            for r in rows
        ]
    )
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(structs).alias("r"))
        .select("r.*")
    )


def _answer(spark, sql, tables, version) -> "DataFrame | None":
    parsed = parse_metadata_select(sql)
    if parsed is None or parsed["table"] not in tables:
        return None
    # SQL time travel (Delta/Iceberg FOR ... AS OF syntax): the
    # statement pins the version; a caller-side pin on top of it is
    # ambiguous and loud (_resolve_table raises)
    path, version, man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    where = parsed["where"]
    if where is not None and where[0] in ("range", "eqrange"):
        meta = man.get("schema") or {}
        answer = (
            _answer_range_count if where[0] == "range"
            else _answer_eq_range_count
        )
        return answer(
            spark, parsed, path, meta.get("partition_col"),
            meta.get("partition_type") or "string", field_types, meta,
            version,
        )
    restrict, null_pred = _restriction(where, spec_types)
    groups = _group_cols(parsed)
    if any(g not in spec_types for g in groups):
        raise _Refuse()  # only spec components group at the manifest
    items = [(k, c) for k, c, _a in parsed["items"] if k != "group"]
    try:
        rows = _manifest_fold(
            man, path,
            items if null_pred is None else _null_items(items, *null_pred),
            restrict, groups,
        )
    except ValueError:
        # mixed spec, tombstones under a value item, missing stats or
        # sketch, a dropped/unknown column: not provable → scan
        raise _Refuse()
    if null_pred is not None:
        rows = _null_rows(rows, items, null_pred[1], bool(groups))
    return _assemble_grouped(
        spark, parsed, [(g, vals) for g, _n, vals in rows], spec_types,
        field_types,
    )


def _restriction(where, spec_types: dict):
    """The one WHERE normaliser of the pure-metadata path: ``(conjuncts,
    null predicate)``. eq, IN and conj become the typed ``[(spec col,
    [members]), …]`` restriction that snapshot._restrict_parts applies
    at each component's own directory level; ``col IS [NOT] NULL``
    (optionally member-restricted) becomes ``(col, is_not)``. Range,
    OR-window and range+NULL shapes belong to the range/hybrid tiers."""
    if where is None:
        return None, None
    shape = where[0]
    if shape == "isnull":
        return None, (where[1], where[2])
    if shape == "eqnull":
        return _coerce_conj([where[1:3]], spec_types), (where[3], where[4])
    if shape == "eq":
        return _coerce_conj([(where[1], [where[2]])], spec_types), None
    if shape == "in":
        return _coerce_conj([where[1:3]], spec_types), None
    if shape == "conj":
        return _coerce_conj(where[1], spec_types), None
    raise _Refuse()  # hybrid-only: the boundary needs a scan


#: what a same-column aggregate is under ``col IS NULL``: no value
#: survives, so counts are 0 and every other aggregate is NULL
_UNDER_IS_NULL = {
    "countcol": 0, "sum": (None, 0), "avg": (None, 0), "min": None,
    "max": None, "approx": 0.0,
}


def _null_items(items, ncol: str, is_not: bool) -> list:
    """The fold items behind ``WHERE ncol IS [NOT] NULL``: the column's
    null-skipping count first (COUNT(*) is it, or live rows minus it),
    then — under IS NOT NULL, where every SQL aggregate already skips
    NULLs — the same-column items as they stand; under IS NULL they are
    the :data:`_UNDER_IS_NULL` constants. Cross-column items refuse:
    which rows of another column survive the filter is unprovable from
    per-column stats."""
    allowed = set(_UNDER_IS_NULL) | ({"quantile"} if is_not else set())
    for k, c in items:
        if k != "count" and (
            k not in allowed or (c[0] if k == "quantile" else c) != ncol
        ):
            raise _Refuse()
    rest = [it for it in items if it[0] != "count"] if is_not else []
    return [("countcol", ncol)] + rest


def _null_rows(rows, items, is_not: bool, grouped: bool) -> list:
    """Fold rows of :func:`_null_items` → rows of the statement's items
    over the null-filtered rows; a group the filter empties emits no
    row (SQL: no surviving rows, no group)."""
    out = []
    for g, n, vals in rows:
        kept = vals[0] if is_not else n - vals[0]
        if grouped and kept == 0:
            continue
        rest = iter(vals[1:])
        out.append((g, kept, [
            kept if k == "count" else next(rest) if is_not
            else _UNDER_IS_NULL[k]
            for k, _c in items
        ]))
    return out


def _group_cols(parsed: dict) -> list:
    gb = parsed["group_by"]
    return [] if gb is None else [gb] if isinstance(gb, str) else list(gb)


def _spark_simple_type(dt) -> str:
    return dt.simpleString() if dt is not None else ""


def _answer_range_count(
    spark, parsed, path, pcol, ptype, field_types, schema_meta, version
):
    if any(k != "count" for k, _, _ in parsed["items"]):
        raise _Refuse()  # aggregates under a range: hybrid tier / scan
    _, col, lo_raw, hi_raw, lo_strict, hi_strict = parsed["where"]
    spec_types = _spec_types_of(schema_meta)
    if col in spec_types:
        coltype = spec_types[col]
    else:
        coltype = _spark_simple_type(field_types.get(col))
        if not coltype:
            raise _Refuse()  # unknown column
        stats_cols = schema_meta.get("stats_cols") or []
        if col not in stats_cols:
            # without recorded stats every partition would need a
            # footer harvest; the provability contract wants the
            # steady-state manifest answer, so refuse → scan
            raise _Refuse()
    lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
    hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    n = manifest_range_count(
        path,
        col,
        lo=lo,
        hi=hi,
        lo_strict=lo_strict,
        hi_strict=hi_strict,
        version=version,
    )
    if n is None:
        return None  # partial overlap / legacy stats: real scan
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [
        StructField(alias, LongType(), False)
        for _, _, alias in parsed["items"]
    ]
    return _local_rows_df(
        spark, [tuple(n for _ in parsed["items"])], StructType(fields)
    )


def _conj_where(where: tuple, spec_types: dict):
    """Unpack a hybrid-tier WHERE — plain ``range``, conjunctive
    ``eqrange`` (pcol = lit AND range) or ``inrange`` (pcol IN (…)
    AND range) — into ``(where_partition, range_col, lo_raw, hi_raw,
    lo_strict, hi_strict)``. The membership side must be A PARTITION
    SPEC column with coercible literals; anything else refuses
    (the full scan decides). An IN-list passes the coerced member
    LIST through ``where_partition`` — `snapshot._eq_targets` expands
    it to the member directory set, so all four provers restrict
    their classification to members with no per-member passes."""
    if where[0] == "eqrange":
        _, ecol, eraw, lo_raw, hi_raw, lo_strict, hi_strict, col = where
        etype = spec_types.get(ecol)
        if etype is None:
            raise _Refuse()
        return (
            (ecol, _coerce_partition_literal(eraw, etype)),
            col, lo_raw, hi_raw, lo_strict, hi_strict,
        )
    if where[0] == "conjrange":
        _, members, lo_raw, hi_raw, lo_strict, hi_strict, col = where
        conj = []
        for mcol, raws in members:
            mtype = spec_types.get(mcol)
            if mtype is None:
                raise _Refuse()
            conj.append(
                (
                    mcol,
                    sorted(
                        {_coerce_partition_literal(r, mtype) for r in raws},
                        key=repr,
                    ),
                )
            )
        return conj, col, lo_raw, hi_raw, lo_strict, hi_strict
    if where[0] == "inrange":
        _, icol, raws, lo_raw, hi_raw, lo_strict, hi_strict, col = where
        itype = spec_types.get(icol)
        if itype is None:
            raise _Refuse()
        vals = sorted(
            {_coerce_partition_literal(r, itype) for r in raws}, key=repr
        )
        return (icol, vals), col, lo_raw, hi_raw, lo_strict, hi_strict
    _, col, lo_raw, hi_raw, lo_strict, hi_strict = where
    return None, col, lo_raw, hi_raw, lo_strict, hi_strict


def hybrid_range_count(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str]",
    *,
    version: "int | str | None" = None,
    explain: bool = False,
) -> "DataFrame | None":
    """The MIDDLE tier between a metadata answer and a full scan: a
    range statement — ``SELECT COUNT(*)/SUM(c)/AVG(c)/MIN(c)/MAX(c),
    … FROM t WHERE col <range>`` with any item list — answered by the
    hybrid range provers: proven partitions from the manifest, ONLY the
    boundary scanned. A single window (optionally conjoined with
    ``pcol = lit`` / ``pcol IN (…)``) runs one
    :func:`snapshot.range_multi_pruned` pass; OR-windows, GROUP BY
    pcol, and the NULL-predicate shapes have their own branches below.
    Returns ``None`` when the statement is none of those shapes
    (non-range WHERE, unknown table or column) or the literal's type is
    not manifest-comparable — the caller then falls back to a real
    scan. Unlike ``answer_from_manifest`` this DOES read data pages
    (the boundary), so it is a separate, caller-opted tier: the CLI
    applies it after a metadata refusal and before the full scan."""
    parsed = parse_metadata_select(sql)
    if (
        parsed is None
        or parsed["table"] not in tables
        or parsed["where"] is None
        or parsed["where"][0]
        not in (
            "range", "eqrange", "inrange", "orrange", "rangenull",
            "isnull", "eqnull", "conjrange",
        )
        or any(
            k not in ("group", "count", "sum", "avg", "min", "max")
            for k, _, _ in parsed["items"]
        )
    ):
        return None
    if parsed["where"][0] == "rangenull":
        # range AND NULL-predicate conjunction (COUNT(*) only,
        # enforced at parse): composed classifier, boundary scanned
        # with both predicates pushed
        if parsed["group_by"] is not None:
            return None
        return _hybrid_range_null(spark, parsed, tables, version, explain)
    if parsed["where"][0] in ("isnull", "eqnull"):
        # NULL-audit COUNT run to completion: provable partitions from
        # metadata, ONLY the unprovable remainder (tombstones, legacy
        # entries) scanned — the statement the pure tier must refuse
        # whole on any such partition
        return _hybrid_isnull(spark, parsed, tables, version, explain)
    if parsed["group_by"] is not None:
        # GROUP BY pcol + range (or IN+range / OR-windows): grouped tier
        if parsed["where"][0] == "orrange":
            return _hybrid_group_or_range(
                spark, parsed, tables, version, explain
            )
        if parsed["where"][0] not in ("range", "inrange", "conjrange"):
            return None  # eqrange + GROUP BY: the member IS the group
        return _hybrid_group_multi(spark, parsed, tables, version, explain)
    if any(k == "group" for k, _, _ in parsed["items"]):
        return None  # bare column without GROUP BY never parses, but guard
    if parsed["where"][0] == "orrange":
        # disjunctive windows: one classification + boundary scan PER
        # merged disjoint interval, combined exactly (any item list)
        return _hybrid_or_range(spark, parsed, tables, version, explain)
    # one window, any item list: one classification, one boundary scan
    return _hybrid_multi(spark, parsed, tables, version, explain)


def _explain_frame(
    spark, tier, meta_parts, scan_parts, files_scanned, files_total
) -> DataFrame:
    """The EXPLAIN answer shape (see :func:`explain_metadata_sql`):
    one local row — which tier serves the statement and how much I/O
    the plan commits to (partitions answered from metadata vs
    scanned; boundary files opened vs present, where per-file stats
    exist)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return _local_rows_df(
        spark,
        [
            (
                tier,
                int(meta_parts),
                int(scan_parts),
                int(files_scanned),
                int(files_total),
            )
        ],
        StructType(
            [
                StructField("tier", StringType(), False),
                StructField("partitions_metadata", LongType(), False),
                StructField("partitions_scanned", LongType(), False),
                StructField("files_scanned", LongType(), False),
                StructField("files_total", LongType(), False),
            ]
        ),
    )


def explain_metadata_sql(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str]",
    *,
    version: "int | str | None" = None,
) -> DataFrame:
    """EXPLAIN for the metadata-SQL tiers — the scan-planning decision
    as a queryable one-row frame, WITHOUT reading a single data page
    (the boundary scan is skipped via the provers' ``explain_only``;
    the classification that decides it is pure manifest arithmetic):

    - ``tier='metadata'`` — the statement is served entirely from the
      manifest (zero data pages). ``partitions_metadata`` is the
      restricted universe (1 for ``pcol = lit``, the present members
      for ``IN``, all live partitions otherwise).
    - ``tier='hybrid'`` — proven partitions answer from metadata and
      ONLY the boundary scans; the row carries the exact
      classification the real execution will use (same code path,
      scan skipped).
    - ``tier='scan'`` — the shape refuses both tiers; every live
      partition (and every file with recorded per-file stats) would
      be read.

    The routing is THE SAME code the answering path runs
    (:func:`answer_from_manifest` → :func:`hybrid_range_count` →
    scan), so EXPLAIN can never drift from execution — pinned by
    tests that compare these counts against the real provers'."""
    meta = answer_from_manifest(spark, sql, tables, version=version)
    parsed = parse_metadata_select(sql)
    if parsed is not None:
        path = tables.get(parsed["table"])
    else:
        # unparseable shape: still attribute the scan to its table so
        # the partition/file counts are honest
        body, _asof = extract_as_of(sql)
        m = re.search(r"\bFROM\s+([A-Za-z_]\w*)", body, re.IGNORECASE)
        path = tables.get(m.group(1)) if m else None

    def _pin() -> "int | str | None":
        v = version
        if parsed is not None and parsed.get("as_of") is not None and v is None:
            if "version" in parsed["as_of"]:
                v = parsed["as_of"]["version"]
            else:
                from .snapshot import resolve_as_of

                v = resolve_as_of(path, parsed["as_of"]["timestamp"])
        return v

    def _universe() -> int:
        # the live-partition count the statement's WHERE restricts to
        if path is None:
            return 0
        man = read_manifest(path, _pin())
        schema_meta = man.get("schema") or {}
        spec_types = _spec_types_of(schema_meta)
        live = man.get("partitions") or {}
        where = parsed.get("where") if parsed is not None else None
        if (
            where is not None
            and where[0] in ("eq", "in")
            and where[1] in spec_types
        ):
            from .snapshot import _restrict_parts

            wtype = spec_types[where[1]]
            raws = [where[2]] if where[0] == "eq" else list(where[2])
            try:
                vals = [_coerce_partition_literal(r, wtype) for r in raws]
                return len(
                    _restrict_parts(
                        live, schema_meta, where_partition=(where[1], vals)
                    )
                )
            except (_Refuse, ValueError):
                # uncoercible literal / retired-spec directories: the
                # estimate degrades to the full live count, it never
                # crashes an EXPLAIN
                return len(live)
        if where is not None and where[0] in ("conj", "conjrange"):
            # multi-component restriction: the universe is the
            # conjunct-restricted member set
            from .snapshot import _restrict_parts

            try:
                conj = _coerce_conj(where[1], spec_types)
                return len(
                    _restrict_parts(
                        live, schema_meta, where_partition=conj
                    )
                )
            except (_Refuse, ValueError):
                return len(live)
        return len(live)

    if meta is not None:
        return _explain_frame(spark, "metadata", _universe(), 0, 0, 0)
    hyb = hybrid_range_count(
        spark, sql, tables, version=version, explain=True
    )
    if hyb is not None:
        return hyb
    # full scan: every live partition; files where per-file stats are
    # recorded (unrecorded directories read whole either way)
    n_files = 0
    if path is not None:
        man = read_manifest(path, _pin())
        from .snapshot import FILES_KEY

        n_files = sum(
            len((s or {}).get(FILES_KEY) or {})
            for s in (man.get("stats") or {}).values()
        )
    return _explain_frame(spark, "scan", 0, _universe(), n_files, n_files)


def _hybrid_multi(spark, parsed, tables, version, explain=False):
    """Single-window branch of :func:`hybrid_range_count`: ``SELECT
    COUNT(*), SUM(x), AVG(x), MIN(y), MAX(y) … WHERE col <range>``
    with one or more items (the dashboard statement) served by ONE
    :func:`snapshot.range_multi_pruned` pass — one partition
    classification, one boundary scan shared by every aggregate.
    Refuses (None → full scan) on non-partition equality, unknown
    columns and type-incomparable literals."""
    path, version, man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = (man.get("schema") or {}).get("partition_col")
    try:
        eq, col, lo_raw, hi_raw, lo_strict, hi_strict = _conj_where(
            parsed["where"], spec_types
        )
    except _Refuse:
        return None  # non-spec membership / uncoercible member: scan
    coltype = (
        spec_types[col]
        if col in spec_types
        else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown column: let the scan engine error
    try:
        lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
        hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    # validate every aggregated column BEFORE the prover runs — an
    # unknown column must refuse without paying a boundary scan
    for kind, agg_col, _alias in parsed["items"]:
        if kind != "count" and agg_col != pcol and agg_col not in field_types:
            return None
    from .snapshot import range_multi_pruned

    try:
        out = range_multi_pruned(
            spark, path, col,
            [(k, c) for k, c, _a in parsed["items"]],
            lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
            version=version, where_partition=eq, explain_only=explain,
        )
        if explain:
            return _explain_frame(
                spark, "hybrid",
                out["meta_partitions"], out["scanned_partitions"],
                out["scanned_files"], out["total_files"],
            )
        return _assemble_grouped(
            spark, parsed, [((), out["values"])], spec_types, field_types
        )
    except ValueError:
        return None  # mixed-spec / sketch-name guard: full scan decides
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error


def _hybrid_isnull(spark, parsed, tables, version, explain=False):
    """NULL-membership branch of :func:`hybrid_range_count`:
    ``COUNT(*) WHERE col IS [NOT] NULL`` (plain or member-restricted)
    via :func:`snapshot.null_count_pruned` — the pure-metadata
    answerer refuses the WHOLE statement when any partition is
    unprovable (tombstones, legacy 2-element entries, all-NULL
    partitions); this tier answers the provable partitions from
    metadata and scans only the remainder, with the predicate pushed
    (the parquet reader's own null-count statistics then skip
    zero-contribution row groups)."""
    if parsed["group_by"] is not None:
        return None  # grouped null audits stay pure-metadata-or-scan
    if len(parsed["items"]) != 1 or parsed["items"][0][0] != "count":
        return None  # COUNT(*) is the provable shape
    from pyspark.sql.types import LongType, StructField, StructType

    path, version, _man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    w = parsed["where"]
    if w[0] == "isnull":
        ncol, is_not, eq = w[1], w[2], None
    else:
        _, ecol, raws, ncol, is_not = w
        etype = spec_types.get(ecol)
        if etype is None:
            return None  # non-partition membership: scan
        try:
            eq = (
                ecol,
                sorted(
                    {_coerce_partition_literal(r, etype) for r in raws},
                    key=repr,
                ),
            )
        except _Refuse:
            return None
    if ncol not in spec_types and field_types and ncol not in field_types:
        return None  # unknown column: let the scan engine error
    from .snapshot import null_count_pruned

    try:
        out = null_count_pruned(
            spark, path, ncol, is_not=is_not, version=version,
            where_partition=eq, explain_only=explain,
        )
    except ValueError:
        return None  # mixed-spec / sketch-name guard: full scan decides
    if explain:
        return _explain_frame(
            spark, "hybrid",
            out["meta_partitions"], out["scanned_partitions"],
            out["scanned_files"], out["total_files"],
        )
    alias = parsed["items"][0][2]
    return _local_rows_df(
        spark,
        [(out["count"],)],
        StructType([StructField(alias, LongType(), False)]),
    )


def _hybrid_range_null(spark, parsed, tables, version, explain=False):
    """Range AND NULL-predicate conjunction (r9 verdict ask #6b):
    ``COUNT(*) WHERE range_col <range> AND null_col IS [NOT] NULL``
    via :func:`snapshot.range_null_count_pruned` — partitions proven
    fully inside the range with zero range-column nulls answer the
    null predicate from their recorded null counts; only the
    unprovable remainder scans, with BOTH predicates pushed."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    path, version, _man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    _, rcol, lo_raw, hi_raw, lo_strict, hi_strict, ncol, is_not = (
        parsed["where"]
    )
    coltype = (
        spec_types[rcol]
        if rcol in spec_types
        else _spark_simple_type(field_types.get(rcol))
    )
    if not coltype:
        return None  # unknown range column: let the scan engine error
    if ncol not in field_types and ncol not in spec_types:
        return None  # unknown null column: let the scan engine error
    try:
        lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
        hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    from .snapshot import range_null_count_pruned

    try:
        out = range_null_count_pruned(
            spark, path, rcol, ncol,
            lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
            is_not=is_not, version=version, explain_only=explain,
        )
    except ValueError:
        return None  # sketch-name guard: full scan decides
    if explain:
        return _explain_frame(
            spark, "hybrid",
            out["meta_partitions"], out["scanned_partitions"],
            out["scanned_files"], out["total_files"],
        )
    alias = parsed["items"][0][2]
    return _local_rows_df(
        spark,
        [(out["count"],)],
        StructType([StructField(alias, LongType(), False)]),
    )


def _hybrid_or_range(spark, parsed, tables, version, explain=False):
    """DISJUNCTIVE-window branch of :func:`hybrid_range_count`:
    ``… WHERE col BETWEEN a AND b OR col BETWEEN c AND d`` — "this
    week OR the same week last year". The typed windows MERGE into
    disjoint closed intervals (overlaps/containment collapse; an
    empty ``lo > hi`` window contributes nothing, SQL BETWEEN
    semantics), then each interval runs its own
    :func:`snapshot.range_multi_pruned` pass and the per-interval
    aggregates combine EXACTLY — disjointness makes COUNT/SUM add and
    MIN/MAX merge with no double counting. At 100 TB each window's
    boundary is O(1) partitions on a clustered table, so k windows
    cost k tiny boundary scans, not one full scan of everything in
    between — precisely what a date-window disjunction over a time-
    partitioned fact wants. A partition straddling the GAP between
    two merged windows is boundary for both (scanned once per
    interval — explain counts scan TASKS, not distinct partitions)."""
    path, version, man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = (man.get("schema") or {}).get("partition_col")
    ptype = spec_types.get(pcol)
    col = parsed["where"][1]
    coltype = (
        ptype if col == pcol else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown column: let the scan engine error
    try:
        typed = [
            (_typed_literal(lo, coltype), _typed_literal(hi, coltype))
            for lo, hi in parsed["where"][2]
        ]
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    for kind, agg_col, _alias in parsed["items"]:
        if kind != "count" and agg_col != pcol and agg_col not in field_types:
            return None  # unknown aggregated column: scan decides
    # merge into disjoint closed intervals (BETWEEN lo > hi = empty)
    ivs = sorted((lo, hi) for lo, hi in typed if not lo > hi)
    merged: list = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    from .snapshot import range_multi_pruned

    items = [(k, c) for k, c, _a in parsed["items"]]
    try:
        outs = [
            range_multi_pruned(
                spark, path, col, items, lo=lo, hi=hi,
                version=version, explain_only=explain,
            )
            for lo, hi in merged
        ]
    except ValueError:
        return None  # mixed-spec / sketch-name guard: full scan decides
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error
    if explain:
        return _explain_frame(
            spark, "hybrid",
            sum(o["meta_partitions"] for o in outs),
            sum(o["scanned_partitions"] for o in outs),
            sum(o["scanned_files"] for o in outs),
            sum(o["total_files"] for o in outs),
        )
    # combine per-interval aggregates — exact because intervals are
    # disjoint: counts/sums add, MIN/MAX merge, AVG re-derives from
    # the combined (sum, n) pair
    values = []
    for i, (kind, _c) in enumerate(items):
        per = [o["values"][i] for o in outs]
        if kind == "count":
            values.append(sum(int(v) for v in per))
        elif kind in ("sum", "avg"):
            tot, n, seen = 0, 0, False
            for v in per:
                s, vn = v
                if s is not None:
                    tot += int(s)
                    seen = True
                n += int(vn)
            values.append((tot if seen else None, n))
        elif kind == "min":
            cand = [v for v in per if v is not None]
            values.append(min(cand) if cand else None)
        else:
            cand = [v for v in per if v is not None]
            values.append(max(cand) if cand else None)
    return _assemble_grouped(
        spark, parsed, [((), values)], spec_types, field_types
    )


def _hybrid_group_multi(spark, parsed, tables, version, explain=False):
    """GROUPED branch of :func:`hybrid_range_count`: ``SELECT pcol,
    COUNT(*), SUM(x), AVG(x), MIN(y), MAX(y) … WHERE col <range>
    GROUP BY pcol`` served by ONE :func:`snapshot.range_group_multi`
    pass — per-group metadata for interior partitions, one grouped
    boundary scan for the edges. Group values come back in the
    column's recorded type (string-render → cast in
    `_assemble_grouped` — scan-identical schema). ORDER
    BY <output alias> [DESC] LIMIT k applies on the assembled frame —
    the full group set exists before ordering, ties break by the
    group column ascending (the z63 discipline), so "top-k days by
    revenue in this key range" serves end-to-end."""
    path, version, man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = (man.get("schema") or {}).get("partition_col")
    if pcol is None or parsed["group_by"] != pcol:
        return None  # only the partition column groups at the manifest
    try:
        eq, col, lo_raw, hi_raw, lo_strict, hi_strict = _conj_where(
            parsed["where"], spec_types
        )
    except _Refuse:
        return None  # non-spec membership / uncoercible member: scan
    coltype = (
        spec_types[col]
        if col in spec_types
        else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown range column: let the scan engine error
    try:
        lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
        hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    except _Refuse:
        return None
    for kind, agg_col, _alias in parsed["items"]:
        if (
            kind in ("sum", "avg", "min", "max")
            and agg_col != pcol
            and agg_col not in field_types
        ):
            return None  # unknown aggregated column: refuse pre-scan
    if parsed.get("order_by") is not None:
        # validate the ORDER BY alias BEFORE the prover pays the
        # grouped boundary scan — a post-scan refusal would throw the
        # boundary I/O away and hand the statement to a second, full
        # scan (every other refusal here is pre-scan for this reason)
        if parsed["order_by"][0] not in [a for _, _, a in parsed["items"]]:
            return None  # ORDER BY names a non-output column
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType as _ST,
    )

    from .snapshot import range_group_multi

    items = [(k, c) for k, c, _a in parsed["items"] if k != "group"]
    try:
        out = range_group_multi(
            spark, path, col, items,
            lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
            version=version, where_partition=eq, explain_only=explain,
        )
        if explain:
            return _explain_frame(
                spark, "hybrid",
                out["meta_partitions"], out["scanned_partitions"],
                out["scanned_files"], out["total_files"],
            )
        return _assemble_grouped(
            spark, parsed, [((g,), v) for g, v in out["groups"]],
            spec_types, field_types,
        )
    except ValueError:
        return None  # mixed-spec / unpartitioned / sketch guard: scan
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error


def _assemble_grouped(spark, parsed, groups, spec_types, field_types):
    """The one answer assembler: ``groups`` = ``[(group value tuple,
    [per-item values]), …]`` — the fold's rows or a hybrid prover's
    (one ``((), values)`` row for an ungrouped statement),
    values in statement order with group items left out, sum/avg as
    ``(sum, n)`` pairs. Scan-identical typing (group values and MIN/MAX
    renderings go through a string cast to the column's recorded type),
    then HAVING, then ORDER BY <output alias> with the group-asc
    tie-break on every group column and LIMIT (the z63 discipline: the
    full group set exists before filtering or ordering)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    gnames = _group_cols(parsed)
    gidx = [g.lower() for g in gnames]
    fields, casts = [], {}
    for kind, col, alias in parsed["items"]:
        if kind == "group":
            col = gnames[gidx.index(col.lower())]
        if kind in ("group", "min", "max"):
            fields.append(StructField(alias, StringType(), True))
            dt = field_types.get(col) or spec_types.get(col)
            if dt is None:
                raise _Refuse()  # unknown column: the scan decides
            casts[alias] = dt
        else:
            typ = DoubleType() if kind in ("avg", "approx") else LongType()
            fields.append(StructField(alias, typ, kind in ("sum", "avg")))
    rows = []
    for gvals, vals in groups:
        it = iter(vals)
        row = []
        for kind, col, _alias in parsed["items"]:
            v = gvals[gidx.index(col.lower())] if kind == "group" else next(it)
            if kind in ("group", "min", "max"):
                row.append(None if v is None else str(v))
            elif kind in ("sum", "avg"):
                row.append(_sum_avg_value(kind, v))
            else:
                row.append(float(v) if kind == "approx" else int(v))
        rows.append(tuple(row))
    frame = _local_rows_df(spark, rows, StructType(fields))
    frame = frame.select(*[
        F.col(f.name).cast(casts[f.name]).alias(f.name)
        if f.name in casts else F.col(f.name)
        for f in frame.schema.fields
    ])
    frame = _apply_having(frame, parsed)
    if parsed.get("order_by") is not None:
        ocol, desc = parsed["order_by"]
        if ocol not in [a for _, _, a in parsed["items"]]:
            raise _Refuse()  # ORDER BY names a non-output column
        key = F.col(ocol).desc() if desc else F.col(ocol).asc()
        frame = frame.orderBy(key, *[
            F.col(a).asc() for k, _, a in parsed["items"] if k == "group"
        ])
        if parsed.get("limit") is not None:
            frame = frame.limit(parsed["limit"])
    return frame


def _hybrid_group_or_range(spark, parsed, tables, version, explain=False):
    """Grouped DISJUNCTIVE windows (r9 verdict ask #6a): ``SELECT
    pcol, COUNT(*), SUM(x), … WHERE col BETWEEN a AND b OR col BETWEEN
    c AND d GROUP BY pcol`` — the per-interval discipline of
    :func:`_hybrid_or_range` composed with the grouped prover: the
    typed windows merge into disjoint closed intervals, each interval
    runs its own :func:`snapshot.range_group_multi` pass, and the
    per-interval GROUP results merge EXACTLY (disjointness: counts and
    sums add, extremes nest, AVG re-derives from the combined pair; a
    group absent from an interval simply contributes nothing). At
    100 TB this is k tiny grouped boundary scans for k windows on a
    clustered table, never a scan of the gap between them."""
    path, version, man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = (man.get("schema") or {}).get("partition_col")
    if pcol is None or parsed["group_by"] != pcol:
        return None  # only the partition column groups at the manifest
    col = parsed["where"][1]
    coltype = (
        spec_types[col]
        if col in spec_types
        else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown range column: let the scan engine error
    try:
        typed = [
            (_typed_literal(lo, coltype), _typed_literal(hi, coltype))
            for lo, hi in parsed["where"][2]
        ]
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    for kind, agg_col, _alias in parsed["items"]:
        if (
            kind in ("sum", "avg", "min", "max")
            and agg_col != pcol
            and agg_col not in field_types
        ):
            return None  # unknown aggregated column: refuse pre-scan
    if parsed.get("order_by") is not None:
        if parsed["order_by"][0] not in [a for _, _, a in parsed["items"]]:
            return None  # ORDER BY names a non-output column
    # merge into disjoint closed intervals (BETWEEN lo > hi = empty)
    ivs = sorted((lo, hi) for lo, hi in typed if not lo > hi)
    merged: list = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    from .snapshot import range_group_multi

    items = [(k, c) for k, c, _a in parsed["items"] if k != "group"]
    try:
        outs = [
            range_group_multi(
                spark, path, col, items, lo=lo, hi=hi,
                version=version, explain_only=explain,
            )
            for lo, hi in merged
        ]
    except ValueError:
        return None  # mixed-spec / unpartitioned / sketch guard: scan
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error
    if explain:
        return _explain_frame(
            spark, "hybrid",
            sum(o["meta_partitions"] for o in outs),
            sum(o["scanned_partitions"] for o in outs),
            sum(o["scanned_files"] for o in outs),
            sum(o["total_files"] for o in outs),
        )
    # exact cross-interval group merge (disjoint windows): counts and
    # (sum, n) pairs add, extremes nest; group order = value render
    # (the same sorted-by-partition-name order each pass emits)
    acc: dict = {}
    order: list = []
    for o in outs:
        for gval, vals in o["groups"]:
            key = (gval is None, None if gval is None else str(gval))
            if key not in acc:
                acc[key] = [gval, list(vals)]
                order.append(key)
                continue
            cur = acc[key][1]
            for i, (kind, _c) in enumerate(items):
                if kind == "count":
                    cur[i] = int(cur[i]) + int(vals[i])
                elif kind in ("sum", "avg"):
                    s0, n0 = cur[i]
                    s1, n1 = vals[i]
                    tot = None
                    if s0 is not None or s1 is not None:
                        tot = int(s0 or 0) + int(s1 or 0)
                    cur[i] = (tot, int(n0) + int(n1))
                elif kind == "min":
                    if vals[i] is not None:
                        cur[i] = (
                            vals[i]
                            if cur[i] is None
                            else min(cur[i], vals[i])
                        )
                else:  # max
                    if vals[i] is not None:
                        cur[i] = (
                            vals[i]
                            if cur[i] is None
                            else max(cur[i], vals[i])
                        )
    groups = [((acc[k][0],), acc[k][1]) for k in sorted(order)]
    try:
        return _assemble_grouped(
            spark, parsed, groups, spec_types, field_types
        )
    except _Refuse:
        # e.g. a HAVING alias that is not an output column, or a
        # merged SUM past int64 — the scan tier must decide/error
        # (mirrors _hybrid_group_multi, whose assembly sits inside
        # its try)
        return None


def _answer_eq_range_count(
    spark, parsed, path, pcol, ptype, field_types, schema_meta, version
):
    """The conjunctive shape: partition equality restricts the
    universe, the range proof runs over just the member partition —
    both halves exact, so the COUNT is (manifest_range_count with
    where_partition)."""
    if any(k != "count" for k, _, _ in parsed["items"]):
        raise _Refuse()  # aggregates under a range: hybrid tier / scan
    _, ecol, eraw, lo_raw, hi_raw, lo_strict, hi_strict, rcol = (
        parsed["where"]
    )
    spec_types = _spec_types_of(schema_meta)
    etype = spec_types.get(ecol)
    if etype is None:
        raise _Refuse()  # only spec-column equality is provable
    eq = (ecol, _coerce_partition_literal(eraw, etype))
    if rcol in spec_types:
        coltype = spec_types[rcol]
    else:
        coltype = _spark_simple_type(field_types.get(rcol))
        if not coltype:
            raise _Refuse()
        stats_cols = schema_meta.get("stats_cols") or []
        if rcol not in stats_cols:
            raise _Refuse()
    lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
    hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    n = manifest_range_count(
        path, rcol,
        lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
        version=version, where_partition=eq,
    )
    if n is None:
        return None  # partial overlap in the member partition: scan
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [
        StructField(alias, LongType(), False)
        for _, _, alias in parsed["items"]
    ]
    return _local_rows_df(
        spark, [tuple(n for _ in parsed["items"])], StructType(fields)
    )
