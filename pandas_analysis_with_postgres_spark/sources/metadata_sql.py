"""Metadata-answered SQL: route manifest-provable ``SELECT``s on
snapshot tables to the :mod:`sources.snapshot` manifest layer — the
optimizer rule warehouses apply before ever scheduling a scan (Spark
itself does this only for COUNT(*) over some V2 sources; Iceberg/Delta
answer from manifest numRecords). At 100 TB the difference is a driver
JSON read vs a cluster-wide scan for a poll a dashboard issues every
minute.

A metadata answerer must refuse what it cannot prove, never
approximate it: every statement outside the grammar below returns
``None`` and the caller falls back to a real scan. Answering is four
steps, shared by both tiers.

1. **Parse** (:func:`parse_metadata_select`): a strict select list and
   a WHERE read as atoms of one conjunct grammar — ``col = lit``,
   ``col IN (…)``, ``col <op> lit``, ``col BETWEEN a AND b`` and
   ``col IS [NOT] NULL``, AND-ed in any order, or one OR of BETWEENs
   on one column. One combiner names the atom set (the ``where``
   tuple's kind); an atom set no kind represents refuses.
2. **One spec** (:func:`_restriction`), after :func:`_resolve_table`
   pinned one manifest (the statement's ``FOR VERSION/TIMESTAMP AS
   OF``, the caller's version, or else the version it read, so a
   commit landing mid-statement cannot mix two snapshots) and the
   table's LOGICAL types (rename chain applied, dropped columns gone):
   the eq/IN members typed into one partition restriction, the range
   column with its typed windows (OR-windows merged into disjoint
   intervals), and the null predicate.
3. **Fold or classify.** The pure-metadata tier
   (:func:`answer_from_manifest`) reads no data page: an un-ranged
   spec folds every item in one pass over the live partitions
   (:func:`snapshot._manifest_fold` — ``COUNT(*)`` from ``::n_rows``,
   ``COUNT(col)`` from null counts, ``COUNT(DISTINCT pcol)`` from
   directory names, ``SUM``/``AVG`` from ``::sum`` pairs,
   ``MIN``/``MAX`` from ``stats_cols``, ``APPROX_COUNT_DISTINCT`` from
   ``::hll`` registers, ``APPROX_QUANTILE`` from ``::hist`` buckets;
   under a null predicate only same-column items); a ranged spec
   answers ``COUNT(*)`` of one window when every restricted partition
   is proven fully inside or outside it
   (:func:`snapshot.manifest_range_count`). The caller-opted HYBRID
   tier (:func:`hybrid_range_count`) serves what needs a boundary
   scan: per window one :func:`snapshot.range_multi_pruned` /
   :func:`snapshot.range_group_multi` pass, windows merged with
   :func:`snapshot._fold_values`, null predicates through
   :func:`snapshot.null_count_pruned` /
   :func:`snapshot.range_null_count_pruned`.
4. **Assemble** (:func:`_assemble_grouped`): scan-identical types
   (MIN of a date column is a DATE, not the manifest's ISO string),
   then ``HAVING <alias> <op> <num>`` and ``ORDER BY <output alias>
   [ASC|DESC] [LIMIT n]`` — provable because the full group set exists
   before filtering or ordering (ties break by the group columns
   ascending). ``SELECT DISTINCT pcol`` parses as ``GROUP BY pcol``.

Anything unprovable — layout-mixed tables, tombstones under a value
item, missing stats, dropped columns, partial overlap — raises inside
the provers and the statement refuses. :func:`explain_metadata_sql`
reports which tier serves a statement and the I/O it commits to;
:func:`extract_as_of` strips a time-travel clause for callers that
fall back to a real scan and must pin the view themselves (the CLI).
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import DataFrame, SparkSession

from .snapshot import (
    FILES_KEY,
    _fold_items,
    _logical_fields,
    _manifest_fold,
    _restrict_parts,
    _spec_meta,
    manifest_range_count,
    null_count_pruned,
    range_group_multi,
    range_multi_pruned,
    range_null_count_pruned,
    read_manifest,
    resolve_as_of,
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
_OR_SPLIT = re.compile(r"\s+OR\s+", re.IGNORECASE)
_AND_SPLIT = re.compile(r"\s+AND\s+", re.IGNORECASE)
#: a conjunct CUT SHORT by the split: "col BETWEEN lit" missing its
#: upper bound — the following piece is BETWEEN's own AND-operand
_BTW_DANGLING = re.compile(rf"\bBETWEEN\s+{_LIT}\s*$", re.IGNORECASE)


def _split_top(text: str, sep: "re.Pattern") -> list:
    """Split on ``sep`` outside string literals: a position is inside
    a literal iff an odd number of quotes precede it (SQL doubles an
    embedded quote, which keeps the parity exact)."""
    out, start = [], 0
    for m in sep.finditer(text):
        if text.count("'", 0, m.start()) % 2 == 0:
            out.append(text[start:m.start()])
            start = m.end()
    return out + [text[start:]]


def _split_and(wtext: str) -> list:
    """Split a WHERE on conjunction ANDs, stitching back the AND that
    belongs to a BETWEEN (``v BETWEEN 100 AND 300`` is ONE atom)."""
    raw = _split_top(wtext, _AND_SPLIT)
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


#: item kinds the range/hybrid provers (and composite GROUP BY) serve
_RANGE_ITEMS = ("group", "count", "sum", "avg", "min", "max")
#: ``where`` kinds that carry a range window
_RANGED = ("range", "eqrange", "inrange", "orrange", "conjrange", "rangenull")


def _atom(text: str) -> "tuple | None":
    """One WHERE atom: ``("eq", col, raw)``, ``("in", col, [raw, …])``,
    ``("range", col, lo, hi, lo_strict, hi_strict)`` (a None bound is
    open) or ``("isnull", col, is_not)`` — raw literal strings — else
    None."""
    if (m := _W_EQ.match(text)) is not None:
        return ("eq", m["col"], m["val"])
    if (m := _W_IN.match(text)) is not None:
        return ("in", m["col"], _LIT_RE.findall(m["vals"]))
    if (m := _W_CMP.match(text)) is not None:
        op, val = m["op"], m["val"]
        if op in ("<", "<="):
            return ("range", m["col"], None, val, False, op == "<")
        return ("range", m["col"], val, None, op == ">", False)
    if (m := _W_BETWEEN.match(text)) is not None:
        return ("range", m["col"], m["lo"], m["hi"], False, False)
    if (m := _W_NULL.match(text)) is not None:
        return ("isnull", m["col"], m["not"] is not None)
    return None


def _parse_where(wtext: str) -> "tuple | None":
    """The conjunct grammar. A WHERE is one atom (:func:`_atom`, whose
    tuple it returns), one OR of two or more BETWEENs on one column
    (``("orrange", col, [(lo, hi), …])``), or an AND of atoms, in any
    order, named by its atom set — members are eq/IN atoms on distinct
    columns, as ``(col, [raw, …])``:

    - members only: ``("conj", [member, …])``;
    - one member + a NULL atom: ``("eqnull", col, [raw, …], ncol,
      is_not)``; a range + a NULL atom: ``("rangenull", col, lo, hi,
      lo_strict, hi_strict, ncol, is_not)``;
    - one eq / one IN + a range: ``("eqrange", col, raw, lo, hi,
      lo_strict, hi_strict, rcol)`` / ``("inrange", col, [raw, …], …)``;
      several members + a range: ``("conjrange", [member, …], lo, hi,
      lo_strict, hi_strict, rcol)``.

    Every other atom set — two ranges, two NULL atoms, a repeated
    member column, members with both a range and a NULL atom — returns
    None. ANDs and ORs inside string literals never split."""
    one = _atom(wtext)
    if one is not None:
        return one
    ors = [_W_BETWEEN.match(p) for p in _split_top(wtext, _OR_SPLIT)]
    if len(ors) > 1 and None not in ors:
        if len({b["col"] for b in ors}) > 1:
            return None  # disjuncts on different columns: scan
        return ("orrange", ors[0]["col"], [(b["lo"], b["hi"]) for b in ors])
    atoms = [_atom(p) for p in _split_and(wtext)]
    if None in atoms:
        return None
    members = [
        (a[1], [a[2]] if a[0] == "eq" else a[2])
        for a in atoms if a[0] in ("eq", "in")
    ]
    ranges = [a[1:] for a in atoms if a[0] == "range"]
    nulls = [a[1:] for a in atoms if a[0] == "isnull"]
    if (
        len({c.lower() for c, _v in members}) < len(members)
        or len(ranges) > 1
        or len(nulls) > 1
    ):
        return None
    if nulls:
        if ranges and not members:
            return ("rangenull",) + ranges[0] + nulls[0]
        if len(members) == 1 and not ranges:
            return ("eqnull",) + members[0] + nulls[0]
        return None
    if not ranges:
        return ("conj", members)
    rcol, *bounds = ranges[0]  # member kinds carry the window column last
    if len(members) > 1:
        return ("conjrange", members, *bounds, rcol)
    kind, col, raw = next(a for a in atoms if a[0] in ("eq", "in"))
    return (kind + "range", col, raw, *bounds, rcol)


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
    "group_by", "having", "order_by", "limit", "as_of"}`` — kind is
    ``count``/``countcol``/``cdistinct``/``sum``/``avg``/``min``/
    ``max``/``approx``/``quantile`` or ``group`` (col is None for
    count, the grouped column for ``group``); ``where`` is ``None`` or
    :func:`_parse_where`'s tuple (``("eq", col, raw)``, ``("range",
    col, lo, hi, lo_strict, hi_strict)``, …) with raw literal strings —
    or ``None`` if the statement is not provably metadata-answerable."""
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
        where = _parse_where(m.group("where"))
        if where is None:
            return None  # unsupported predicate: scan
    kind = where[0] if where is not None else None
    if gcols is not None:
        if n_bare != len(gcols):
            return None  # every grouped column must appear in the list
        if any(k == "cdistinct" for k, _, _ in items):
            # COUNT(DISTINCT) per group: only the degenerate
            # COUNT(DISTINCT pcol) GROUP BY pcol (= 1 per group) would
            # be provable — not worth a special case; scan decides
            return None
        if len(gcols) > 1 and (
            kind not in (None, "eq", "in", "conj")
            or any(k not in _RANGE_ITEMS for k, _, _ in items)
        ):
            # composite GROUP BY: count/sum/avg/min/max under no WHERE
            # or a partition restriction; everything else scans
            return None
        if kind in ("eqrange", "rangenull"):
            # eqrange: the member IS the group; range AND NULL counts
            # are served ungrouped only
            return None
        if kind in ("isnull", "eqnull") and any(
            k not in ("group", "count") for k, _, _ in items
        ):
            # grouped NULL predicate: per-group COUNTs only — other
            # aggregates over the null-filtered rows are cross-column
            # unprovable
            return None
    if kind in _RANGED and any(k not in _RANGE_ITEMS for k, _, _ in items):
        # under a window only count/sum/avg/min/max are served (the
        # hybrid provers); sketches, COUNT(col) and COUNT(DISTINCT)
        # have no prover there
        return None
    if kind == "rangenull" and any(k != "count" for k, _, _ in items):
        return None  # range AND NULL predicate: COUNT(*) only
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
    'T' rendering is not literal-comparable, …). An open (None) bound
    stays None."""
    if raw is None:
        return None
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
    recorded spark_schema, dropped columns gone; ``spec_types`` maps
    every partition-spec component to its simple type. Returns
    ``(path, version, manifest, field_types, spec_types)``."""
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
            version = resolve_as_of(path, parsed["as_of"]["timestamp"])
    man = read_manifest(path, version)
    if version is None:
        version = int(man.get("version") or 0)
    meta = man.get("schema") or {}
    field_types = {f.name: f.dataType for f in _logical_fields(meta)}
    return path, version, man, field_types, dict(_spec_meta(meta))


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
    _check_outputs(parsed)
    restrict, window, null_pred = _restriction(
        parsed["where"], spec_types, field_types
    )
    groups = _group_cols(parsed)
    items = [(k, c) for k, c, _a in parsed["items"] if k != "group"]
    try:
        if window is not None:
            # the manifest proves one window for COUNT(*) only: every
            # restricted partition fully inside or fully outside it
            col, windows = window
            if (
                groups or null_pred is not None or len(windows) != 1
                or any(k != "count" for k, _c in items)
            ):
                raise _Refuse()  # boundary scans: the hybrid tier
            n = manifest_range_count(
                path, col, **_bounds(windows[0]), version=version,
                where_partition=restrict,
            )
            if n is None:
                raise _Refuse()  # partial overlap / legacy stats: scan
            rows = [((), [n] * len(items))]
        else:
            if any(g not in spec_types for g in groups):
                raise _Refuse()  # only spec components group here
            rows = _manifest_fold(
                man, path,
                items if null_pred is None
                else _null_items(items, *null_pred),
                restrict, groups,
            )
            if null_pred is not None:
                rows = _null_rows(rows, items, null_pred[1], bool(groups))
            rows = [(g, vals) for g, _n, vals in rows]
    except ValueError:
        # mixed spec, tombstones under a value item, missing stats or
        # sketch, a dropped/unknown column: not provable → scan
        raise _Refuse()
    return _assemble_grouped(spark, parsed, rows, spec_types, field_types)


def _where_parts(where) -> tuple:
    """A ``where`` tuple back into its atoms: ``(members [(col, [raw,
    …])], window (col, [(lo, hi, lo_strict, hi_strict), …]) | None,
    null predicate (col, is_not) | None)``."""
    kind, *a = where or (None,)
    if kind in ("eq", "in"):
        return [(a[0], [a[1]] if kind == "eq" else a[1])], None, None
    if kind == "conj":
        return a[0], None, None
    if kind == "isnull":
        return [], None, tuple(a)
    if kind == "eqnull":
        return [tuple(a[:2])], None, tuple(a[2:])
    if kind in ("range", "rangenull"):
        return [], (a[0], [tuple(a[1:5])]), tuple(a[5:]) or None
    if kind == "orrange":
        return [], (a[0], [(lo, hi, False, False) for lo, hi in a[1]]), None
    if kind in ("eqrange", "inrange", "conjrange"):
        *head, lo, hi, lo_strict, hi_strict, rcol = a
        members = head[0] if kind == "conjrange" else [
            (head[0], [head[1]] if kind == "eqrange" else head[1])
        ]
        return members, (rcol, [(lo, hi, lo_strict, hi_strict)]), None
    return [], None, None


def _restriction(where, spec_types: dict, field_types: dict):
    """The one WHERE spec of both tiers and of EXPLAIN: ``(restriction,
    window, null predicate)``.

    - restriction: the eq/IN members typed against the partition spec,
      ``[(spec col, [members]), …]`` — snapshot._restrict_parts applies
      them conjunctively, each at its component's own directory level —
      or None;
    - window: ``(col, [(lo, hi, lo_strict, hi_strict), …])`` with the
      literals typed to manifest renderings; OR-windows merge into
      disjoint closed intervals (an empty ``lo > hi`` BETWEEN
      contributes nothing) — or None;
    - null predicate: ``(col, is_not)`` or None.

    Raises _Refuse on a non-spec member column, an unknown window
    column or a literal the column's type cannot compare."""
    members, window, null_pred = _where_parts(where)
    restrict = _coerce_conj(members, spec_types) or None
    if window is not None:
        col, windows = window
        t = _col_type(col, spec_types, field_types)
        windows = [
            (_typed_literal(lo, t), _typed_literal(hi, t), ls, hs)
            for lo, hi, ls, hs in windows
        ]
        if len(windows) > 1:
            merged: list = []
            for lo, hi, _ls, _hs in sorted(windows):
                if lo > hi:
                    continue
                if merged and lo <= merged[-1][1]:
                    merged[-1] = (merged[-1][0], max(merged[-1][1], hi),
                                  False, False)
                else:
                    merged.append((lo, hi, False, False))
            windows = merged
        window = (col, windows)
    return restrict, window, null_pred


def _bounds(w: tuple) -> dict:
    return dict(zip(("lo", "hi", "lo_strict", "hi_strict"), w))


def _col_type(col: str, spec_types: dict, field_types: dict) -> str:
    """A referenced column's simple type (spec components first); an
    unknown column refuses — the scan engine reports it."""
    t = spec_types.get(col) or (
        field_types[col].simpleString() if col in field_types else ""
    )
    if not t:
        raise _Refuse()
    return t


def _check_outputs(parsed: dict) -> None:
    """``HAVING`` must name a numeric aggregate alias (a MIN/MAX
    rendering or the group column would compare typed dates/strings)
    and ``ORDER BY`` an output alias — checked before anything is
    computed, so a refusal never throws a boundary scan away."""
    kinds = {a: k for k, _c, a in parsed["items"]}
    having, order_by = parsed["having"], parsed["order_by"]
    if having is not None and kinds.get(having[0]) not in (
        "count", "countcol", "sum", "avg", "approx", "quantile"
    ):
        raise _Refuse()
    if order_by is not None and order_by[0] not in kinds:
        raise _Refuse()


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


def hybrid_range_count(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str]",
    *,
    version: "int | str | None" = None,
    explain: bool = False,
) -> "DataFrame | None":
    """The MIDDLE tier between a metadata answer and a full scan: a
    statement whose WHERE carries a range window or a NULL predicate,
    answered from the manifest where it proves a partition and by ONE
    boundary scan per window over the rest. The spec
    (:func:`_restriction`) routes it:

    - windows (``col <op> lit``, ``BETWEEN``, an OR of BETWEENs on one
      column), optionally member-restricted (``pcol = lit``, ``pcol IN
      (…)``, their conjunctions), with any COUNT(*)/SUM/AVG/MIN/MAX
      list: one :func:`snapshot.range_multi_pruned` pass per merged
      window — or :func:`snapshot.range_group_multi` under ``GROUP BY
      pcol`` — and the disjoint windows' values merged with
      :func:`snapshot._fold_values`;
    - ``COUNT(*) WHERE col IS [NOT] NULL`` (optionally
      member-restricted) via :func:`snapshot.null_count_pruned`, and
      ``COUNT(*) WHERE <range> AND col IS [NOT] NULL`` via
      :func:`snapshot.range_null_count_pruned` — ungrouped only.

    Returns ``None`` for every other shape, an unknown table or column,
    a literal the column's type cannot compare, or anything a prover
    refuses — the caller then falls back to a real scan. Unlike
    :func:`answer_from_manifest` this DOES read data pages (the
    boundary), so it is a separate, caller-opted tier: the CLI applies
    it after a metadata refusal and before the full scan. ``explain``
    returns :func:`explain_metadata_sql`'s frame instead of the answer,
    reading no data page."""
    parsed = parse_metadata_select(sql)
    if (
        parsed is None
        or parsed["table"] not in tables
        or _where_parts(parsed["where"])[1:] == (None, None)
        or any(k not in _RANGE_ITEMS for k, _c, _a in parsed["items"])
    ):
        return None
    path, version, man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    items = [(k, c) for k, c, _a in parsed["items"] if k != "group"]
    groups = _group_cols(parsed)
    try:
        _check_outputs(parsed)
        restrict, window, null_pred = _restriction(
            parsed["where"], spec_types, field_types
        )
        for k, c in items:
            if k != "count":
                _col_type(c, spec_types, field_types)  # refuse pre-scan
        if null_pred is not None:
            if groups or any(k != "count" for k, _c in items):
                return None  # the null provers count rows, nothing else
            ncol, is_not = null_pred
            if window is None:
                outs = [null_count_pruned(
                    spark, path, ncol, is_not=is_not, version=version,
                    where_partition=restrict, explain_only=explain,
                )]
            else:
                (w,) = window[1]  # rangenull: one window, no members
                outs = [range_null_count_pruned(
                    spark, path, window[0], ncol, **_bounds(w),
                    is_not=is_not, version=version, explain_only=explain,
                )]
        else:
            if groups and groups != [
                (man.get("schema") or {}).get("partition_col")
            ]:
                return None  # only the partition column groups here
            prover = range_group_multi if groups else range_multi_pruned
            outs = [
                prover(
                    spark, path, window[0], items, **_bounds(w),
                    version=version, where_partition=restrict,
                    explain_only=explain,
                )
                for w in window[1]
            ]
        if explain:
            return _explain_frame(spark, "hybrid", *(
                sum(o[k] for o in outs)
                for k in ("meta_partitions", "scanned_partitions",
                          "scanned_files", "total_files")
            ))
        if null_pred is not None:
            rows = [((), [outs[0]["count"]] * len(items))]
        elif groups:
            per_group: dict = {}
            for o in outs:
                for g, vals in o["groups"]:
                    per_group.setdefault(g, []).append(vals)
            rows = [((g,), _fold_items(items, vs))
                    for g, vs in per_group.items()]
        else:
            rows = [((), _fold_items(items, [o["values"] for o in outs]))]
        return _assemble_grouped(
            spark, parsed, rows, spec_types, field_types
        )
    except (_Refuse, ValueError):
        # uncoercible literal, unknown column, mixed spec, sketch or
        # dropped column, SUM past int64: the scan decides or errors
        return None


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
      manifest (zero data pages). ``partitions_metadata`` is the live
      partitions its eq/IN members restrict to (1 for ``pcol = lit``,
      the present members for ``IN``, all live partitions without
      members) — whatever range or NULL predicate rides along.
    - ``tier='hybrid'`` — proven partitions answer from metadata and
      ONLY the boundary scans; the row carries the exact
      classification the real execution will use (same code path,
      scan skipped), summed over the statement's windows.
    - ``tier='scan'`` — the shape refuses both tiers; every live
      partition the members restrict to (and every file with recorded
      per-file stats) would be read.

    The routing is THE SAME code the answering path runs
    (:func:`answer_from_manifest` → :func:`hybrid_range_count` →
    scan), and the restriction comes from the same spec
    (:func:`_restriction`), so EXPLAIN can never drift from execution —
    pinned by tests that compare these counts against the real
    provers'."""
    if answer_from_manifest(spark, sql, tables, version=version) is None:
        hyb = hybrid_range_count(
            spark, sql, tables, version=version, explain=True
        )
        if hyb is not None:
            return hyb
        tier = "scan"
    else:
        tier = "metadata"
    parsed = parse_metadata_select(sql)
    if parsed is None:
        # unparseable shape: still attribute the scan to its table so
        # the partition/file counts are honest
        body, as_of = extract_as_of(sql)
        m = re.search(r"\bFROM\s+([A-Za-z_]\w*)", body, re.IGNORECASE)
        parsed = {
            "table": m.group(1) if m else None, "where": None,
            "as_of": as_of if version is None else None,
        }
    if parsed["table"] not in tables:
        return _explain_frame(spark, tier, 0, 0, 0, 0)
    _path, _v, man, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    live = man.get("partitions") or {}
    try:
        restrict = _restriction(parsed["where"], spec_types, field_types)[0]
        universe = len(_restrict_parts(
            live, man.get("schema") or {}, where_partition=restrict
        ))
    except (_Refuse, ValueError):
        # uncoercible literal / retired-spec directories: the estimate
        # degrades to the full live count, it never crashes an EXPLAIN
        universe = len(live)
    if tier == "metadata":
        return _explain_frame(spark, tier, universe, 0, 0, 0)
    # full scan: files where per-file stats are recorded (unrecorded
    # directories read whole either way)
    n_files = sum(
        len((s or {}).get(FILES_KEY) or {})
        for s in (man.get("stats") or {}).values()
    )
    return _explain_frame(spark, tier, 0, universe, n_files, n_files)


def _assemble_grouped(spark, parsed, groups, spec_types, field_types):
    """The one answer assembler: ``groups`` = ``[(group value tuple,
    [per-item values]), …]`` — the fold's rows or a hybrid prover's
    (one ``((), values)`` row for an ungrouped statement),
    values in statement order with group items left out, sum/avg as
    ``(sum, n)`` pairs. Scan-identical typing (group values and MIN/MAX
    renderings go through a string cast to the column's recorded type),
    then HAVING (numeric aliases, NULL aggregates drop — SQL), then
    ORDER BY <output alias> with the group-asc tie-break on every group
    column and LIMIT (the z63 discipline: the full group set exists
    before filtering or ordering — :func:`_check_outputs` vetted the
    aliases)."""
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
    if parsed["having"] is not None:
        hcol, hop, hval = parsed["having"]
        c = F.col(hcol)
        frame = frame.filter({
            "=": c == hval, "<>": c != hval, "<": c < hval,
            "<=": c <= hval, ">": c > hval, ">=": c >= hval,
        }[hop])
    if parsed["order_by"] is not None:
        ocol, desc = parsed["order_by"]
        key = F.col(ocol).desc() if desc else F.col(ocol).asc()
        frame = frame.orderBy(key, *[
            F.col(a).asc() for k, _, a in parsed["items"] if k == "group"
        ])
        if parsed["limit"] is not None:
            frame = frame.limit(parsed["limit"])
    return frame
