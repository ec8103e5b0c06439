"""``MERGE INTO`` statement front-end over snapshot tables.

The reference drives its warehouse maintenance through SQL statements
(``dmCustomerProc.py:185-232``, SQL-11…16: UPDATE-from + INSERT-if-
absent + SCD2 close-out/open). The repo covers that intent as APIs
(``operators.upsert``, ``operators.scd2``, ``sources.snapshot.
merge_snapshot``) — this module exposes it the way a warehouse user
actually writes it: one ANSI ``MERGE INTO`` statement, parsed here and
routed to the snapshot layer's partition-scoped MERGE.

Why a front-end parser at all: open-source Spark's ``MERGE INTO`` SQL
only executes against catalogs implementing row-level operations
(Delta/Iceberg); against plain parquet it is an analysis error. The
snapshot layer already implements the hard part (txn-idempotent
partition-scoped rewrite with cold partitions carried by reference) —
what is missing is only the statement surface, so the parser below
translates the statement into DataFrame expressions and delegates.

Supported grammar (ANSI core, the subset every SQL-11…16-style
pipeline uses; anything else raises with the offending clause named):

    MERGE INTO <table> [AS] t
    USING (<subquery>) [AS] s        -- or a registered view name
    ON t.<key> = s.<key>             -- single equi-key (merge key)
    WHEN MATCHED [AND <guard>] THEN UPDATE SET col = expr [, ...]
    WHEN NOT MATCHED [AND <guard>] THEN INSERT (cols) VALUES (exprs)
    WHEN NOT MATCHED BY SOURCE [AND <guard>] THEN DELETE
    WHEN NOT MATCHED BY SOURCE [AND <guard>] THEN UPDATE SET ...

Any WHEN clause may be omitted (update-only / insert-only merges; at
most one BY SOURCE clause). ``WHEN MATCHED THEN DELETE`` is
intentionally NOT routed through this path: the snapshot layer's
row-level delete (``delete_where``) is a different physical operation
(anti-rewrite + CDF delete rows) and a guarded API call, not a silent
merge side-effect — callers get a pointed error. (``NOT MATCHED BY
SOURCE THEN DELETE`` is different: there the delete set is DEFINED by
the merge join itself — full-sync semantics — so it belongs here.)
All value expressions are Spark SQL (evaluated via ``F.expr`` over the
aliased join), never Python.

Scale shape, two tiers:

- Without a BY SOURCE clause the statement routes to
  ``merge_snapshot``: the matched set is ``target ⋈ source`` on the
  merge key — one join whose small side is the source batch (AQE
  broadcasts it when it fits); only partitions touched by the upsert
  frame are rewritten, cold partitions carry by reference. Cost
  O(source) + O(touched partitions), independent of table size.
- A BY SOURCE clause makes the statement full-sync: every target row
  must be classified matched/unmatched, so the target is scanned ONCE
  in full (that scan is what the semantics mean — same as Delta), but
  the rewrite is still scoped to partitions that actually CHANGED
  (guard-failing rows leave their partitions cold, carried by
  reference; fully-deleted partitions are dropped in the same commit
  via ``replace_partitions(drop_partitions=...)``).

Both tiers commit optimistically (ConcurrentCommitError on a lost
race) and accept a ``txn`` idempotence marker.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MERGE_RE = re.compile(
    r"""^\s*
    MERGE\s+INTO\s+(?P<target>[\w./-]+)\s+(?:AS\s+)?(?P<t>\w+)\s+
    USING\s+(?:\((?P<subq>.+?)\)|(?P<view>\w+))\s+(?:AS\s+)?(?P<s>\w+)\s+
    ON\s+(?P<on>.+?)
    (?P<whens>\s+WHEN\s+.+)$
    """,
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)

_WHEN_RE = re.compile(
    r"""WHEN\s+(?P<not>NOT\s+)?MATCHED(?:\s+(?P<bysrc>BY\s+SOURCE))?
    (?:\s+AND\s+(?P<guard>.+?))?\s+THEN\s+
    (?P<action>UPDATE\s+SET\s+.+?|INSERT\s*\(.+?\)\s*VALUES\s*\(.+?\)|DELETE)
    \s*(?=WHEN\s+(?:NOT\s+)?MATCHED|$)""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)


def _split_top(text: str) -> list[str]:
    """Split on commas at paren depth 0, OUTSIDE single-quoted SQL
    string literals (SET lists / VALUES lists may contain function
    calls and literals like ``'a,b'`` or ``'x)'``; '' is the SQL
    quote escape and stays inside the literal)."""
    out, depth, cur, in_str = [], 0, [], False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":  # '' escape
                    cur.append("''")
                    i += 2
                    continue
                in_str = False
            cur.append(ch)
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur).strip())
    return out


def _parse_on(on: str, t_alias: str, s_alias: str) -> tuple[str, str]:
    """The merge key: ``t.k = s.k`` (either order). A single equi-key
    is the contract the partition-scoped rewrite keys on; richer ON
    conditions belong in the USING subquery."""
    m = re.match(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", on)
    if not m:
        raise ValueError(
            f"MERGE ON must be a single equi-condition alias.col = alias.col "
            f"(got {on!r}); pre-join richer conditions in the USING subquery"
        )
    a1, c1, a2, c2 = m.groups()
    if {a1, a2} != {t_alias, s_alias}:
        raise ValueError(f"ON aliases {a1!r}/{a2!r} must be {t_alias!r} and {s_alias!r}")
    return (c1, c2) if a1 == t_alias else (c2, c1)


def parse_merge(sql: str) -> dict:
    """Parse a MERGE statement into its clauses (no execution)."""
    m = _MERGE_RE.match(sql.strip().rstrip(";"))
    if not m:
        raise ValueError("not a parseable MERGE INTO statement (see module grammar)")
    d = m.groupdict()
    out = {
        "target": d["target"],
        "t_alias": d["t"],
        "s_alias": d["s"],
        "source_subquery": d["subq"],
        "source_view": d["view"],
        "on": d["on"].strip(),
        "update_set": None,
        "update_guard": None,
        "insert_cols": None,
        "insert_vals": None,
        "insert_guard": None,
        "by_source_action": None,   # 'delete' | 'update'
        "by_source_set": None,
        "by_source_guard": None,
    }
    whens = d["whens"]
    matched_spans = list(_WHEN_RE.finditer(whens))
    if not matched_spans or "".join(
        whens[m0.start(): m0.end()] for m0 in matched_spans
    ).strip() != whens.strip():
        raise ValueError(f"unparseable WHEN clauses: {whens.strip()!r}")
    def _parse_set(action: str) -> dict:
        sets = {}
        for item in _split_top(action[action.upper().index("SET") + 3:]):
            lhs, rhs = item.split("=", 1)
            sets[lhs.strip().split(".")[-1]] = rhs.strip()
        return sets

    for w in matched_spans:
        action = w.group("action").strip()
        is_not = bool(w.group("not"))
        by_source = bool(w.group("bysrc"))
        guard = (w.group("guard") or "").strip() or None
        if by_source and not is_not:
            raise ValueError("MATCHED BY SOURCE is not a MERGE clause")
        if by_source:
            if out["by_source_action"] is not None:
                raise ValueError("multiple WHEN NOT MATCHED BY SOURCE clauses")
            if action.upper() == "DELETE":
                out["by_source_action"] = "delete"
            elif action.upper().startswith("UPDATE"):
                out["by_source_action"] = "update"
                out["by_source_set"] = _parse_set(action)
            else:
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE supports UPDATE SET or DELETE"
                )
            out["by_source_guard"] = guard
            continue
        if action.upper() == "DELETE":
            raise ValueError(
                "WHEN MATCHED THEN DELETE is not routed through MERGE: "
                "row-level delete is a separate guarded operation — use "
                "sources.snapshot.delete_where (anti-rewrite + CDF deletes)"
            )
        if action.upper().startswith("UPDATE"):
            if is_not:
                raise ValueError("WHEN NOT MATCHED cannot UPDATE")
            if out["update_set"] is not None:
                raise ValueError("multiple WHEN MATCHED UPDATE clauses")
            out["update_guard"] = guard
            out["update_set"] = _parse_set(action)
        else:
            if not is_not:
                raise ValueError("WHEN MATCHED cannot INSERT")
            if out["insert_cols"] is not None:
                raise ValueError("multiple WHEN NOT MATCHED INSERT clauses")
            mi = re.match(
                r"INSERT\s*\((?P<cols>.+?)\)\s*VALUES\s*\((?P<vals>.+)\)\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if not mi:
                raise ValueError(f"unparseable INSERT action: {action!r}")
            out["insert_guard"] = guard
            out["insert_cols"] = [c.strip().split(".")[-1] for c in _split_top(mi.group("cols"))]
            out["insert_vals"] = _split_top(mi.group("vals"))
            if len(out["insert_cols"]) != len(out["insert_vals"]):
                raise ValueError("INSERT column/value count mismatch")
    if (
        out["update_set"] is None
        and out["insert_cols"] is None
        and out["by_source_action"] is None
    ):
        raise ValueError("MERGE needs at least one WHEN clause")
    return out


def _target(p: dict, tables: dict[str, str], verb: str) -> str:
    """The snapshot path a parsed statement's target names."""
    if p["target"] not in tables:
        raise ValueError(
            f"unknown {verb} target {p['target']!r}; known: {sorted(tables)}"
        )
    return tables[p["target"]]


def _target_table(p: dict, tables: dict[str, str], verb: str):
    """``(path, manifest, spec columns)`` of a statement target whose
    recorded partition spec and schema the statement needs."""
    from .snapshot import _spec_meta, read_manifest

    path = _target(p, tables, verb)
    man = read_manifest(path)
    spec_cols = [c for c, _t in _spec_meta(man.get("schema") or {})]
    if not spec_cols:
        raise ValueError(
            f"{verb} target {p['target']!r} has no committed snapshot yet — "
            f"bootstrap it with write_snapshot ({verb} needs the table's "
            "recorded partition spec and schema)"
        )
    return path, man, spec_cols


def execute_merge(
    spark: SparkSession,
    sql: str,
    *,
    tables: dict[str, str],
    txn: tuple[str, int] | None = None,
) -> int:
    """Execute one MERGE INTO statement against a snapshot table.

    ``tables`` maps statement table names to snapshot paths (the
    session catalog for snapshot tables — temp views stay Spark's).
    The USING side resolves as a subquery or a registered temp view.
    Returns the new snapshot version. Concurrency/idempotence are
    ``merge_snapshot``'s: optimistic commit, optional ``txn`` marker.
    """
    from .snapshot import (
        _assign,
        _collect_partition_groups,
        _hive_path_name,
        merge_snapshot,
        read_snapshot,
        replace_partitions,
    )

    p = parse_merge(sql)
    path, meta, spec_cols = _target_table(p, tables, "MERGE")
    # merge_snapshot normalizes either form; pass the recorded shape
    part_arg = spec_cols if len(spec_cols) > 1 else spec_cols[0]
    t_cols = list(meta["schema"]["columns"])
    t_alias, s_alias = p["t_alias"], p["s_alias"]
    t_key, s_key = _parse_on(p["on"], t_alias, s_alias)

    if p["source_subquery"]:
        src = spark.sql(p["source_subquery"])
    else:
        src = spark.table(p["source_view"])
    # Pin the source plan: every path below evaluates it more than once
    # (dup-key check + matched/anti joins; the full-sync path also
    # collects the changed-partition set before materializing content),
    # and a nondeterministic USING subquery must not classify on one
    # run and write another's rows.
    src = src.localCheckpoint(eager=False)
    # ANSI MERGE errors when a target row is matched by more than one
    # source row; we enforce the slightly stronger (and cheaper to
    # state) contract that the source's merge keys are unique — dup
    # keys silently become duplicate table rows otherwise, corrupting
    # the upsert-by-key invariant every later merge relies on. One
    # map-side-combinable aggregate over the (small) source.
    dup = (
        src.groupBy(s_key)
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        raise ValueError(
            f"MERGE source has duplicate merge keys (first few: "
            f"{[r[0] for r in dup]}); aggregate the USING side to one "
            f"row per key — ANSI MERGE rejects multi-matches"
        )
    tt = read_snapshot(spark, path, meta["version"] or None).alias(t_alias)
    types = {c: tt.schema[c].dataType for c in t_cols}
    ss = src.alias(s_alias)
    on = F.col(f"{t_alias}.{t_key}") == F.col(f"{s_alias}.{s_key}")

    def _check_set(sets: dict, clause: str) -> None:
        bad = set(sets) - set(t_cols)
        if bad:
            raise ValueError(f"{clause} SET of unknown columns: {sorted(bad)}")
        if t_key in sets or any(c in sets for c in spec_cols):
            raise ValueError(
                f"{clause} SET may not reassign the merge key ({t_key!r}) or "
                f"a partition column ({spec_cols!r}): a key's partition "
                f"value is part of its identity (merge_snapshot contract)"
            )

    if p["update_set"] is not None:
        _check_set(p["update_set"], "UPDATE")
    if p["by_source_set"] is not None:
        _check_set(p["by_source_set"], "NOT MATCHED BY SOURCE UPDATE")
    if p["insert_cols"] is not None and set(p["insert_cols"]) != set(t_cols):
        raise ValueError(
            f"INSERT must supply every target column (incl. the partition "
            f"columns {spec_cols!r}): expected {sorted(t_cols)}, got "
            f"{sorted(p['insert_cols'])}"
        )

    def _inserts() -> DataFrame:
        unmatched = ss.join(tt, on, "left_anti")
        if p["insert_guard"]:
            unmatched = unmatched.filter(F.expr(p["insert_guard"]))
        vals = dict(zip(p["insert_cols"], p["insert_vals"]))
        return unmatched.select(*_assign(types, vals))

    if p["by_source_action"] is None:
        # Fast path: partition-scoped upsert, cost O(source) +
        # O(touched partitions) — merge_snapshot's contract.
        parts = []
        if p["update_set"] is not None:
            matched = tt.join(ss, on, "inner")
            if p["update_guard"]:
                matched = matched.filter(F.expr(p["update_guard"]))
            parts.append(
                matched.select(*_assign(types, p["update_set"], qual=t_alias))
            )
        if p["insert_cols"] is not None:
            parts.append(_inserts())
        upsert = parts[0]
        for extra in parts[1:]:
            upsert = upsert.unionByName(extra)
        return merge_snapshot(
            path,
            upsert,
            t_key,
            part_arg,
            expected_version=meta["version"],
            txn=txn,
        )

    # Full-sync path (a BY SOURCE clause): classify every target row,
    # rewrite only the partitions that actually change, drop partitions
    # the deletes emptied. The full-table classification scan is what
    # BY SOURCE means; the rewrite re-reads only the changed partitions.
    def _hit(guard: "str | None"):
        """Where a clause applies: no guard, or the guard is TRUE
        (FALSE or NULL leave the row as it is — three-valued logic)."""
        return F.coalesce(F.expr(guard), F.lit(False)) if guard else F.lit(True)

    upd, bs = _hit(p["update_guard"]), _hit(p["by_source_guard"])

    def _classify(target: DataFrame) -> "tuple[DataFrame, DataFrame]":
        """(new content of ``target``'s rows, the spec tuples of the
        rows a clause changes). A row's class depends on the source
        alone, so a partition-scoped ``target`` gives exactly those
        partitions' share of the full classification."""
        matched = target.join(ss, on, "inner")
        anti_t = target.join(ss, on, "left_anti")  # no source match
        new = matched.select(
            *_assign(types, p["update_set"] or {}, hit=upd, qual=t_alias)
        )
        if p["by_source_action"] == "delete":
            new = new.unionByName(anti_t.filter(~bs).select(*t_cols))
        else:
            new = new.unionByName(
                anti_t.select(*_assign(types, p["by_source_set"], hit=bs, qual=t_alias))
            )
        changes = [anti_t.filter(bs)]
        if p["update_set"] is not None:
            changes.append(matched.filter(upd))
        spec_sel = [F.col(f"{t_alias}.{c}").alias(c) for c in spec_cols]
        changed = changes[0].select(*spec_sel)
        for c in changes[1:]:
            changed = changed.unionByName(c.select(*spec_sel))
        return new, changed

    _, changed = _classify(tt)
    inserts = _inserts() if p["insert_cols"] is not None else None
    if inserts is not None:
        changed = changed.unionByName(inserts.select(*spec_cols))
    # O(partitions) driver metadata, same budget as delete_where
    affected = {
        _hive_path_name(spec_cols, tuple(r))
        for r in _collect_partition_groups(
            changed.distinct(), spec_cols[0], what="MERGE"
        )
    }
    if not affected:
        return meta["version"]  # nothing changed: commit nothing
    content, _ = _classify(
        read_snapshot(
            spark, path, meta["version"], partition_filter=lambda q: q in affected
        ).alias(t_alias)
    )
    if inserts is not None:
        content = content.unionByName(inserts)
    # replace_partitions pins the content and derives the partitions it
    # still holds; the affected ones it no longer holds are dropped.
    return replace_partitions(
        path,
        content,
        part_arg,
        expected_version=meta["version"],
        txn=txn,
        drop_partitions=affected,
    )


# --------------------------------------------------------------- DML
# UPDATE and DELETE statements (reference intent: dmCustomerProc.py
# drives its maintenance through SQL statements), each the statement
# form of the snapshot layer's two row-level cores: the copy-on-write
# rewrite (snapshot._cow_rewrite) and the merge-on-read writer
# (snapshot._mor_write), selectable by the caller.

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<target>[\w./-]+)"
    r"(?:\s+(?:AS\s+)?(?P<alias>(?!SET\b)\w+))?"
    r"\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<target>[\w./-]+)"
    r"(?:\s+(?:AS\s+)?(?P<alias>(?!WHERE\b|USING\b)\w+))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _has_top_level_kw(text: str, kw: str) -> bool:
    """True if ``kw`` appears at paren depth 0 outside string literals
    — catches ``UPDATE … FROM src`` / ``DELETE … USING src`` misuse
    without tripping on ``extract(month FROM d)`` inside calls."""
    depth, in_str = 0, False
    for tok in re.split(rf"(\b{kw}\b|['()])", text, flags=re.IGNORECASE):
        if in_str:
            if tok == "'":
                in_str = False
            continue
        if tok == "'":
            in_str = True
        elif tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif tok.upper() == kw.upper() and depth == 0:
            return True
    return False


def parse_update(sql: str) -> dict:
    """Parse ``UPDATE t [AS a] SET col = expr[, …] [WHERE cond]``.
    Raises on anything outside the grammar, with the misuse named —
    notably ``UPDATE … FROM`` (that is MERGE INTO's job here)."""
    m = _UPDATE_RE.match(sql.strip())
    if not m:
        raise ValueError("not a parseable UPDATE statement (UPDATE t SET col = expr [WHERE …])")
    d = m.groupdict()
    probe = d["sets"] + (" " + d["where"] if d["where"] else "")
    if _has_top_level_kw(probe, "FROM"):
        raise ValueError(
            "UPDATE … FROM is not supported — an update sourced from "
            "another table is MERGE INTO (WHEN MATCHED THEN UPDATE)"
        )
    sets = {}
    for item in _split_top(d["sets"]):
        if "=" not in item:
            raise ValueError(f"unparseable SET item: {item!r}")
        lhs, rhs = item.split("=", 1)
        name = lhs.strip()
        if d["alias"] and name.startswith(d["alias"] + "."):
            name = name[len(d["alias"]) + 1:]
        if not re.match(r"^\w+$", name):
            raise ValueError(f"SET target must be a bare column, got {lhs.strip()!r}")
        if name in sets:
            raise ValueError(f"column {name!r} assigned twice in SET")
        sets[name] = rhs.strip()
    return {
        "target": d["target"],
        "alias": d["alias"],
        "sets": sets,
        "where": (d["where"] or "").strip() or None,
    }


def parse_delete(sql: str) -> dict:
    """Parse ``DELETE FROM t [AS a] [WHERE cond]``. ``DELETE … USING``
    raises with a pointer to MERGE's NOT-MATCHED-BY-SOURCE clause."""
    m = _DELETE_RE.match(sql.strip())
    if not m:
        raise ValueError("not a parseable DELETE statement (DELETE FROM t [WHERE …])")
    d = m.groupdict()
    if d["where"] and _has_top_level_kw(d["where"], "USING"):
        raise ValueError(
            "DELETE … USING is not supported — a join-defined delete "
            "set is MERGE INTO (WHEN NOT MATCHED BY SOURCE THEN DELETE)"
        )
    return {
        "target": d["target"],
        "alias": d["alias"],
        "where": (d["where"] or "").strip() or None,
    }


def execute_update(
    spark: SparkSession,
    sql: str,
    *,
    tables: dict[str, str],
    txn: tuple[str, int] | None = None,
    mode: str = "copy-on-write",
    key: str | None = None,
):
    """Execute one UPDATE statement against a snapshot table, physical
    strategy selectable like DELETE's:

    ``mode="copy-on-write"`` (default, ``snapshot._cow_rewrite``): one
    column-pruned scan finds the partitions holding matches; ONLY
    those are re-read, matched rows get the SET values, the rest pass
    through unchanged, and ``replace_partitions`` rewrites them — cold
    partitions carry by reference. Returns the committed version.

    ``mode="merge-on-read"`` (requires ``key=``): the statement form
    of :func:`sources.snapshot.update_where` — equality tombstones for
    the matched keys plus appended new-version rows in ONE commit, no
    partition rewrite at all. Returns update_where's result dict and
    enforces its extra contracts (unique key among matches, no key
    reassignment).

    Both modes evaluate SET and WHERE over the scan under the
    statement's alias, cast each SET value to its column's recorded
    type, and keep standard three-valued WHERE logic (FALSE or NULL
    rows are untouched); SET may not reassign a partition column. A
    no-match update commits nothing and returns the parent version.
    """
    from .snapshot import (
        _assign,
        _check_sets,
        _cow_rewrite,
        _live_table,
        _mor_write,
    )

    p = parse_update(sql)
    path = _target(p, tables, "UPDATE")
    cond = F.expr(p["where"]) if p["where"] else F.lit(True)
    if mode == "merge-on-read":
        if key is None:
            raise ValueError(
                "merge-on-read update requires key=<row key column>"
            )
        return _mor_write(
            spark, path, cond, key, p["sets"], alias=p["alias"], txn=txn
        )
    if mode != "copy-on-write":
        raise ValueError(f"unknown update mode {mode!r}")
    _, man, spec_cols = _live_table(path, "update")
    t_cols = list(man["schema"]["columns"])
    _check_sets(p["sets"], t_cols, spec_cols)

    def rows(scoped: DataFrame, hit) -> DataFrame:
        types = {c: scoped.schema[c].dataType for c in t_cols}
        return scoped.select(*_assign(types, p["sets"], hit=hit))

    return _cow_rewrite(
        spark, path, cond, rows, verb="update", alias=p["alias"], txn=txn
    )[1]


def execute_delete(
    spark: SparkSession,
    sql: str,
    *,
    tables: dict[str, str],
    txn: tuple[str, int] | None = None,
    mode: str = "copy-on-write",
    key: str | None = None,
) -> dict:
    """Execute one DELETE statement against a snapshot table — the
    statement form of :func:`sources.snapshot.delete_where`, physical
    strategy selectable: ``mode="copy-on-write"`` rewrites matching
    partitions, ``mode="merge-on-read"`` (with ``key=``) commits key
    tombstones and rewrites nothing. Returns delete_where's result
    dict. ``DELETE FROM t`` with no WHERE empties the table (every
    partition dropped in one commit), matching SQL."""
    from .snapshot import _delete

    p = parse_delete(sql)
    return _delete(
        spark, _target(p, tables, "DELETE"), p["where"] or "true", txn=txn,
        mode=mode, key=key, alias=p["alias"],
    )


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<target>[\w./-]+)"
    r"(?:\s*\((?P<cols>[^)]*)\))?"
    r"\s+(?P<body>VALUES\s*.+|SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def parse_insert(sql: str) -> dict:
    m = _INSERT_RE.match(sql)
    if not m:
        raise ValueError(
            "not a parseable INSERT INTO statement "
            "(INSERT INTO t [(cols)] VALUES ... | SELECT ...)"
        )
    cols = m.group("cols")
    return {
        "target": m.group("target"),
        "cols": (
            [c.strip() for c in cols.split(",")] if cols is not None else None
        ),
        "body": m.group("body").strip(),
    }


def execute_insert(
    spark: SparkSession,
    sql: str,
    *,
    tables: dict[str, str],
    txn: tuple[str, int] | None = None,
) -> int:
    """Execute one INSERT INTO statement against a snapshot table —
    the statement form of :func:`sources.snapshot.append_snapshot`,
    completing the DML quartet. Two source forms: ``VALUES (…), (…)``
    (evaluated as Spark SQL inline rows) and ``SELECT …`` (any Spark
    SQL over the session's temp views; columns map POSITIONALLY onto
    the stated column list, SQL-standard). An omitted column list
    means every table column in recorded order; a stated list may
    omit nullable data columns (NULL-filled, SQL semantics) but must
    supply every partition-spec column — an accidental NULL-partition
    flood is a layout bug, not a default. Values cast to the table's
    recorded column types; a cast that cannot be expressed fails at
    analysis, never silently. Appends commit through
    ``append_snapshot``: optimistic, txn-idempotent, partition-
    revisiting appends rewrite that partition as the union."""
    from .snapshot import _assign, append_snapshot, read_snapshot

    p = parse_insert(sql)
    path, man, spec_cols = _target_table(p, tables, "INSERT")
    part_arg = spec_cols if len(spec_cols) > 1 else spec_cols[0]
    t_cols = list(man["schema"]["columns"])
    cols = p["cols"] if p["cols"] is not None else list(t_cols)
    bad = set(cols) - set(t_cols)
    if bad:
        raise ValueError(f"INSERT of unknown columns: {sorted(bad)}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"INSERT column list repeats a column: {cols}")
    missing_spec = [c for c in spec_cols if c not in cols]
    if missing_spec:
        raise ValueError(
            f"INSERT must supply the partition column(s) {missing_spec!r}: "
            "defaulting them would flood the NULL partition"
        )
    if p["body"].upper().startswith("VALUES"):
        src = spark.sql(
            f"SELECT * FROM {p['body']} AS __v({', '.join(cols)})"
        )
    else:
        src = spark.sql(p["body"])
        if len(src.columns) != len(cols):
            raise ValueError(
                f"INSERT SELECT yields {len(src.columns)} column(s), "
                f"the target list names {len(cols)}"
            )
        src = src.toDF(*cols)
    table = read_snapshot(spark, path, man["version"])
    types = {c: table.schema[c].dataType for c in t_cols}
    content = src.select(
        *_assign(
            types, {c: F.col(c) if c in cols else F.lit(None) for c in t_cols}
        )
    )
    return append_snapshot(
        path,
        content,
        part_arg,
        expected_version=man["version"],
        txn=txn,
    )


def execute_dml(
    spark: SparkSession,
    sql: str,
    *,
    tables: dict[str, str],
    txn: tuple[str, int] | None = None,
    delete_mode: str = "copy-on-write",
    delete_key: str | None = None,
    update_mode: str = "copy-on-write",
    update_key: str | None = None,
):
    """Route one DML statement (INSERT INTO / MERGE INTO / UPDATE /
    DELETE FROM) to
    its snapshot-layer executor by statement head. The single entry
    point the CLI uses; returns the executor's native result (version
    for INSERT/MERGE/copy-on-write UPDATE, the executor's result dict
    for DELETE and merge-on-read UPDATE)."""
    head = sql.strip().split(None, 1)[0].upper() if sql.strip() else ""
    if head == "MERGE":
        return execute_merge(spark, sql, tables=tables, txn=txn)
    if head == "UPDATE":
        return execute_update(
            spark, sql, tables=tables, txn=txn,
            mode=update_mode, key=update_key,
        )
    if head == "INSERT":
        return execute_insert(spark, sql, tables=tables, txn=txn)
    if head == "DELETE":
        return execute_delete(
            spark, sql, tables=tables, txn=txn,
            mode=delete_mode, key=delete_key,
        )
    raise ValueError(
        f"not a DML statement (INSERT/MERGE/UPDATE/DELETE): "
        f"{sql.strip()[:60]!r}"
    )
