"""The one manifest fold behind the pure-metadata answerers, checked
statement by statement against a scan of the same snapshot.

One table carries every shape the fold must handle at once: a
two-component ``[k, r]`` spec with a NULL ``r`` partition, ``::sum`` and
``::hll`` columns renamed after the write, a dropped column whose stats
are still in the manifest, min/max/null/sum/hll/hist stats, and one
merge-on-read tombstoned partition. Every item kind runs under every
WHERE shape and every grouping; an answered statement must equal the
scan, and the answered set may only grow.

The range/hybrid family runs the same way over that table and over a
single-column table (``GROUP BY p`` is the grouped hybrid tier's
shape): every WHERE kind, each conjunction in both atom orders, at the
metadata and the hybrid tier."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.operators import sketches as SK
from pandas_analysis_with_postgres_spark.sources import metadata_sql as MS
from pandas_analysis_with_postgres_spark.sources import snapshot as S
from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
    answer_from_manifest,
    explain_metadata_sql,
    hybrid_range_count,
    parse_metadata_select,
)
from pandas_analysis_with_postgres_spark.sources.snapshot import (
    append_snapshot,
    delete_where,
    evolve_snapshot_schema,
    manifest_aggregate,
    manifest_approx_distinct,
    manifest_column_sum,
    manifest_range_count,
    null_count_pruned,
    range_count_pruned,
    range_group_multi,
    range_null_count_pruned,
    range_sum_pruned,
    register_snapshot_view,
    write_snapshot,
)

SCHEMA = "id bigint, k bigint, r string, v bigint, cents bigint, u bigint, d bigint"
ROWS = [
    (
        i,
        1 + i % 3,
        None if i % 5 == 0 else "ab"[i % 2],
        None if i % 4 == 0 else (i * 7) % 53,
        i * 11,
        i % 9,
        i % 4,
    )
    for i in range(1, 49)
]
STATS = [
    "id", "v", "v::sum", "v::hll", "v::hist:10",
    "cents::sum", "u::hll", "d::sum", "d::hll",
]
#: the MoR-deleted row: its partition (k=3, r NULL) is tombstoned
DELETED_ID = 5

#: (item id, SELECT item, kind, logical column)
ITEMS = [
    ("count", "COUNT(*)", "count", None),
    ("countcol", "COUNT(v)", "countcol", "v"),
    ("cdistinct", "COUNT(DISTINCT r)", "cdistinct", "r"),
    ("sum", "SUM(c2)", "sum", "c2"),
    ("avg", "AVG(v)", "avg", "v"),
    ("min", "MIN(v)", "min", "v"),
    ("max", "MAX(c2)", "max", "c2"),
    ("minspec", "MIN(k)", "min", "k"),
    ("approx", "APPROX_COUNT_DISTINCT(u2)", "approx", "u2"),
    ("quantile", "APPROX_QUANTILE(v, 50)", "quantile", "v"),
]
WHERES = {
    "none": None,
    "eq": "k = 1",
    "in": "k IN (1, 2)",
    "conj": "k IN (1, 2) AND r = 'a'",
    "isnull": "v IS NULL",
    "notnull": "v IS NOT NULL",
    "eqnull": "k = 1 AND v IS NULL",
    "innotnull": "k IN (1, 2) AND v IS NOT NULL",
}
GROUPS = {"g0": [], "g1": ["r"], "g2": ["k", "r"]}


def _sql(item: str, where, groups) -> str:
    sel = ", ".join(groups + [f"{item} AS a"])
    sql = f"SELECT {sel} FROM t"
    if where:
        sql += f" WHERE {where}"
    if groups:
        sql += " GROUP BY " + ", ".join(groups)
    return sql


STATEMENTS = [
    (f"{iid}|{wid}|{gid}", iid, wid, gid)
    for iid, *_ in ITEMS
    for wid in WHERES
    for gid in GROUPS
]

#: statements the answerer served before the fold replaced the five
#: hand-built SQL paths; the fold must serve every one of them
PARENT_ANSWERED = {
    f"{iid}|{shape}"
    for iid, shapes in {
        'approx': "conj|g0 conj|g1 eq|g0 eq|g1 in|g0 in|g1",
        'avg': "conj|g0 conj|g1 conj|g2 eqnull|g0 eq|g0 eq|g1 eq|g2"
        " innotnull|g0 in|g0 in|g1 in|g2",
        'cdistinct': "conj|g0 eq|g0 in|g0 none|g0",
        'count': "conj|g0 conj|g1 conj|g2 eqnull|g0 eqnull|g1 eq|g0 eq|g1"
        " eq|g2 innotnull|g0 innotnull|g1 in|g0 in|g1 in|g2 none|g0 none|g1"
        " none|g2",
        'countcol': "conj|g0 conj|g1 eqnull|g0 eq|g0 eq|g1 innotnull|g0"
        " in|g0 in|g1",
        'min': "conj|g0 conj|g1 conj|g2 eqnull|g0 eq|g0 eq|g1 eq|g2"
        " innotnull|g0 in|g0 in|g1 in|g2",
        'minspec': "conj|g0 eq|g0 in|g0",
        'quantile': "conj|g0 conj|g1 eq|g0 eq|g1 innotnull|g0 in|g0"
        " in|g1",
        'sum': "conj|g0 conj|g1 eq|g0 eq|g1 in|g0 in|g1",
    }.items()
    for shape in shapes.split()
}


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fold") / "t")
    write_snapshot(
        spark.createDataFrame(ROWS, SCHEMA), path, ["k", "r"],
        stats_cols=STATS,
    )
    delete_where(
        spark, path, f"id = {DELETED_ID}", mode="merge-on-read", key="id"
    )
    evolve_snapshot_schema(
        path, renames={"cents": "c2", "u": "u2"}, drops=["d"]
    )
    register_snapshot_view(spark, path, "fold_view")
    return path


def _truth(spark, iid, where, groups):
    """``{group tuple: value}`` for one item, from a scan of the view."""
    kind, col = next((k, c) for i, _it, k, c in ITEMS if i == iid)
    df = spark.sql(
        "SELECT * FROM fold_view" + (f" WHERE {where}" if where else "")
    )
    if kind == "approx":
        keyed = df.withColumn("_g", F.lit(1))
        est = SK.hll_estimate(
            SK.hll_registers(keyed, groups + ["_g"], col), groups + ["_g"]
        ).collect()
        return {tuple(r[g] for g in groups): r.hll_estimate for r in est}
    if kind == "quantile":
        vals: dict = {}
        for r in df.collect():
            vals.setdefault(tuple(r[g] for g in groups), []).append(r[col])
        return {g: _bucket_quantile(vs, 50, 10) for g, vs in vals.items()}
    item = next(it for i, it, _k, _c in ITEMS if i == iid)
    q = _sql(item, where, groups).replace(" FROM t", " FROM fold_view")
    return {tuple(r[g] for g in groups): r.a for r in spark.sql(q).collect()}


def _bucket_quantile(vals, p, width):
    """The manifest histogram's quantile: the lower edge of the first
    bucket whose cumulative count crosses ``p`` percent (NULLs skip)."""
    c = Counter(v // width for v in vals if v is not None)
    total, cum = sum(c.values()), 0
    for b in sorted(c):
        cum += c[b]
        if cum * 100 >= total * p:
            return b * width
    return None


def _answered(spark, table, iid, wid, gid):
    item = next(it for i, it, _k, _c in ITEMS if i == iid)
    groups = GROUPS[gid]
    out = answer_from_manifest(
        spark, _sql(item, WHERES[wid], groups), {"t": table}
    )
    if out is None:
        return None
    return {tuple(r[g] for g in groups): r.a for r in out.collect()}


def test_every_statement_matches_the_scan(spark, table):
    answered = set()
    for sid, iid, wid, gid in STATEMENTS:
        got = _answered(spark, table, iid, wid, gid)
        if got is None:
            continue
        answered.add(sid)
        want = _truth(spark, iid, WHERES[wid], GROUPS[gid])
        if iid == "approx":
            assert set(got) == set(want), sid
            for g in want:
                assert got[g] == pytest.approx(want[g], rel=1e-9), sid
        else:
            assert got == want, sid
    assert PARENT_ANSWERED <= answered, sorted(PARENT_ANSWERED - answered)


def test_renamed_sum_groups_by_two_components(spark, table):
    # the composite GROUP BY used to look ::sum entries up by their
    # physical key, so a renamed base column refused there only
    for sid, iid, wid, gid in STATEMENTS:
        if sid in ("sum|eq|g2", "sum|in|g2", "sum|conj|g2", "max|eq|g2"):
            got = _answered(spark, table, iid, wid, gid)
            assert got == _truth(spark, iid, WHERES[wid], GROUPS[gid]), sid


DROPPED = [
    "SELECT SUM(d) AS a FROM t WHERE k = 1",
    "SELECT k, SUM(d) AS a FROM t WHERE k = 1 GROUP BY k",
    "SELECT APPROX_COUNT_DISTINCT(d) AS a FROM t WHERE k = 1",
    "SELECT MIN(d) AS a, MAX(d) AS b FROM t WHERE k = 1",
    "SELECT k, MIN(d) AS a FROM t WHERE k = 1 GROUP BY k",
    "SELECT COUNT(d) AS a FROM t WHERE k = 1",
    "SELECT MIN(cents) AS a FROM t WHERE k = 1",
]


def test_dropped_and_retired_columns_refuse(spark, table):
    for sql in DROPPED:
        assert answer_from_manifest(spark, sql, {"t": table}) is None, sql
        with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
            spark.sql(sql.replace(" FROM t", " FROM fold_view")).collect()
    wp = ("k", 1)
    with pytest.raises(ValueError, match="'d'"):
        manifest_aggregate(table, columns=["d"], where_partition=wp)
    with pytest.raises(ValueError, match="'d'"):
        manifest_column_sum(table, "d", where_partition=wp)
    with pytest.raises(ValueError, match="'d'"):
        manifest_approx_distinct(table, "d", where_partition=wp)
    # the renamed columns still answer under their new names
    assert manifest_column_sum(table, "c2", where_partition=wp) == (
        sum(r[4] for r in ROWS if r[1] == 1),
        sum(1 for r in ROWS if r[1] == 1),
    )


def test_one_statement_reads_the_manifest_at_most_twice(
    spark, table, monkeypatch
):
    calls = []
    real = S.read_manifest

    def counting(path, version=None):
        calls.append(version)
        return real(path, version)

    monkeypatch.setattr(S, "read_manifest", counting)
    monkeypatch.setattr(MS, "read_manifest", counting)
    item_list = ", ".join(
        f"{it} AS a{i}" for i, (iid, it, _k, _c) in enumerate(ITEMS)
        if iid not in ("cdistinct", "minspec")
    )
    for sql in (
        f"SELECT {item_list} FROM t WHERE k = 1",
        f"SELECT r, {item_list} FROM t WHERE k IN (1, 2) GROUP BY r",
        "SELECT k, r, COUNT(*) AS n, SUM(c2) AS s, MIN(v) AS lo"
        " FROM t WHERE k = 1 GROUP BY k, r",
        "SELECT COUNT(*) AS n, COUNT(v) AS c, MIN(v) AS lo FROM t"
        " WHERE k = 1 AND v IS NOT NULL",
    ):
        calls.clear()
        assert answer_from_manifest(spark, sql, {"t": table}) is not None
        assert len(calls) <= 2, (sql, calls)


def test_one_statement_one_snapshot(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "pin")
    df = spark.createDataFrame(ROWS, SCHEMA)
    write_snapshot(df, path, ["k", "r"], stats_cols=STATS)
    sql = (
        "SELECT COUNT(*) AS n, COUNT(v) AS c, SUM(cents) AS s, MAX(v) AS hi,"
        " APPROX_COUNT_DISTINCT(u) AS u FROM t WHERE k IN (1, 2)"
    )
    before = answer_from_manifest(spark, sql, {"t": path}).collect()
    real = S.read_manifest
    injected = []

    def racing(p, version=None):
        man = real(p, version)
        if not injected:
            # a writer commits right after the statement resolved
            injected.append(True)
            append_snapshot(
                    path,
                    spark.createDataFrame(
                        [(99, 1, "a", 52, 999, 8, 0)], SCHEMA
                    ),
                    ["k", "r"],
            )
        return man

    monkeypatch.setattr(S, "read_manifest", racing)
    monkeypatch.setattr(MS, "read_manifest", racing)
    during = answer_from_manifest(spark, sql, {"t": path}).collect()
    assert injected
    assert during == before
    monkeypatch.undo()
    after = answer_from_manifest(spark, sql, {"t": path}).collect()
    assert after[0].n == before[0].n + 1


def test_int_hll_sketch_matches_bigint(spark, tmp_path):
    rows = [(i % 3, (i * 37) % 101) for i in range(200)]
    ests = []
    for typ in ("int", "bigint"):
        path = str(tmp_path / typ)
        write_snapshot(
            spark.createDataFrame(rows, f"p bigint, w {typ}"), path, "p",
            stats_cols=["w::hll"],
        )
        ests.append(manifest_approx_distinct(path, "w"))
    assert ests[0] == ests[1]
    assert 80 <= ests[0] <= 120  # 101 true distinct, HLL tolerance


# ------------------------------------------------ range / hybrid family
#: the single-column table: p in 0..3, v = p*100 + i clustered by p,
#: w NULL on every third row
RANGE_SCHEMA = "v bigint, p bigint, w bigint"
RANGE_ROWS = [
    (p * 100 + i, p, (p * 100 + i) if (p + i) % 3 else None)
    for p in range(4)
    for i in range(30)
]
#: (where id, table, WHERE, item lists, groupings) — ``_r`` is the same
#: conjunction with its atoms in the other order
RANGE_WHERES = [
    ("range", "t", "v > 30", "nm", "0"),
    ("specrange", "t", "k >= 2", "n", "0"),
    ("eqrange", "t", "k = 1 AND v > 30", "nm", "0"),
    ("eqrange_r", "t", "v > 30 AND k = 1", "n", "0"),
    ("inrange", "t", "k IN (1, 2) AND id BETWEEN 10 AND 30", "n", "0"),
    ("inrange_r", "t", "id BETWEEN 10 AND 30 AND k IN (1, 2)", "m", "0"),
    ("conjrange", "t", "k IN (1, 2) AND r = 'a' AND v < 20", "n", "0"),
    ("conjrange_r", "t", "v < 20 AND r = 'a' AND k IN (1, 2)", "m", "0"),
    ("orrange", "t", "id BETWEEN 1 AND 10 OR id BETWEEN 40 AND 45", "nm", "0"),
    ("rangenull", "t", "id > 20 AND v IS NULL", "n", "0"),
    ("rangenull_r", "t", "v IS NULL AND id > 20", "n", "0"),
    ("isnull", "t", "v IS NULL", "n", "0"),
    ("eqnull", "t", "k = 1 AND v IS NOT NULL", "n", "0"),
    ("eqnull_r", "t", "v IS NOT NULL AND k = 1", "n", "0"),
    ("andliteral", "t", "k = 1 AND r = 'a AND b'", "n", "0"),
    ("orliteral", "t", "r = 'x OR y' AND v > 3", "n", "0"),
    ("inrange", "g", "p IN (1, 2) AND v > 150", "n", "0g"),
    ("inrange_r", "g", "v > 150 AND p IN (1, 2)", "n", "0"),
    ("eqrange", "g", "p = 1 AND v > 150", "n", "0"),
    ("eqrange_r", "g", "v > 150 AND p = 1", "n", "0"),
    ("range", "g", "v BETWEEN 50 AND 250", "m", "g"),
    ("orrange", "g", "v BETWEEN 10 AND 120 OR v BETWEEN 300 AND 315", "m", "g"),
    ("eqnull", "g", "p = 1 AND w IS NULL", "n", "0"),
    ("innull", "g", "p IN (1, 2) AND w IS NOT NULL", "n", "0"),
]
RANGE_ITEMS = {
    "n": "COUNT(*) AS n",
    "m": "COUNT(*) AS n, SUM(v) AS s, MIN(v) AS lo, MAX(v) AS hi",
}
RANGE_STATEMENTS = [
    (f"{tbl}|{wid}|{ik}|{g}", tbl, where, ik, g == "g")
    for wid, tbl, where, iks, gs in RANGE_WHERES
    for ik in iks
    for g in gs
]

#: the tier that answered each statement before the range/hybrid family
#: shared one WHERE spec (the metadata tier is tried first); each must
#: still be answered, by the same tier or by metadata instead of hybrid
PARENT_RANGE_ANSWERED = {
    "t|range|n|0": "hybrid",
    "t|range|m|0": "hybrid",
    "t|specrange|n|0": "metadata",
    "t|eqrange|n|0": "hybrid",
    "t|eqrange|m|0": "hybrid",
    "t|inrange|n|0": "hybrid",
    "t|conjrange|n|0": "hybrid",
    "t|conjrange_r|m|0": "hybrid",
    "t|orrange|n|0": "hybrid",
    "t|orrange|m|0": "hybrid",
    "t|rangenull|n|0": "hybrid",
    "t|isnull|n|0": "hybrid",
    "t|eqnull|n|0": "metadata",
    "t|orliteral|n|0": "metadata",
    "g|inrange|n|0": "hybrid",
    "g|inrange|n|g": "hybrid",
    "g|eqrange|n|0": "metadata",
    "g|range|m|g": "hybrid",
    "g|orrange|m|g": "hybrid",
    "g|eqnull|n|0": "metadata",
    "g|innull|n|0": "metadata",
}
#: answered only since: the reversed atom orders, a literal holding
#: ' AND ' inside a conjunction, and the metadata tier's
#: member-restricted window (which the hybrid tier served before)
NEWLY_ANSWERED = {
    "t|eqrange_r|n|0": "hybrid",
    "t|inrange_r|m|0": "hybrid",
    "t|rangenull_r|n|0": "hybrid",
    "t|eqnull_r|n|0": "metadata",
    "t|andliteral|n|0": "metadata",
    "g|inrange|n|0": "metadata",
    "g|inrange_r|n|0": "metadata",
    "g|eqrange_r|n|0": "metadata",
}


@pytest.fixture(scope="module")
def rtable(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("range") / "g")
    write_snapshot(
        spark.createDataFrame(RANGE_ROWS, RANGE_SCHEMA), path, "p",
        stats_cols=["v", "w", "v::sum"],
    )
    register_snapshot_view(spark, path, "range_view")
    return path


def _range_sql(where: str, ik: str, grouped: bool) -> str:
    sel = ("p, " if grouped else "") + RANGE_ITEMS[ik]
    return f"SELECT {sel} FROM t WHERE {where}" + (
        " GROUP BY p" if grouped else ""
    )


def _rows(df) -> list:
    return sorted(
        (tuple(round(v, 9) if isinstance(v, float) else v for v in r)
         for r in df.collect()),
        key=lambda r: [(v is None, v) for v in r],
    )


def test_range_family_matches_the_scan(spark, table, rtable):
    tiers = {}
    for sid, tbl, where, ik, grouped in RANGE_STATEMENTS:
        sql = _range_sql(where, ik, grouped)
        tables = {"t": table if tbl == "t" else rtable}
        want = None
        for tier, answer in (
            ("metadata", answer_from_manifest), ("hybrid", hybrid_range_count)
        ):
            out = answer(spark, sql, tables)
            if out is None:
                continue
            tiers.setdefault(sid, tier)
            if want is None:
                view = "fold_view" if tbl == "t" else "range_view"
                want = _rows(spark.sql(sql.replace(" FROM t", f" FROM {view}")))
            assert _rows(out) == want, (sid, tier)
    for sid, tier in PARENT_RANGE_ANSWERED.items():
        assert sid in tiers, sid
        assert tier == "hybrid" or tiers[sid] == "metadata", sid
    for sid, tier in NEWLY_ANSWERED.items():
        assert tiers.get(sid) == tier, sid


def test_range_family_parse_corners():
    # an OR across columns, or next to another atom, stays unparseable
    for where in (
        "v BETWEEN 1 AND 2 OR r = 'x OR y'",
        "k = 1 AND v BETWEEN 1 AND 2 OR v BETWEEN 5 AND 9",
        "v > 1 AND v < 9",
        "k = 1 AND k = 2",
        "k = 1 AND r = 'a' AND v IS NULL",
        "v > 1 AND k = 1 AND w IS NULL",
    ):
        assert parse_metadata_select(
            f"SELECT COUNT(*) AS n FROM t WHERE {where}"
        ) is None, where
    # any atom order names the same kind with the same tuple
    a = parse_metadata_select("SELECT COUNT(*) FROM t WHERE k = 1 AND v > 3")
    b = parse_metadata_select("SELECT COUNT(*) FROM t WHERE v > 3 AND k = 1")
    assert a["where"] == b["where"] == (
        "eqrange", "k", "1", "3", None, True, False, "v"
    )


def test_explain_universe_follows_the_restriction(spark, rtable):
    for where, n in (
        ("p = 1 AND w IS NULL", 1),
        ("p IN (1, 2) AND w IS NOT NULL", 2),
        ("p = 1 AND v > 150", 1),
        ("v > 150 AND p = 1", 1),
    ):
        e = explain_metadata_sql(
            spark, f"SELECT COUNT(*) AS n FROM t WHERE {where}", {"t": rtable}
        ).collect()[0]
        assert (e.tier, e.partitions_metadata, e.partitions_scanned) == (
            "metadata", n, 0
        ), where


def test_range_and_null_provers_refuse_dropped_columns(spark, table):
    # 'd' was dropped after the write: its d::sum / d::hll stats linger,
    # and the scan raises UNRESOLVED_COLUMN, so no prover may answer
    wp = ("k", 1)
    for call in (
        lambda: range_sum_pruned(
            spark, table, "id", "d", lo=0, hi=1000, where_partition=wp
        ),
        lambda: range_count_pruned(spark, table, "d", lo=0, hi=10),
        lambda: null_count_pruned(spark, table, "d"),
        lambda: range_null_count_pruned(
            spark, table, "id", "d", lo=0, hi=1000, is_not=True
        ),
        lambda: range_group_multi(
            spark, table, "id", [("sum", "d")], lo=0, hi=1000
        ),
        lambda: manifest_range_count(table, "d", lo=0),
    ):
        with pytest.raises(ValueError, match="'d'"):
            call()
    # the renamed column still answers under its new name
    assert range_sum_pruned(
        spark, table, "id", "c2", lo=0, hi=1000, where_partition=wp
    )["sum"] == sum(r[4] for r in ROWS if r[1] == 1)
