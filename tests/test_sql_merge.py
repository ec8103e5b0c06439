"""MERGE INTO front-end (sources.sql_merge): grammar, routing to the
snapshot layer's partition-scoped merge, and the guarded error paths.
The full statement → final-table state is hash-verified against the
DuckDB oracle in test_oracle.py (z20); these tests pin the semantics
the oracle can't see — cold-partition carry, guards, rejections."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    read_manifest,
    read_snapshot,
    write_snapshot,
)
from pandas_analysis_with_postgres_spark.sources.sql_merge import (
    execute_merge,
    parse_merge,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def tbl(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 100, 10), (2, "b", 200, 10), (3, "c", 300, 20)],
        "k long, name string, cents long, p long",
    )
    path = str(tmp_path / "tbl")
    assert write_snapshot(df, path, "p") == 1
    return path


MERGE = """
MERGE INTO tbl AS t
USING (SELECT * FROM VALUES (2, 99), (3, 1), (9, 500) AS v(k, delta)) AS s
ON t.k = s.k
WHEN MATCHED AND s.delta > 10 THEN UPDATE SET cents = t.cents + s.delta
WHEN NOT MATCHED THEN INSERT (k, name, cents, p) VALUES
  (s.k, concat('new', CAST(s.k AS STRING)), s.delta, s.k * 10)
"""


def test_merge_statement_updates_inserts_guards_and_carries_cold(spark, tbl):
    v1 = read_manifest(tbl, 1)
    v = execute_merge(spark, MERGE, tables={"tbl": tbl})
    assert v == 2
    assert _rows(read_snapshot(spark, tbl)) == {
        (1, "a", 100, 10),    # unmatched target row survives
        (2, "b", 299, 10),    # matched, guard passes → updated
        (3, "c", 300, 20),    # matched but guard fails → untouched
        (9, "new9", 500, 90), # not matched → inserted
    }
    # p=20's key 3 failed the guard → partition untouched, carried by
    # reference (the partition-scoped rewrite the statement must keep)
    v2 = read_manifest(tbl, 2)
    assert v2["partitions"]["p=20"] == v1["partitions"]["p=20"]
    assert v2["partitions"]["p=10"] != v1["partitions"]["p=10"]


def test_merge_is_sql_only_no_python_row_eval(spark, tbl):
    """The statement's expressions must evaluate as Catalyst
    expressions (F.expr), never Python row UDFs."""
    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        parse_merge as _,  # noqa: F401 — import check only
    )
    import io
    import contextlib

    p = parse_merge(MERGE)
    assert p["update_set"] == {"cents": "t.cents + s.delta"}
    assert p["update_guard"] == "s.delta > 10"
    assert p["insert_cols"] == ["k", "name", "cents", "p"]
    # plan of the final table scan contains no Python eval nodes
    df = read_snapshot(spark, tbl)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "BatchEvalPython" not in buf.getvalue()


def test_update_only_and_insert_only_merges(spark, tmp_path):
    df = spark.createDataFrame([(1, 10, 0)], "k long, v long, p long")
    path = str(tmp_path / "t2")
    write_snapshot(df, path, "p")
    execute_merge(
        spark,
        """MERGE INTO t AS t USING (SELECT 1 AS k, 5 AS d) AS s
           ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = t.v + s.d""",
        tables={"t": path},
    )
    assert _rows(read_snapshot(spark, path)) == {(1, 15, 0)}
    execute_merge(
        spark,
        """MERGE INTO t AS t USING (SELECT 7 AS k, 70 AS d) AS s
           ON t.k = s.k WHEN NOT MATCHED THEN INSERT (k, v, p)
           VALUES (s.k, s.d, 1)""",
        tables={"t": path},
    )
    assert _rows(read_snapshot(spark, path)) == {(1, 15, 0), (7, 70, 1)}


def test_merge_rejections(spark, tbl):
    with pytest.raises(ValueError, match="DELETE"):
        execute_merge(
            spark,
            """MERGE INTO tbl AS t USING (SELECT 1 AS k) AS s ON t.k = s.k
               WHEN MATCHED THEN DELETE""",
            tables={"tbl": tbl},
        )
    with pytest.raises(ValueError, match="merge key|partition column"):
        execute_merge(
            spark,
            """MERGE INTO tbl AS t USING (SELECT 1 AS k) AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET p = 99""",
            tables={"tbl": tbl},
        )
    with pytest.raises(ValueError, match="every target column"):
        execute_merge(
            spark,
            """MERGE INTO tbl AS t USING (SELECT 9 AS k) AS s ON t.k = s.k
               WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""",
            tables={"tbl": tbl},
        )
    with pytest.raises(ValueError, match="equi-condition"):
        execute_merge(
            spark,
            """MERGE INTO tbl AS t USING (SELECT 1 AS k) AS s
               ON t.k = s.k AND t.p = 1
               WHEN MATCHED THEN UPDATE SET cents = 0""",
            tables={"tbl": tbl},
        )
    with pytest.raises(ValueError, match="unknown MERGE target"):
        execute_merge(
            spark,
            """MERGE INTO nope AS t USING (SELECT 1 AS k) AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET cents = 0""",
            tables={"tbl": tbl},
        )


def test_merge_against_view_source_and_txn_idempotence(spark, tbl):
    """USING a registered temp view; the txn marker makes redelivery a
    no-op at the snapshot layer (same machinery as streaming sinks)."""
    spark.createDataFrame([(2, 1000)], "k long, delta long").createOrReplaceTempView(
        "merge_src"
    )
    stmt = """MERGE INTO tbl AS t USING merge_src AS s ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET cents = t.cents + s.delta"""
    execute_merge(spark, stmt, tables={"tbl": tbl}, txn=("m", 1))
    before = _rows(read_snapshot(spark, tbl))
    assert (2, "b", 1200, 10) in before
    # redelivered with the same txn: snapshot layer drops it
    execute_merge(spark, stmt, tables={"tbl": tbl}, txn=("m", 1))
    assert _rows(read_snapshot(spark, tbl)) == before


def test_merge_not_matched_by_source_full_sync(spark, tmp_path):
    """BY SOURCE clause = full-sync: unmatched target rows delete (or
    update) under standard guard logic; the rewrite stays scoped to
    partitions that actually changed, emptied partitions are dropped,
    untouched partitions carry by reference."""
    path = str(tmp_path / "sync")
    write_snapshot(
        spark.createDataFrame(
            [
                (1, "a", 100, 10),
                (2, "b", 200, 10),
                (3, "c", 300, 20),
                (4, "d", 400, 30),
            ],
            "k long, name string, cents long, p long",
        ),
        path,
        "p",
    )
    v = execute_merge(
        spark,
        """MERGE INTO sync AS t
           USING (SELECT * FROM VALUES (2, 50), (9, 500) AS v(k, d)) AS s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET cents = t.cents + s.d
           WHEN NOT MATCHED THEN INSERT (k, name, cents, p)
             VALUES (s.k, 'new', s.d, 20)
           WHEN NOT MATCHED BY SOURCE AND t.cents >= 300 THEN DELETE""",
        tables={"sync": path},
    )
    assert v == 2
    assert _rows(read_snapshot(spark, path)) == {
        (1, "a", 100, 10),   # unmatched, guard fails (100 < 300) → kept
        (2, "b", 250, 10),   # matched → updated
        (9, "new", 500, 20), # inserted
        # 3 deleted (p=20 rewritten), 4 deleted (p=30 emptied)
    }
    m = read_manifest(path, 2)
    assert set(m["partitions"]) == {"p=10", "p=20"}  # p=30 dropped


def test_merge_by_source_update_and_cold_partition_carry(spark, tmp_path):
    path = str(tmp_path / "sync2")
    write_snapshot(
        spark.createDataFrame(
            [(1, 100, 10), (2, 200, 20), (3, 300, 30)],
            "k long, cents long, p long",
        ),
        path,
        "p",
    )
    v1 = read_manifest(path, 1)
    v = execute_merge(
        spark,
        """MERGE INTO t2 AS t
           USING (SELECT 1 AS k) AS s ON t.k = s.k
           WHEN NOT MATCHED BY SOURCE AND t.cents <= 200 THEN UPDATE SET
             cents = 0""",
        tables={"t2": path},
    )
    assert v == 2
    assert _rows(read_snapshot(spark, path)) == {
        (1, 100, 10),  # matched → untouched
        (2, 0, 20),    # unmatched, guard passes → zeroed
        (3, 300, 30),  # unmatched, guard fails → untouched
    }
    m2 = read_manifest(path, 2)
    # only p=20 changed; p=10 and p=30 carried by reference
    assert m2["partitions"]["p=10"] == v1["partitions"]["p=10"]
    assert m2["partitions"]["p=30"] == v1["partitions"]["p=30"]
    assert m2["partitions"]["p=20"] != v1["partitions"]["p=20"]


def test_merge_by_source_no_change_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "sync3")
    write_snapshot(
        spark.createDataFrame([(1, 100, 10)], "k long, cents long, p long"),
        path,
        "p",
    )
    v = execute_merge(
        spark,
        """MERGE INTO t3 AS t
           USING (SELECT 1 AS k) AS s ON t.k = s.k
           WHEN NOT MATCHED BY SOURCE THEN DELETE""",
        tables={"t3": path},
    )
    assert v == 1  # every target row matched: nothing to do, no commit
    assert read_manifest(path)["version"] == 1


def test_merge_rejects_duplicate_source_keys(spark, tbl):
    """ANSI MERGE errors when one target row is matched by more than
    one source row; the front-end enforces source-key uniqueness (the
    cheaper, stronger contract) instead of silently writing duplicate
    rows for one key."""
    with pytest.raises(ValueError, match="duplicate merge keys"):
        execute_merge(
            spark,
            """MERGE INTO tbl AS t
               USING (SELECT * FROM VALUES (2, 1), (2, 9) AS v(k, d)) AS s
               ON t.k = s.k WHEN MATCHED THEN UPDATE SET cents = s.d""",
            tables={"tbl": tbl},
        )


def test_merge_string_literals_with_commas_and_parens(spark, tbl):
    """Quote-aware clause splitting: literals containing commas or
    parens must parse (code-review finding)."""
    v = execute_merge(
        spark,
        """MERGE INTO tbl AS t USING (SELECT 9 AS k) AS s ON t.k = s.k
           WHEN NOT MATCHED THEN INSERT (k, name, cents, p)
           VALUES (s.k, concat('a,b', ')('), 7, 0)""",
        tables={"tbl": tbl},
    )
    assert v == 2
    got = {r.k: r.name for r in read_snapshot(spark, tbl).collect()}
    assert got[9] == "a,b)("


def test_full_sync_preserves_null_partition(spark, tmp_path):
    """Code-review data-loss finding: a changed NULL partition
    (__HIVE_DEFAULT_PARTITION__) must rewrite, not silently drop its
    untouched rows through a NULL-blind isin filter."""
    path = str(tmp_path / "nullp")
    write_snapshot(
        spark.createDataFrame(
            [(1, 100, None), (2, 200, None), (3, 300, 1)],
            "k long, cents long, p integer",
        ),
        path,
        "p",
    )
    v = execute_merge(
        spark,
        """MERGE INTO np AS t USING (SELECT 3 AS k) AS s ON t.k = s.k
           WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN DELETE""",
        tables={"np": path},
    )
    assert v == 2
    # k=1 deleted from the NULL partition; k=2 (same partition,
    # untouched) must SURVIVE; k=3 matched, partition p=1 cold
    assert _rows(read_snapshot(spark, path)) == {(2, 200, None), (3, 300, 1)}


# --------------------------------------------------- UPDATE / DELETE

from pandas_analysis_with_postgres_spark.sources.sql_merge import (  # noqa: E402
    execute_delete,
    execute_dml,
    execute_update,
    parse_delete,
    parse_update,
)


def test_update_statement_partition_scoped(spark, tbl):
    v1 = read_manifest(tbl, 1)
    v = execute_update(
        spark,
        "UPDATE tbl SET cents = cents * 2, name = upper(name) WHERE p = 10",
        tables={"tbl": tbl},
    )
    assert v == 2
    got = _rows(read_snapshot(spark, tbl))
    assert got == {
        (1, "A", 200, 10), (2, "B", 400, 10), (3, "c", 300, 20),
    }
    # p=20 held no matches: carried by reference, not rewritten
    man = read_manifest(tbl)
    assert man["partitions"]["p=20"] == v1["partitions"]["p=20"]
    assert man["partitions"]["p=10"] != v1["partitions"]["p=10"]


def test_update_where_three_valued_and_alias(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, 0), (2, 5, 0)], "k long, v long, p long"
    )
    path = str(tmp_path / "tri")
    write_snapshot(df, path, "p")
    # WHERE v > 1 is NULL for the v=NULL row: untouched (not updated)
    execute_update(
        spark,
        "UPDATE t AS x SET v = x.v + 1 WHERE x.v > 1",
        tables={"t": path},
    )
    assert _rows(read_snapshot(spark, path)) == {(1, None, 0), (2, 6, 0)}


def test_update_no_match_commits_nothing(spark, tbl):
    v = execute_update(
        spark, "UPDATE tbl SET cents = 0 WHERE k = 999", tables={"tbl": tbl}
    )
    assert v == 1 and read_manifest(tbl)["version"] == 1


def test_update_txn_idempotent(spark, tbl):
    v = execute_update(
        spark, "UPDATE tbl SET cents = cents + 1 WHERE k = 1",
        tables={"tbl": tbl}, txn=("job", 3),
    )
    assert v == 2
    v2 = execute_update(
        spark, "UPDATE tbl SET cents = cents + 1 WHERE k = 1",
        tables={"tbl": tbl}, txn=("job", 3),
    )
    assert v2 == 2  # replayed watermark: no-op
    assert {r.cents for r in read_snapshot(spark, tbl).filter("k=1").collect()} == {101}


def test_update_rejections(spark, tbl):
    with pytest.raises(ValueError, match="partition column"):
        execute_update(spark, "UPDATE tbl SET p = 99", tables={"tbl": tbl})
    with pytest.raises(ValueError, match="unknown columns"):
        execute_update(spark, "UPDATE tbl SET ghost = 1", tables={"tbl": tbl})
    with pytest.raises(ValueError, match="MERGE INTO"):
        parse_update("UPDATE tbl SET cents = s.c FROM src s WHERE s.k = tbl.k")
    with pytest.raises(ValueError, match="not a parseable UPDATE"):
        parse_update("UPDATE tbl WHERE k = 1")
    with pytest.raises(ValueError, match="assigned twice"):
        parse_update("UPDATE tbl SET a = 1, a = 2")
    with pytest.raises(ValueError, match="bare column"):
        parse_update("UPDATE tbl SET f(x) = 1")
    # extract(... FROM ...) inside a call is NOT the FROM misuse
    p = parse_update("UPDATE tbl SET m = extract(MONTH FROM ts)")
    assert p["sets"] == {"m": "extract(MONTH FROM ts)"}


def test_delete_statement_cow_and_mor(spark, tbl):
    out = execute_delete(
        spark, "DELETE FROM tbl WHERE k = 2", tables={"tbl": tbl}
    )
    assert out["deleted_rows"] == 1 and out["version"] == 2
    assert {r.k for r in read_snapshot(spark, tbl).collect()} == {1, 3}
    # merge-on-read flavor
    out2 = execute_delete(
        spark, "DELETE FROM tbl WHERE cents >= 300", tables={"tbl": tbl},
        mode="merge-on-read", key="k",
    )
    assert out2["mode"] == "merge-on-read" and out2["deleted_rows"] == 1
    assert {r.k for r in read_snapshot(spark, tbl).collect()} == {1}


def test_delete_no_where_empties_table(spark, tbl):
    out = execute_delete(spark, "DELETE FROM tbl", tables={"tbl": tbl})
    assert out["deleted_rows"] == 3 and out["dropped_partitions"] == 2
    assert read_snapshot(spark, tbl).count() == 0


def test_delete_rejections():
    with pytest.raises(ValueError, match="NOT MATCHED BY SOURCE"):
        parse_delete("DELETE FROM tbl WHERE k IN (1) USING src")
    with pytest.raises(ValueError, match="not a parseable DELETE"):
        parse_delete("DELETE tbl WHERE k = 1")


def test_execute_dml_routes_by_head(spark, tbl):
    v = execute_dml(
        spark, "UPDATE tbl SET cents = 0 WHERE k = 1", tables={"tbl": tbl}
    )
    assert v == 2
    out = execute_dml(
        spark, "DELETE FROM tbl WHERE k = 1", tables={"tbl": tbl}
    )
    assert out["deleted_rows"] == 1
    with pytest.raises(ValueError, match="not a DML"):
        execute_dml(spark, "SELECT 1", tables={"tbl": tbl})


def test_insert_values_and_select(spark, tbl):
    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        execute_insert,
    )

    v = execute_insert(
        spark,
        "INSERT INTO tbl VALUES (10, 'j', 50, 30), (11, 'k', 60, 30)",
        tables={"tbl": tbl},
    )
    assert v == 2
    got = _rows(read_snapshot(spark, tbl))
    assert (10, "j", 50, 30) in got and (11, "k", 60, 30) in got
    assert len(got) == 5
    # SELECT form, positional mapping, with a column list that omits a
    # nullable data column (NULL-filled)
    spark.createDataFrame(
        [(12, 70)], "a long, b long"
    ).createOrReplaceTempView("ins_src")
    execute_insert(
        spark,
        "INSERT INTO tbl (k, p) SELECT a, b FROM ins_src",
        tables={"tbl": tbl},
    )
    got2 = _rows(read_snapshot(spark, tbl))
    assert (12, None, None, 70) in got2 and len(got2) == 6


def test_insert_revisiting_partition_unions(spark, tbl):
    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        execute_insert,
    )

    execute_insert(
        spark,
        "INSERT INTO tbl VALUES (20, 'z', 1, 10)",
        tables={"tbl": tbl},
    )
    got = sorted(r["k"] for r in read_snapshot(spark, tbl).collect())
    assert got == [1, 2, 3, 20]  # p=10 rewritten as union, p=20 carried


def test_insert_txn_idempotent_and_rejections(spark, tbl):
    import pytest as _pytest

    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        execute_insert,
    )

    v = execute_insert(
        spark,
        "INSERT INTO tbl VALUES (30, 'x', 5, 40)",
        tables={"tbl": tbl},
        txn=("ins", 1),
    )
    v2 = execute_insert(
        spark,
        "INSERT INTO tbl VALUES (30, 'x', 5, 40)",
        tables={"tbl": tbl},
        txn=("ins", 1),
    )
    assert v2 == v  # replay commits nothing
    assert read_snapshot(spark, tbl).count() == 4
    with _pytest.raises(ValueError, match="unknown"):
        execute_insert(
            spark,
            "INSERT INTO tbl (k, nope, p) VALUES (1, 2, 3)",
            tables={"tbl": tbl},
        )
    with _pytest.raises(ValueError, match="partition"):
        execute_insert(
            spark,
            "INSERT INTO tbl (k, name) VALUES (1, 'q')",
            tables={"tbl": tbl},
        )
    with _pytest.raises(ValueError, match="column list"):
        execute_insert(
            spark,
            "INSERT INTO tbl (k, k, p) VALUES (1, 2, 3)",
            tables={"tbl": tbl},
        )


def test_insert_multicol_spec_via_dml_router(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        execute_dml,
    )

    df = spark.createDataFrame(
        [(1, "d1", "web", 10)], "k long, day string, source string, v long"
    )
    path = str(tmp_path / "tm")
    write_snapshot(df, path, ["day", "source"])
    execute_dml(
        spark,
        "INSERT INTO t VALUES (2, 'd1', 'api', 20), (3, 'd2', 'web', 30)",
        tables={"t": path},
    )
    got = _rows(
        read_snapshot(spark, path).select("k", "day", "source", "v")
    )
    assert got == {(1, "d1", "web", 10), (2, "d1", "api", 20),
                   (3, "d2", "web", 30)}
    assert "day=d2/source=web" in read_manifest(path)["partitions"]


def test_set_keeps_the_recorded_column_types(spark, tmp_path):
    # SET values cast to the column's recorded type in every mode (the
    # rule INSERT INTO already applied): a decimal or double result
    # never retypes a BIGINT column for every later reader.
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        update_where,
    )
    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        execute_dml,
    )

    df = spark.createDataFrame(
        [(1, 10, 0), (2, 20, 0), (3, 30, 1)], "k long, amt long, p long"
    )
    v1_schema = df.schema.simpleString()
    spark.createDataFrame([(1, 0.5)], "k long, d double").createOrReplaceTempView(
        "set_types_src"
    )
    statements = {  # name: (statement, new amt of k = 1)
        "cow": (
            lambda path: execute_dml(
                spark, "UPDATE t SET amt = amt * 1.5 WHERE k = 1", tables={"t": path}
            ),
            15,
        ),
        "mor": (
            lambda path: update_where(
                spark, path, "k = 1", {"amt": "amt * 1.5"}, key="k"
            ),
            15,
        ),
        "merge": (  # 10 + 0.5 truncates back into BIGINT
            lambda path: execute_merge(
                spark,
                "MERGE INTO t AS t USING set_types_src AS s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET amt = t.amt + s.d",
                tables={"t": path},
            ),
            10,
        ),
    }
    for name, (run, amt) in statements.items():
        path = str(tmp_path / name)
        write_snapshot(df, path, "p")
        run(path)
        cur = read_snapshot(spark, path)
        assert cur.schema.simpleString() == v1_schema, name
        assert read_snapshot(spark, path, 1).schema.simpleString() == v1_schema
        assert {tuple(r) for r in cur.collect()} == {
            (1, amt, 0), (2, 20, 0), (3, 30, 1)
        }, name


def test_update_alias_keeps_string_literals(spark, tmp_path):
    # SET/WHERE are evaluated over the aliased scan in both modes, so a
    # literal that spells the alias ('t.b.d.') is stored as written.
    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        execute_update,
    )

    df = spark.createDataFrame(
        [(1, "x", 0), (2, "y", 0)], "k long, note string, p long"
    )
    for mode in ("copy-on-write", "merge-on-read"):
        path = str(tmp_path / mode)
        write_snapshot(df, path, "p")
        execute_update(
            spark,
            "UPDATE t AS t SET note = 't.b.d.' WHERE t.k = 1",
            tables={"t": path},
            mode=mode,
            key="k",
        )
        assert {tuple(r) for r in read_snapshot(spark, path).collect()} == {
            (1, "t.b.d.", 0),
            (2, "y", 0),
        }, mode


def test_delete_alias_qualifies_columns(spark, tmp_path):
    # the WHERE is evaluated over the scan aliased as the statement
    # names it, in both modes; a literal that spells the alias
    # ('x.k = 1') is compared as written
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "x.k = 1", 0), (3, "c", 1)],
        "k long, note string, p long",
    )
    for mode in ("copy-on-write", "merge-on-read"):
        path = str(tmp_path / mode)
        write_snapshot(df, path, "p")
        res = execute_delete(
            spark,
            "DELETE FROM t AS x WHERE x.k = 1 OR x.note = 'x.k = 2'",
            tables={"t": path},
            mode=mode,
            key="k",
        )
        assert res["deleted_rows"] == 1, mode
        assert {tuple(r) for r in read_snapshot(spark, path).collect()} == {
            (2, "x.k = 1", 0),
            (3, "c", 1),
        }, mode
