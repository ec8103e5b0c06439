"""Every mutating query is re-runnable (plans.extension_queries' build/run
contract): each call repeats its mutation on its own clone of a
fixture-built template, so a second call returns the same answer from
different files and leaves every fixture directory untouched."""

from __future__ import annotations

import hashlib
import os

import pytest

from pandas_analysis_with_postgres_spark.plans import QUERIES
from pandas_analysis_with_postgres_spark.plans.extension_queries import FIXTURES

from .conftest import SF_SMOKE

MUTATING = (
    "a71_bpe_train",
    "z10_scd2_lakehouse",
    "z11_incremental_matview",
    "z14_optout_delete",
    "z15_schema_evolution",
    "z20_sql_merge",
    "z21_sql_merge_sync",
    "z42_mor_delete",
    "z43_sql_update",
    "z44_sql_delete",
    "z47_live_optout",
    "z48_compact_partitions",
    "z49_wap_publish",
    "z50_restore",
    "z52_branch_merge",
    "z53_partition_evolution",
    "z56_stream_branch_ingest",
    "z58_alter_upgrade",
    "z103_deep_clone",
    "z109_multicol_dml",
)


def _hash(df) -> str:
    """Order-insensitive hash of a fully materialized result."""
    rows = sorted(repr(tuple(r)) for r in df.select(sorted(df.columns)).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _fixture_listing() -> set[tuple[str, str, int, int]]:
    out = set()
    for fx in FIXTURES.values():
        for root in fx.roots():
            for d, _, files in os.walk(root):
                for f in files:
                    st = os.stat(os.path.join(d, f))
                    rel = os.path.relpath(os.path.join(d, f), root)
                    out.add((root, rel, st.st_size, st.st_mtime_ns))
    return out


@pytest.mark.parametrize("name", MUTATING)
def test_mutating_query_reruns_on_its_own_clone(spark, name):
    first = QUERIES[name](spark, SF_SMOKE)
    h1, files1 = _hash(first), set(first.inputFiles())
    before = _fixture_listing()
    second = QUERIES[name](spark, SF_SMOKE)
    assert _hash(second) == h1, f"{name}: second call answered differently"
    assert not files1 & set(second.inputFiles()), (
        f"{name}: both calls read the same files"
    )
    assert _fixture_listing() == before, f"{name}: a fixture was mutated"
