"""Mirror of the driver's correctness gate: every registered query with
an oracle must match DuckDB exactly (row count + columns + values) on the
same parquet tables. Queries without an oracle get a rows-run smoke
check."""

from __future__ import annotations

import pytest

from cognitive_score_bigdata_spark.queries import (
    committed_ledgers,
    ledger_keys,
    load_registry,
)
from tests.conftest import SF_DIR, assert_frames_match

REGISTRY = load_registry()
WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle)
NO_ORACLE = sorted(n for n, s in REGISTRY.items() if not s.oracle)
LEDGER_KEYS = ledger_keys(committed_ledgers())
# One-query-per-family parity smoke: in each family (the name's prefix
# before the first "_"), the alphabetically first name with an oracle.
FAMILY_SMOKE = set({n.split("_")[0]: n for n in reversed(WITH_ORACLE)}.values())


# A query whose latest driver row passed runs with the sweep; one the
# driver has never checked, or last saw red, runs by default too, and
# so does the family smoke.
@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.oracle_sweep)
        if LEDGER_KEYS.get(n, -1) >= 0 and n not in FAMILY_SMOKE
        else n
        for n in WITH_ORACLE
    ],
)
def test_query_matches_oracle(spark, oracle_con, name):
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, SF_DIR).toPandas()
    oracle_pdf = oracle_con.execute(spec.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.oracle_sweep
@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_DIR)
    # non-vacuous: a 0-row result can't witness anything (commit 05d98a8
    # found three such queries; this pins the audit as a regression test)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_not_vacuous(oracle_con, name):
    """A hash-match on 0 rows verifies nothing — every oracle must
    produce rows at the test scale factor. DuckDB-side only: cheap, and
    parity (above) transfers the guarantee to the Spark side."""
    n = oracle_con.execute(
        f"SELECT count(*) FROM ({REGISTRY[name].oracle})"
    ).fetchone()[0]
    assert n > 0, f"{name}: oracle returns 0 rows at test SF — vacuous pass"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())


def test_every_rows_only_query_documents_its_coverage():
    """VERDICT r4 #4: a rows-only registry entry must say why it cannot
    be oracle-checked and which driver-verified sibling pins its
    machinery — otherwise it reads as an unverified operator."""
    from cognitive_score_bigdata_spark.queries import ROWS_ONLY_RATIONALE

    undocumented = [
        n
        for n in NO_ORACLE
        if n not in ROWS_ONLY_RATIONALE
        and "[rows-only:" not in REGISTRY[n].doc
    ]
    assert not undocumented, undocumented
    stale = [n for n in ROWS_ONLY_RATIONALE if REGISTRY[n].oracle is not None]
    assert not stale, f"rationale for queries that now HAVE oracles: {stale}"
