from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from northwind_etl_spark.session import get_spark

    s = get_spark("northwind-etl-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_lint(spark, sf_dir) -> tuple[list[str], list[str]]:
    """(lint hits, ledger diffs) of the one walk over the registry."""
    from .entry_lint import lint_registry

    return lint_registry(spark, sf_dir)
