from __future__ import annotations

import pytest

from google_cloud_ecommerce_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture
def tmp_warehouse(tmp_path, monkeypatch):
    """Persisted layouts built during the test go under ``tmp_path``
    instead of the repo's spark-warehouse (a tmp-dir corpus would
    otherwise leave its layouts there)."""
    from google_cloud_ecommerce_spark import io

    warehouse = tmp_path / "spark-warehouse"
    monkeypatch.setattr(io, "WAREHOUSE", warehouse)
    return warehouse
