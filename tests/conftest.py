from __future__ import annotations

from pathlib import Path

import pytest

from graph_database_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def unbuildable_queries() -> dict[str, str]:
    """Catalog queries the catalog-wide sweeps cannot build on this
    checkout, by name with the reason: ``snap_metrics`` reads the
    reference's SNAP ego networks, present only beside the reference
    dataset (the directory the golden tests read)."""
    from test_snap_golden import DATA

    if Path(DATA).is_dir():
        return {}
    return {"snap_metrics": f"reference SNAP data absent ({DATA})"}
