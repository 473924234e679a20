from __future__ import annotations

import sys
from pathlib import Path

import pytest

#: the checkout these tests belong to (not whichever copy is installed)
REPO_ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO_ROOT)

from datalake_project_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={
        # tiny data: fewer partitions = faster tests
        "spark.sql.shuffle.partitions": "4",
    })
    yield s
    s.stop()


def rows(df):
    """Canonical sorted row tuples for order-insensitive comparison
    (None sorts first via a stringified key, so nullable columns compare)."""
    out = [tuple(r) for r in df.collect()]
    return sorted(out, key=lambda t: tuple((x is not None, str(x)) for x in t))
