from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Vendored mini protobuf runtime (tests/_vendor/google/protobuf/_minirt.py):
# the transformWithStateInPandas state-server protocol needs google.protobuf,
# which this container lacks (no pip, no network).  Prefer a real protobuf
# when one exists; otherwise put the vendored shim on BOTH sys.path (driver
# imports) and PYTHONPATH — the latter BEFORE the JVM starts, because Spark's
# Python workers inherit it and the state clients run inside the workers.
_VENDOR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_vendor")
try:  # pragma: no cover - depends on container contents
    import google.protobuf  # noqa: F401
except ImportError:
    sys.path.append(_VENDOR)
    os.environ["PYTHONPATH"] = (
        _VENDOR + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _VENDOR
    )

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from edgy_spark.session import get_spark

    return get_spark("edgy-spark-tests", cpus=8)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from edgy_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def assert_matches_oracle(spark_df, duck_con, oracle_sql, *, approx=False):
    """Mimic the driver's check: row count + column names + order-insensitive
    value comparison (columns sorted by name, rows sorted)."""
    sdf = spark_df.toPandas()
    ddf = duck_con.sql(oracle_sql).df()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(ddf.columns)}"
    )
    cols = sorted(sdf.columns)

    def _key(row):
        return tuple((v is None, str(type(v)), str(v)) for v in row)

    s_rows = sorted(
        (tuple(_norm_cell(v) for v in row) for row in sdf[cols].itertuples(index=False)),
        key=_key,
    )
    d_rows = sorted(
        (tuple(_norm_cell(v) for v in row) for row in ddf[cols].itertuples(index=False)),
        key=_key,
    )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} oracle={len(d_rows)}"
    )
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if approx:
            for a, b in zip(sr, dr):
                if isinstance(a, float) and isinstance(b, float) and a != b:
                    assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9), (
                        f"row {i}: {sr} != {dr}"
                    )
                else:
                    assert a == b, f"row {i}: {sr} != {dr}"
        else:
            assert sr == dr, f"row {i} mismatch:\n  spark={sr}\n  oracle={dr}"


# The default run deselects the `slow` marker (pyproject addopts); say how
# many tests that left out, so a short green run is not read as the suite.
_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    if items:
        stash = items[0].config.stash
        stash[_SLOW_DESELECTED] = stash.get(_SLOW_DESELECTED, 0) + sum(
            1 for it in items if it.get_closest_marker("slow")
        )


def pytest_terminal_summary(terminalreporter, config):
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n:
        terminalreporter.write_line(
            f"{n} slow tests deselected (run them with `-m slow`, or "
            'everything with `-m ""`)'
        )
