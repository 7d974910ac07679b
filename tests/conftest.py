"""Shared pytest fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"


def write_parquet(dirpath, name: str, frame) -> str:
    """Write a pandas frame as ``<dirpath>/<name>.parquet``; returns the
    dir, shaped like an sf_dir, so a test drives a registered gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(frame, preserve_index=False),
        f"{dirpath}/{name}.parquet",
    )
    return str(dirpath)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    from big_data_flight_spark.session import get_session

    s = get_session("tests", cores=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from big_data_flight_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()
