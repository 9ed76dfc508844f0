from __future__ import annotations

import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unified_vector_database_spark import artifacts
from unified_vector_database_spark.session import get_spark
from unified_vector_database_spark.tables import TABLES

SF_DIR = os.environ.get("UVDB_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def session_tempdir(tmp_path_factory):
    """The temp dir of this run, under pytest's basetemp: persisted
    builds, stream checkpoints and the package zip then go away with
    pytest's retention instead of piling up in the system temp dir."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tempfile, "tempdir", str(tmp_path_factory.mktemp("tmp")))
        yield tempfile.tempdir


@pytest.fixture(scope="session")
def spark(session_tempdir):
    s = get_spark("uvdb-tests", cpus=8, shuffle_partitions=8)
    # Plan-text tests look for artifact directories in a scan's
    # Location, which Spark abbreviates to this many characters; paths
    # under basetemp are ~30 characters longer than under /tmp.
    s.conf.set("spark.sql.maxMetadataStringLength", "400")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def write_embeddings(tmp_path):
    """write(seed) -> (sf_dir, vectors): (over)writes a seeded 200x64
    `embeddings.parquet` in the TESTDATA layout under tmp_path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(seed: int, n: int = 200, dim: int = 64):
        x = np.random.default_rng(seed).standard_normal(
            (n, dim)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in range(n)], pa.int32()),
        }), str(tmp_path / "embeddings.parquet"))
        return str(tmp_path), x
    return write


@pytest.fixture
def built():
    """built(kind, path) -> the directory artifacts.persisted published
    for `path`'s current content; fails the test if there is none."""
    def get(kind, path):
        def unbuilt(_):
            pytest.fail(f"no persisted {kind!r} for {path}")
        return artifacts.persisted(kind, path, unbuilt)
    return get
