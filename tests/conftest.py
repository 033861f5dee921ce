from __future__ import annotations

import pytest

import os
import shutil

from multithreaded_mapreduce_library_spark.session import get_spark

# Default sf0.001 for speed; SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
# replicates the driver's correctness gate exactly.
SMOKE_SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def _cache_home(tmp_path_factory):
    """Sessions the tests start in subprocesses keep their class-data
    archive under pytest's temp dir, not the user's cache."""
    home = tmp_path_factory.mktemp("cache_home")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(home))
        yield
    shutil.rmtree(home, ignore_errors=True)  # archives are ~140 MB each


@pytest.fixture(scope="session")
def spark():
    # -Xshare:auto is the JVM's default; naming it opts this session out of
    # the class-data archive, whose recording would run at interpreter exit
    spark = get_spark(
        app_name="tests", cpus=8, shuffle_partitions=8,
        extra_conf={"spark.driver.extraJavaOptions": "-Xshare:auto"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF


def write_tied_fixture(src: str, out: str) -> str:
    """Copy the fixture in ``src`` to ``out`` with vec_id 1's embedding
    replaced by vec_id 0's. Both are seeds of the Lloyd and PQ trainers,
    so every vector nearest to seed 0 is exactly as near to seed 1: only
    the (d2, cid) tiebreak decides the first assignment pass. Other
    tables are symlinked."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from multithreaded_mapreduce_library_spark.sources.tables import TABLES, table_path

    for t in TABLES:
        if t != "embeddings":
            os.symlink(table_path(src, t), table_path(out, t))
    emb = pq.read_table(table_path(src, "embeddings"))
    ids = emb.column("vec_id").to_pylist()
    vecs = emb.column("embedding").to_pylist()
    vecs[ids.index(1)] = vecs[ids.index(0)]
    field = emb.schema.field("embedding")
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"), field, pa.array(vecs, type=field.type)
    )
    pq.write_table(emb, table_path(out, "embeddings"))
    return out


@pytest.fixture(scope="session")
def tied_sf_dir(sf_dir, tmp_path_factory) -> str:
    """``sf_dir`` with two seed vectors tied (``write_tied_fixture``)."""
    return write_tied_fixture(sf_dir, str(tmp_path_factory.mktemp("tied_sf")))
