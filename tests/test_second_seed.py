"""Second-seed oracle sweep (VERDICT r4 'What's missing' #2).

Runs the full oracle-differential suite against a fixture generated at a
DIFFERENT seed than the checked-in seed-42 data — the only check that can
catch a constant silently calibrated to the one fixture (mime arithmetic,
modulo filters, df-cutoff headroom, split buckets). Both engines read the
same regenerated files, so any hash mismatch here is a real
data-dependence bug, not a data change.

Gated behind SPARK_GRAFT_SECOND_SEED=1 (it duplicates the whole oracle
suite, ~3-4 min) so the default `pytest tests/` stays inside its budget:

    SPARK_GRAFT_SECOND_SEED=1 python -m pytest tests/test_second_seed.py -q

Any value > 1 is used as the generator seed itself (=1 keeps the
historical seed 7), so N independent sweeps cost nothing to add:

    SPARK_GRAFT_SECOND_SEED=13 python -m pytest tests/test_second_seed.py -q
"""

from __future__ import annotations

import os

import pytest

from tests.test_registry_oracle import ORACLE_NAMES, SPECS

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SECOND_SEED"),
    reason="second-seed sweep runs only with SPARK_GRAFT_SECOND_SEED=1",
)


def _sweep_seed() -> int:
    """Parse SPARK_GRAFT_SECOND_SEED strictly: '1' is the documented
    seed-7 alias, any other positive integer is the seed itself, and
    anything else (e.g. 'true', 'yes', '0', '-3') FAILS LOUDLY — the r12
    ADVICE point: a truthy typo silently re-running the historical seed
    would mislead whoever believes they ran an independent sweep."""
    raw = os.environ["SPARK_GRAFT_SECOND_SEED"]
    if not (raw.isdigit() and int(raw) >= 1):
        pytest.fail(
            f"SPARK_GRAFT_SECOND_SEED={raw!r} is not a positive integer; "
            "use 1 for the documented seed-7 alias or N>1 as the seed itself"
        )
    return int(raw) if int(raw) > 1 else 7


@pytest.fixture(scope="session")
def seed7_dir(tmp_path_factory) -> str:
    from scripts.gen_fixture import generate

    seed = _sweep_seed()
    out = str(tmp_path_factory.mktemp(f"seed{seed}_fixture"))
    generate(out, seed=seed)
    return out


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle_on_second_seed(spark, seed7_dir, name):
    from tests.oracle import compare_query

    compare_query(spark, SPECS[name], seed7_dir)


def test_lloyd_narrow_assign_agrees_on_second_seed(spark, seed7_dir, tmp_path):
    """r15 verdict item 5: the narrow/window bit-identity agreement pin
    (tests/test_plans.py::test_lloyd_narrow_assign_agrees_with_window)
    previously ran only on the checked-in seed-42 fixture; re-running the
    identical assertion body on the sweep fixture and on its tied copy
    closes the last fixture-coupling corner of the narrow-assign
    migration — a literal argmin subtly calibrated to one embedding
    distribution would diverge here. The plan-shape pins (zero-exchange,
    no-window) are data-independent and stay in test_plans.py."""
    from tests.conftest import write_tied_fixture
    from tests.test_plans import test_lloyd_narrow_assign_agrees_with_window

    tied = write_tied_fixture(seed7_dir, str(tmp_path))
    test_lloyd_narrow_assign_agrees_with_window(spark, seed7_dir, tied)


def test_second_seed_vec_ids_dense_from_zero(seed7_dir):
    """INFORMATIONAL fixture-shape pin (demoted in r15, twin of
    test_maintenance_edges.py::test_fixture_vec_ids_dense_from_zero):
    since the Lloyd seeds-CTE alignment both engines seed with the
    smallest vec_ids PRESENT, so density is no longer a correctness
    precondition — this just documents that scripts/gen_fixture.py emits
    vec_id = range(N) at every seed."""
    import pyarrow.parquet as pq

    ids = sorted(
        pq.read_table(os.path.join(seed7_dir, "embeddings.parquet"), columns=["vec_id"])
        .column("vec_id")
        .to_pylist()
    )
    assert ids == list(range(len(ids)))
