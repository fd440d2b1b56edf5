"""sf0.1 full-sweep oracle parity — the README's 'parity holds at sf0.1'
claim as a CI-cadence check.  Marked slow (deselected by default via
pytest.ini); run `python -m pytest -m slow tests/` before shipping
changes that touch query semantics."""

from __future__ import annotations

import pytest

from test_oracle_parity import (
    QUERIES,
    _duck_connection,
    assert_query_matches_oracle,
)

pytestmark = pytest.mark.slow

SF01_DIR = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def duck01(tmp_path_factory):
    con = _duck_connection(SF01_DIR, tmp_path_factory.mktemp("duck_spill"))
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_sf01(name, spark, duck01):
    assert_query_matches_oracle(name, spark, SF01_DIR, duck01)
