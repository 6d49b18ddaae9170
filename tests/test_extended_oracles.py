"""Every oracle in the registry — the driver's budget and the local tier
alike — verified in pytest with the driver's exact comparison (rows +
schema + order-insensitive values), via the same code path
tools/check_oracle.py runs."""

import pytest

from lidartree_spark.queries import queries
from tools.check_oracle import all_oracles, compare_one, duck_connect

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(all_oracles()))
def test_extended_oracle(spark, duck, name):
    err = compare_one(spark, duck, name, queries()[name],
                      all_oracles()[name], SF)
    assert err is None, f"{name}: {err}"
