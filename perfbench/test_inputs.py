"""Input-generator properties the benchmark relies on.

    python -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pytest

from perfbench.inputs import TABLES, InputSet, make_inputs
from perfbench.workloads import OVERHEAD_MIX, TPCH_LARGE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sorted_rows(table):
    return sorted(tuple(r.values()) for r in table.to_pylist())


@pytest.mark.parametrize("scale", [1, 3])
def test_same_seed_same_inputs(scale):
    a, b = make_inputs(7, scale), make_inputs(7, scale)
    assert all(a[t].equals(b[t]) for t in TABLES)


def test_other_seed_permutes_rows_only():
    a, b = make_inputs(1), make_inputs(2)
    assert not a["lineitem"].equals(b["lineitem"])
    for t in TABLES:
        assert _sorted_rows(a[t]) == _sorted_rows(b[t]), t


def test_replicas_keep_keys_unique_and_joinable():
    base, big = make_inputs(3, 1), make_inputs(3, 4)
    for t, key in [("orders", "o_orderkey"), ("customer", "c_custkey"),
                   ("part", "p_partkey"), ("supplier", "s_suppkey")]:
        assert big[t].num_rows == 4 * base[t].num_rows
        assert pc.count_distinct(big[t][key]).as_py() == big[t].num_rows
    assert big["lineitem"].num_rows == 4 * base["lineitem"].num_rows
    orders = set(big["orders"]["o_orderkey"].to_pylist())
    assert set(big["lineitem"]["l_orderkey"].to_pylist()) <= orders
    assert big["events"].equals(base["events"])


@pytest.mark.parametrize("scale,ops", [(1, OVERHEAD_MIX), (2, TPCH_LARGE)])
def test_other_seed_same_oracle_results(tmp_path, scale, ops):
    from pyspark_xgboost_spark import registry

    from perfbench.oracle import Oracle

    sql = registry.all_oracles()
    a = Oracle(ROOT, InputSet(str(tmp_path / "a"), 1, scale).master, sql)
    b = Oracle(ROOT, InputSet(str(tmp_path / "b"), 2, scale).master, sql)
    try:
        for op in ops:
            assert a.expected(op) == b.expected(op), op
    finally:
        a.close()
        b.close()
