"""The independent cohort oracle (DuckDB) against the registered
u5 example oracle and against hand-built cases."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import datagen
import oracle
from workloads import COHORT_REQUESTS

EXAMPLE = {  # operators/cohort_queries.py EXAMPLE_COHORT as wire JSON
    "include": [
        [{"type": "order", "priorities": ["1-URGENT", "2-HIGH"]}],
        [
            {"type": "order", "date_from": "1996-01-01", "date_to": "1997-01-01"},
            {"type": "lineitem", "returnflags": ["R"]},
        ],
    ],
    "exclude": [{"type": "subject", "max_balance": 0.0}],
}
TABLES = ["customer", "orders", "lineitem"]


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("star"))
    datagen.star_tables(d, 0.01, seed=3)
    con = oracle.connect(d, TABLES)
    yield con
    con.close()


def test_example_count_matches_registered_oracle(star):
    from lens_warehouse_spark.registry import ORACLES, load_all

    load_all()
    (want,) = star.execute(ORACLES["u5_cohort_count"]).fetchone()
    got = oracle.answer(star, EXAMPLE)
    assert got["count"] == want > 0
    facets = [tuple(r) for r in star.execute(ORACLES["u5_cohort_facets"]).fetchall()]
    assert got["facets"] == facets
    assert sum(n for _, n in facets) == got["count"]


def test_cohort_requests_facets_sum_to_count(star):
    for req, _ in COHORT_REQUESTS:
        ans = oracle.answer(star, req)
        assert sum(n for _, n in ans["facets"]) == ans["count"]


def _ts(day: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(day)


@pytest.fixture()
def tiny(tmp_path):
    """Five subjects with hand-placed orders and line items."""
    cust = pa.table({
        "c_custkey": pa.array([0, 1, 2, 3, 4], pa.int64()),
        "c_acctbal": [-5.0, 10.0, 20.0, 30.0, 40.0],
        "c_mktsegment": ["A", "A", "B", "B", "C"],
    })
    orders = pa.table({
        "o_orderkey": pa.array([10, 11, 12, 13, 14, 15], pa.int64()),
        "o_custkey": pa.array([0, 1, 1, 2, 3, 3], pa.int64()),
        "o_orderstatus": ["F", "O", "F", "P", "O", "F"],
        "o_totalprice": [100.0, 200.0, 300.0, 400.0, 500.0, 600.0],
        "o_orderdate": pa.array(
            [_ts(d) for d in ("1996-03-01", "1995-01-01", "1996-12-31",
                              "1997-01-01", "1996-06-01", "1999-01-01")],
            pa.timestamp("us"),
        ),
        "o_orderpriority": ["1-URGENT", "1-URGENT", "3-MEDIUM", "1-URGENT", "5-LOW", "2-HIGH"],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array([10, 12, 13, 15], pa.int64()),
        "l_quantity": [1.0, 5.0, 9.0, 50.0],
        "l_returnflag": ["N", "R", "R", "A"],
    })
    for name, t in (("customer", cust), ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(t, str(tmp_path / f"{name}.parquet"))
    con = oracle.connect(str(tmp_path), TABLES)
    yield con
    con.close()


def test_hand_built_cnf(tiny):
    # urgent: {0, 1, 2}; 1996 orders: {0, 1, 3}; returned line: {1, 2}
    req = {"include": [
        [{"type": "order", "priorities": ["1-URGENT"]}],
        [{"type": "order", "date_from": "1996-01-01", "date_to": "1997-01-01"},
         {"type": "lineitem", "returnflags": ["R"]}],
    ]}
    assert oracle.answer(tiny, req) == {"count": 3, "facets": [("A", 2), ("B", 1)]}
    # negative balance excludes subject 0
    req["exclude"] = [{"type": "subject", "max_balance": 0.0}]
    assert oracle.answer(tiny, req) == {"count": 2, "facets": [("A", 1), ("B", 1)]}


def test_bounds_are_inclusive_and_date_to_exclusive(tiny):
    req = {"include": [[{"type": "lineitem", "min_quantity": 5, "max_quantity": 9}]]}
    assert oracle.answer(tiny, req)["count"] == 2  # lines 12 (qty 5), 13 (qty 9)
    req = {"include": [[{"type": "order", "date_from": "1996-12-31", "date_to": "1997-01-01"}]]}
    assert oracle.answer(tiny, req)["count"] == 1  # order 12 only, not 13


def test_empty_cohort(tiny):
    req = {"include": [[{"type": "order", "priorities": ["NO-SUCH"]}]]}
    assert oracle.answer(tiny, req) == {"count": 0, "facets": []}


def test_exclusion_removes_every_member(tiny):
    req = {
        "include": [[{"type": "order", "statuses": ["F", "O", "P"]}]],
        "exclude": [{"type": "subject", "min_balance": -1000.0}],
    }
    assert oracle.answer(tiny, req) == {"count": 0, "facets": []}
