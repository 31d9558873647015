"""Shared fixtures: one tuned SparkSession per test run, one DuckDB
connection with the fixture tables registered as views (mirroring the
driver's oracle harness), both at sf0.001 for speed.
"""

from __future__ import annotations

import os
import sys
from typing import NamedTuple

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unity_to_bigquery_spark.catalog import TABLE_NAMES
from unity_to_bigquery_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _bnlj_build_sides(node, out):
    """Append the build-side subtree string of every
    BroadcastNestedLoopJoinExec under the physical plan ``node``
    (through AQE's input plan and scalar subqueries)."""
    cls = node.getClass().getSimpleName()
    if cls == "BroadcastNestedLoopJoinExec":
        side = node.buildSide().toString()
        out.append((node.right() if "Right" in side else node.left()).toString())
    if cls == "AdaptiveSparkPlanExec":
        _bnlj_build_sides(node.inputPlan(), out)
    ch = node.children()
    for i in range(ch.length()):
        _bnlj_build_sides(ch.apply(i), out)
    try:  # scalar subqueries hang off expressions, not children
        sq = node.subqueries()
        for i in range(sq.length()):
            _bnlj_build_sides(sq.apply(i), out)
    except Exception:
        pass


class PlanFacts(NamedTuple):
    """What the whole-inventory plan audits read of one declared query,
    taken from its physical plan BEFORE anything executes it.

    ``plan``: ``executedPlan().toString()``. ``bnlj_build_sides``: the
    build-side subtree strings of its broadcast nested-loop joins.
    ``schema``: output ``(name, simpleString type)`` pairs."""

    plan: str
    bnlj_build_sides: list
    schema: list


class QueryInventory:
    """One build of each declared query per session, shared by the
    oracle pass (test_oracle.py) and the whole-inventory plan audits
    (test_plans.py). Building a declared query runs its demo body (the
    lakehouse/index demos commit table state before returning a plan),
    minutes of work over the whole inventory, so each query is built
    once. Only plan facts are kept, never the DataFrame: an executed
    DataFrame pins its broadcast relations and shuffle outputs for the
    rest of the session."""

    def __init__(self, spark, sf_dir):
        from unity_to_bigquery_spark.registry import all_queries

        self.spark, self.sf_dir = spark, sf_dir
        self.queries = all_queries()
        self._facts: dict[str, PlanFacts] = {}

    def build(self, name):
        """Build query ``name`` and record its plan facts."""
        df = self.queries[name].spark(self.spark, self.sf_dir)
        plan = df._jdf.queryExecution().executedPlan()
        s = plan.toString()
        builds: list = []
        if "BroadcastNestedLoopJoin" in s:
            _bnlj_build_sides(plan, builds)
        self._facts[name] = PlanFacts(
            s,
            builds,
            [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        )
        return df

    def facts(self, name) -> PlanFacts:
        """Plan facts of query ``name`` (built now if the oracle pass
        has not built it)."""
        if name not in self._facts:
            self.build(name)
        return self._facts[name]


@pytest.fixture(scope="session")
def query_inventory(spark, sf_dir):
    return QueryInventory(spark, sf_dir)


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()
