"""Automated plan lint over the ENTIRE driver surface — turns
BENCH/PLAN_AUDIT.md's hand-audited global invariants into a regression gate.

For every entry in ``__spark_entry__.queries()`` (built at sf0.001), the
formatted physical plan must contain:

- no ``CartesianProduct`` and no ``BroadcastNestedLoopJoin`` — every join in
  the engine is an equi-join, a broadcast hash join, or a cogroup; a nested
  loop appearing anywhere means a join key was lost and the query would be
  O(n^2) at 100 TB;
- no row-at-a-time Python UDF (``BatchEvalPython``) — the only Python
  boundaries allowed are Arrow-vectorized (``ArrowEvalPython``,
  ``MapInPandas``, ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInPandas``,
  ``FlatMapGroupsInPandasWithState``).

The explicitly-labeled brute-force pytest oracles (cosine_dup_pairs,
knn_join_brute) are not driver queries, so nothing here needs an allowlist.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

FORBIDDEN = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",  # row-at-a-time Python UDF; Arrow nodes are fine
)

_QUERY_NAMES = sorted(E.queries())


@pytest.fixture(scope="module")
def plans(spark):
    """Build every driver query once and capture its formatted plan."""
    out = {}
    for name, fn in E.queries().items():
        df = fn(spark, SF_DIR)
        out[name] = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    return out


@pytest.mark.parametrize("name", _QUERY_NAMES)
def test_plan_has_no_forbidden_nodes(plans, name):
    plan = plans[name]
    hits = [tok for tok in FORBIDDEN if tok in plan]
    assert not hits, (
        f"{name}: forbidden plan node(s) {hits} — PLAN_AUDIT.md global "
        f"invariant violated.\n{plan[:2000]}"
    )


def test_query_surface_has_not_shrunk(plans):
    # a moving floor rather than a tautology: queries() is built from one
    # fixed table, so comparing two calls of it can never fail — instead pin
    # the current surface size so an accidental deregistration trips the gate
    assert len(plans) >= 114
