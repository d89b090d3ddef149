"""Automated plan lint over the ENTIRE driver surface — turns
BENCH/PLAN_AUDIT.md's hand-audited global invariants into a regression gate.

For every entry in ``__spark_entry__.queries()`` (built at sf0.001) and
for the flagship ``entry()``, the formatted physical plan must contain:

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

It must also run at most one Python node per task of a stage: every Python
node in one task is one more Python worker (about 130 MB each) and one
more Arrow round trip through the JVM. A generator feeding a kernel chains
both into one mapInPandas (operators/kernels.py::map_kernels). The shapes
that still chain are listed in ``CHAINED_PYTHON``, each with its reason.
"""

import os
import re
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

# MapInPandas, MapInArrow, ArrowEvalPython, FlatMap*InPandas*, ...
PYTHON_NODE = re.compile(r"InPandas|InArrow|Python")

# query -> (Python nodes one task of its worst stage runs, why they stay)
CHAINED_PYTHON: dict[str, tuple[int, str]] = {}

_QUERY_NAMES = sorted(E.queries())


@pytest.fixture(scope="module")
def built(spark):
    """Build every driver query once."""
    return {name: fn(spark, SF_DIR) for name, fn in E.queries().items()}


@pytest.fixture(scope="module")
def plans(spark, built):
    """Every driver query's formatted plan."""
    return {
        name: spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for name, df in built.items()
    }


def python_nodes_per_task(spark, df) -> int:
    """The most Python nodes one task of any stage of ``df`` runs.

    Under AQE the executed plan is one AdaptiveSparkPlan leaf; its
    ``inputPlan`` holds the physical plan before the stage split, and
    EnsureRequirements adds the Exchanges the stages are cut at. A task
    runs every node of its stage down to the Exchanges and leaf scans
    (checkpoints are leaf scans too), except that a Union task runs one
    child: Union takes the max over its children, every other node the
    sum."""
    jvm = spark._jvm
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        ensure = jvm.org.apache.spark.sql.execution.exchange.EnsureRequirements(
            True, jvm.scala.Option.empty()
        )
        plan = ensure.apply(plan.inputPlan())
    worst = 0

    def walk(node) -> int:
        nonlocal worst
        kids = node.children()
        counts = [walk(kids.apply(i)) for i in range(kids.size())]
        if "Exchange" in node.nodeName():
            worst = max([worst, *counts])
            return 0
        here = max(counts) if node.nodeName() == "Union" else sum(counts)
        return here + bool(PYTHON_NODE.search(node.nodeName()))

    top = walk(plan)
    return max(worst, top)


@pytest.mark.parametrize("name", _QUERY_NAMES)
def test_plan_has_no_forbidden_nodes(plans, name):
    plan = plans[name]
    hits = [tok for tok in FORBIDDEN if tok in plan]
    assert not hits, (
        f"{name}: forbidden plan node(s) {hits} — PLAN_AUDIT.md global "
        f"invariant violated.\n{plan[:2000]}"
    )


def test_entry_plan_has_no_forbidden_nodes(spark):
    # the flagship is not in queries(), so the parametrized check above
    # never sees its plan
    df = E.entry(spark)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    hits = [tok for tok in FORBIDDEN if tok in plan]
    assert not hits, f"entry(): forbidden plan node(s) {hits}.\n{plan[:2000]}"


def test_query_surface_has_not_shrunk(plans):
    # a moving floor rather than a tautology: queries() is built from one
    # fixed table, so comparing two calls of it can never fail — instead pin
    # the current surface size so an accidental deregistration trips the gate
    assert len(plans) >= 114


@pytest.mark.parametrize("name", _QUERY_NAMES)
def test_at_most_one_python_node_per_stage(spark, built, name):
    allowed, why = CHAINED_PYTHON.get(name, (1, None))
    n = python_nodes_per_task(spark, built[name])
    assert n <= allowed, (
        f"{name}: one task runs {n} Python nodes in a stage; chain the "
        f"kernels with operators/kernels.py::map_kernels"
    )
    # the allow-list names only shapes that still chain
    assert n == allowed or why is None, f"{name}: stale CHAINED_PYTHON entry ({why})"
