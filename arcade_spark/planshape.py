"""Shape of an executed query: the AQE final plan cut into its stages.

A stage is the part of a physical plan one task runs without a shuffle
or broadcast boundary. Two Python execs chained in one stage make every
task of it hold two Python workers at once; past the idle-worker cap
(``spark.python.factory.idleWorkerMaxPoolSize``) each such task then
kills and re-forks workers and pays their imports again. ``stages``
reports, per stage, the operators and that Python-exec depth, so a plan
can be checked for the cliff (``tests/test_plan_shape.py``) or shown
(``tools/show_plans.py``).

Call it after an action on the DataFrame: only then is the adaptive
plan final.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


_KEYED_JOINS = ("BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec")


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def stages(df: DataFrame) -> list[dict]:
    """The executed plan of ``df`` as a list of stages, result stage
    first. Each stage is a dict:

    - ``ops``: simple class names of its operators, in tree order;
    - ``python_depth``: the most Python execs on one root-to-leaf path;
    - ``python``: one-line strings of its Python execs;
    - ``join_keys``: ``(left keys, right keys)`` strings per keyed join.

    A reused exchange is not walked twice."""
    out: list[dict] = []

    def new_stage(node) -> None:
        st = {"ops": [], "python_depth": 0, "python": [], "join_keys": []}
        out.append(st)
        st["python_depth"] = walk(node, st)

    def walk(node, st: dict) -> int:
        cls = node.getClass()
        name = cls.getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), st)
        st["ops"].append(name)
        if name.endswith("QueryStageExec"):
            # a shuffle/broadcast stage's plan is its exchange (a new
            # stage); the result stage's plan is this stage's body
            return walk(node.plan(), st)
        if name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            for c in _children(node):
                new_stage(c)
            return 0
        if name == "ReusedExchangeExec":
            return 0
        if name in _KEYED_JOINS:
            st["join_keys"].append(
                (node.leftKeys().toString(), node.rightKeys().toString())
            )
        is_py = ".execution.python." in cls.getName()
        if is_py:
            st["python"].append(node.simpleString(25))
        depth = max((walk(c, st) for c in _children(node)), default=0)
        return depth + int(is_py)

    new_stage(df._jdf.queryExecution().executedPlan())
    return out
