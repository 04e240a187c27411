"""Plan inspection utilities — the engine's analog of the reference's
debug hooks (SparkPlanner per-node df.show / graphviz plans,
SparkPlanner.scala:279-282,95-98), built on Catalyst explain output.

`plan_stats` gives the numbers that matter at 100 TB: how many
exchanges (shuffles), whether Python stages appear, whether filters
reached the scan — the quantities the plan-audit tests assert.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


# Physical plan nodes that run Python workers (Spark 4.1 exec names). A
# plan without any of them runs entirely in the JVM.
PYTHON_NODES = (
    "FlatMapGroupsInArrow", "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState", "FlatMapCoGroupsInArrow",
    "FlatMapCoGroupsInPandas", "MapInArrow", "MapInPandas",
    "ArrowEvalPython", "BatchEvalPython", "ArrowWindowPython",
    "ArrowAggregatePython", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)
_PYTHON_NODE = re.compile(r"\b(?:%s)\b" % "|".join(PYTHON_NODES))


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@dataclass
class PlanStats:
    exchanges: int
    broadcast_exchanges: int
    python_stages: int
    scans: int
    pushed_filters: list[str]
    wholestage_codegen: bool

    def summary(self) -> str:
        return (
            f"shuffles={self.exchanges} broadcasts={self.broadcast_exchanges} "
            f"python_stages={self.python_stages} scans={self.scans} "
            f"codegen={self.wholestage_codegen} "
            f"pushed={len(self.pushed_filters)}"
        )


def plan_stats(df: DataFrame) -> PlanStats:
    simple = explain_str(df, "simple")
    formatted = explain_str(df, "formatted")
    return PlanStats(
        # every shuffle exchange counts: SinglePartition (global
        # limit/sort/coalesce(1)) and round-robin (repartition(n)) are
        # exactly the all-data-to-few-tasks shapes a 100 TB plan audit
        # exists to catch
        exchanges=len(re.findall(
            r"(?i)Exchange (?:hashpartitioning|rangepartitioning|"
            r"SinglePartition|roundrobinpartitioning)", simple)),
        broadcast_exchanges=simple.count("BroadcastExchange"),
        python_stages=len(_PYTHON_NODE.findall(simple)),
        # 'FileScan parquet' contains 'Scan parquet' — count with a
        # boundary so a v1 scan isn't double-counted
        scans=len(re.findall(r"(?:File|Batch)?Scan parquet|FileScan\b",
                             simple)),
        # an empty PushedFilters list ([]) is NOT a pushed filter
        pushed_filters=[p for p in re.findall(
            r"PushedFilters: \[([^\]]*)\]", formatted) if p.strip()],
        wholestage_codegen="WholeStageCodegen" in simple or "*(" in simple,
    )
