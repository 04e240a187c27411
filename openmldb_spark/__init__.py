"""openmldb_spark — a from-scratch PySpark-native feature-engineering engine.

Reproduces the offline feature-SQL semantics of OpenMLDB (reference:
/root/reference, the HybridSE compiler + openmldb-batch Spark runner) as an
idiomatic PySpark library: DataFrame/Catalyst for everything declarative,
numpy kernels over Arrow (``applyInArrow``) for the frame semantics Spark's
built-in window functions cannot express (MAXSIZE, EXCLUDE CURRENT_TIME, OPEN
bounds, WINDOW UNION emit-filter, INSTANCE_NOT_IN_WINDOW).

Nothing here is a port of the reference's C++/Scala code — only its observable
semantics (cases/function/window/*.yaml, cases/function/join/*.yaml) are
reproduced.
"""

from openmldb_spark.plans.specs import Agg, LastJoinSpec, SessionizeSpec, WindowSpec
from openmldb_spark.operators.window import window_agg
from openmldb_spark.operators.lastjoin import last_join, asof_join_kernel
from openmldb_spark.operators.sessionize import sessionize
from openmldb_spark.operators.request import request_features
from openmldb_spark.session import get_spark
from openmldb_spark.sqlfe import run_sql, run_sql_request
from openmldb_spark.sources.io import run_statement
from openmldb_spark.sources.session import Session
from openmldb_spark.sources.procedure import (execute_procedure,
                                              execute_deployment_rows)

__all__ = [
    "Agg",
    "WindowSpec",
    "LastJoinSpec",
    "SessionizeSpec",
    "window_agg",
    "last_join",
    "asof_join_kernel",
    "sessionize",
    "request_features",
    "run_sql",
    "run_sql_request",
    "run_statement",
    "Session",
    "execute_procedure",
    "execute_deployment_rows",
    "get_spark",
]

__version__ = "0.1.0"
