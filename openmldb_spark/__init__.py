"""openmldb_spark — a from-scratch PySpark-native feature-engineering engine.

Reproduces the offline feature-SQL semantics of OpenMLDB (reference:
the HybridSE compiler + openmldb-batch Spark runner) as an idiomatic
PySpark library: DataFrame/Catalyst for everything declarative, numpy
kernels over Arrow (``applyInArrow``) for the frame semantics Spark's
built-in window functions cannot express (MAXSIZE, EXCLUDE CURRENT_TIME,
OPEN bounds, WINDOW UNION emit-filter, INSTANCE_NOT_IN_WINDOW).

Nothing here is a port of the reference's C++/Scala code — only its observable
semantics (cases/function/window/*.yaml, cases/function/join/*.yaml) are
reproduced.

The exports below resolve on first use (PEP 562), so importing the package
or one small submodule — the Python worker daemon ``_pydaemon`` is started
as ``python -m openmldb_spark._pydaemon`` — does not import the engine.
"""

from importlib import import_module

# export name -> submodule that defines it
_EXPORTS = {
    "Agg": "plans.specs",
    "WindowSpec": "plans.specs",
    "LastJoinSpec": "plans.specs",
    "SessionizeSpec": "plans.specs",
    "window_agg": "operators.window",
    "last_join": "operators.lastjoin",
    "asof_join_kernel": "operators.lastjoin",
    "sessionize": "operators.sessionize",
    "request_features": "operators.request",
    "run_sql": "sqlfe",
    "run_sql_request": "sqlfe",
    "run_statement": "sources.io",
    "Session": "sources.session",
    "execute_procedure": "sources.procedure",
    "execute_deployment_rows": "sources.procedure",
    "get_spark": "session",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(import_module(f"{__name__}.{mod}"), name)
    globals()[name] = value
    return value


def __dir__() -> list[str]:
    return sorted([*globals(), *_EXPORTS])
