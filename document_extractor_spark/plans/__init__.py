"""Physical-plan assertions — enforce the scale contract in tests.

The north rule forbids per-row Python in the hot path: every Python
boundary must be Arrow-vectorized. Spark renders row-at-a-time UDFs as
``BatchEvalPython`` nodes; the package's boundaries are all Arrow in and
Arrow out, ``F.arrow_udf`` as ``ArrowEvalPython`` and ``mapInArrow`` as
``MapInArrow`` — so the plan string is the enforcement point (SURVEY.md
§4.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_vectorized_python_only(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan, (
        "per-row Python UDF in the hot path:\n" + plan
    )


def assert_no_python(df: DataFrame) -> None:
    """No Python node (``FlatMapGroupsInPandas`` also matches its
    ``…WithState`` form, ``MapInArrow`` also ``PythonMapInArrow``)."""
    plan = physical_plan(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "MapInArrow"):
        assert node not in plan, f"unexpected Python boundary {node}:\n{plan}"


def scan_read_schema(df: DataFrame) -> str:
    """The ReadSchema fragment of the first file scan — used to assert
    column pruning reached the parquet reader."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "ReadSchema" in line:
            return line.split("ReadSchema:", 1)[1].strip()
    return ""
