"""Plan-inspection helpers used by tests and tuning sessions."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "executed") -> str:
    qe = df._jdf.queryExecution()
    if mode == "optimized":
        return qe.optimizedPlan().toString()
    if mode == "formatted":
        # Spark 4: QueryExecution.explainString takes an ExplainMode object;
        # PythonSQLUtils.explainString is the stable string-mode entry
        # (it is what DataFrame.explain itself calls).
        jvm = df.sparkSession._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(qe, "formatted")
    return qe.executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    plan = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out
