"""Scalar/aggregate function surface (SURVEY.md §2.8).

~95% of Flink's 206 BuiltInFunctionDefinitions map 1:1 onto
`pyspark.sql.functions`; `compat.call_sql` reaches the remainder through
the SQL rewrite table (sql_flink._BUILTIN_REWRITES).
"""

from flink_1_20_spark.functions import compat

__all__ = ["compat"]
