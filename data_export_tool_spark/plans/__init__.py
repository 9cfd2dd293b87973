"""Query planning layer: report-window resolution, the MySQL→Spark
dialect shim, and the parameterized query registry (SURVEY.md §3/§7)."""

from data_export_tool_spark.plans.report_window import resolve_report_window  # noqa: F401
