"""Drop-in compatibility shim for the reference's validator class.

The richest in-process validation logic the reference ever ran is the
``DataValidationPipeline`` class embedded in its LLM-remediation artifact
(``/root/reference/analysis.md:9``): row-dict records, four validate_*
methods returning ``{validation_name, status, error_message}`` dicts, and a
``run_all_validations`` aggregator. This shim keeps that exact API surface
— method names, argument shapes (``List[Dict]`` records), result dicts —
but executes on Spark through the check engine, so existing callers can
switch engines without touching call sites. Row-dict inputs are converted
once; DataFrames are accepted directly (the scalable path).
"""

from __future__ import annotations

from typing import Any, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

from .catalog import local_frame
from .checks import Check, run_suite
from .checks.definitions import CheckResult

#: analysis.md:9 constants, verbatim semantics
AUTHORIZED_REGIONS = ("North America", "Europe", "Asia Pacific")
REQUIRED_FIELDS = ("region", "timestamp", "value")


class DataValidationPipeline:
    """API-compatible with analysis.md:9's class; Spark-backed."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        authorized_regions: Iterable[str] = AUTHORIZED_REGIONS,
        required_fields: Iterable[str] = REQUIRED_FIELDS,
    ):
        self.spark = spark or SparkSession.builder.getOrCreate()
        self.authorized_regions = tuple(authorized_regions)
        self.required_fields = tuple(required_fields)

    # -- input adaptation ---------------------------------------------------

    def _frame(self, data: DataFrame | list[Mapping[str, Any]]) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        # row-dicts (the reference's shape); missing keys become NULLs,
        # which is exactly how the schema-compliance check treats absence;
        # column types are Spark's own inference over the values
        cols: list[str] = []
        for rec in data:
            for k in rec:
                if k not in cols:
                    cols.append(k)
        rows = [tuple(rec.get(c) for c in cols) for rec in data]
        schema = self.spark._inferSchemaFromList(rows, names=cols)
        return local_frame(self.spark, rows, schema)

    @staticmethod
    def _to_dict(result: CheckResult) -> dict[str, Any]:
        # analysis.md:9 result-record shape
        return {
            "validation_name": result.check_name,
            "status": "passed" if result.status == "pass" else "failed",
            "error_message": result.error_message
            or (
                f"{result.violations} violating record(s)"
                if result.violations
                else None
            ),
        }

    def _run_one(self, data, check: Check) -> dict[str, Any]:
        df = self._frame(data)
        return self._to_dict(run_suite({"metrics": df}, [check])[0])

    # -- the reference's four validators ------------------------------------

    def validate_schema_compliance(self, data) -> dict[str, Any]:
        df = self._frame(data)
        missing = [f for f in self.required_fields if f not in df.columns]
        if missing:
            return {
                "validation_name": "schema_compliance",
                "status": "failed",
                "error_message": f"missing required fields: {missing}",
            }
        checks = [
            Check(f"schema_compliance:{f}", "not_null", "metrics", column=f)
            for f in self.required_fields
        ]
        results = run_suite({"metrics": df}, checks)
        bad = [r for r in results if r.status != "pass"]
        return {
            "validation_name": "schema_compliance",
            "status": "failed" if bad else "passed",
            "error_message": (
                "; ".join(
                    f"{r.column}: {r.violations} record(s) missing" for r in bad
                )
                or None
            ),
        }

    def validate_region_whitelist(self, data) -> dict[str, Any]:
        return self._run_one(
            data,
            Check(
                "region_whitelist",
                "values_in_set",
                "metrics",
                column="region",
                params={"values": self.authorized_regions},
            ),
        )

    def validate_business_rules(self, data) -> dict[str, Any]:
        return self._run_one(
            data,
            Check(
                "business_rules",
                "values_between",
                "metrics",
                column="value",
                params={"min": 0},
            ),
        )

    def validate_data_quality(self, data) -> dict[str, Any]:
        return self._run_one(
            data,
            Check("data_quality", "row_count_between", "metrics", params={"min": 1}),
        )

    def run_all_validations(self, data) -> dict[str, Any]:
        """Per-check isolation + summary, mirroring analysis.md:9's
        aggregator (and pager-workflow.py:236-245's rollup)."""
        df = self._frame(data)
        validations = [
            self.validate_data_quality(df),
            self.validate_schema_compliance(df),
            self.validate_region_whitelist(df),
            self.validate_business_rules(df),
        ]
        passed = sum(1 for v in validations if v["status"] == "passed")
        return {
            "total_validations": len(validations),
            "passed": passed,
            "failed": len(validations) - passed,
            "overall_status": "passed" if passed == len(validations) else "failed",
            "results": validations,
        }
