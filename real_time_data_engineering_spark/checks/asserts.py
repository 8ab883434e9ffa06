"""dbt/Soda-style assertion library (reference test classes, SURVEY.md §5).

Every check is a ``Check``: one aggregate over a table plus the bounds
it must fall in. The dbt row-level tests (not_null, unique,
accepted_values, accepted_range, positive_value, singular) count their
violating rows, bounded above by 0 — the check passes when that count
is 0, exactly like a compiled dbt test. Soda metrics bound one table
aggregate (row_count, avg, min, ...), and source freshness is a lower
bound on ``max(ts)``.

``evaluate`` runs all the checks for one table as ONE aggregation — one
scan however many checks (the shared-scan shape of Deequ's analyzers),
which is the form that survives 100 TB. ``relationships`` is a left-anti
join whose orphans ``evaluate`` counts; ``expect_schema`` compares
schemas and runs no Spark action. ``run_checks`` produces the
reference's N/N PASS accounting.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class CheckResult:
    name: str
    passed: bool
    failing_rows: int = 0
    severity: str = "error"  # or "warn" (reference: accepted_values warns)
    detail: str = ""


@dataclass(frozen=True, eq=False)
class Check:
    """``value`` (an aggregate over the checked table) must lie in
    [lo, hi]; either side open when None. A NULL value fails."""

    name: str
    value: Column
    lo: object = None
    hi: object = None
    severity: str = "error"

    def result(self, v) -> CheckResult:
        ok = v is not None and (self.lo is None or v >= self.lo) and (self.hi is None or v <= self.hi)
        # a count bounded above by 0 counts violating rows: report them
        counts_rows = self.lo is None and self.hi == 0
        failing = 0 if ok else int(v) if counts_rows else 1
        return CheckResult(self.name, bool(ok), failing, self.severity, f"observed {v}")


def evaluate(df: DataFrame, checks: list[Check]) -> list[CheckResult]:
    """Every check over ``df`` in one ``df.agg(...).first()``."""
    row = df.agg(*[c.value.alias(f"_c{i}") for i, c in enumerate(checks)]).first()
    return [c.result(row[i]) for i, c in enumerate(checks)]


def _duplicate_count(col: str) -> Column:
    """Extra non-NULL rows per key."""
    return F.count(col) - F.count_distinct(F.col(col))


def _violations(name: str, predicate: Column, severity: str = "error") -> Check:
    return Check(name, F.count_if(predicate), hi=0, severity=severity)


def not_null(cols: Iterable[str], model: str = "") -> list[Check]:
    return [_violations(f"not_null:{model}.{c}", F.col(c).isNull()) for c in cols]


def unique(col: str, model: str = "") -> Check:
    """dbt's unique (NULL keys ignored) as Soda's duplicate_count."""
    return Check(f"unique:{model}.{col}", _duplicate_count(col), hi=0)


def accepted_values(col: str, values: Iterable, model: str = "", severity: str = "warn") -> Check:
    bad = F.col(col).isNotNull() & ~F.col(col).isin(list(values))
    return _violations(f"accepted_values:{model}.{col}", bad, severity)


def accepted_range(col: str, min_value=None, max_value=None, model: str = "") -> Check:
    pred: Column = F.lit(False)
    if min_value is not None:
        pred = pred | (F.col(col) < min_value)
    if max_value is not None:
        pred = pred | (F.col(col) > max_value)
    return _violations(f"accepted_range:{model}.{col}", F.col(col).isNotNull() & pred)


def positive_value(col: str, model: str = "") -> Check:
    """Custom generic test (macros/test_positive_value.sql:11-17)."""
    return _violations(f"positive_value:{model}.{col}", F.col(col) < 0)


def singular(predicate: Column, name: str) -> Check:
    """Singular test: no row may match the *violation* predicate
    (e.g. assert_fare_not_exceeds_total.sql:5-11)."""
    return _violations(f"singular:{name}", predicate)


_METRICS = {
    "row_count": lambda c: F.count(F.lit(1)),
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "duplicate_count": _duplicate_count,
}


def metric(
    kind: str, col: str | None = None, lo=None, hi=None, model: str = "", severity: str = "error"
) -> Check:
    """Soda-class table metric bound (reference
    pipelines/11-observability-stack/soda/checks/silver_checks.yml:4-12,
    gold_checks.yml:2-14): ``kind`` in {row_count, avg, min, max, sum,
    duplicate_count} over ``col`` (None for row_count)."""
    tgt = f"({col})" if col else ""
    span = f"[{'-inf' if lo is None else lo},{'inf' if hi is None else hi}]"
    return Check(f"metric:{model}.{kind}{tgt}∈{span}", _METRICS[kind](col), lo, hi, severity)


def freshness(ts_col: str, now: str, warn_after_hours: int, model: str = "") -> Check:
    """Source freshness: max(ts) must be recent (sources.yml:7-16)."""
    oldest = datetime.datetime.fromisoformat(now) - datetime.timedelta(hours=warn_after_hours)
    return Check(f"freshness:{model}.{ts_col}", F.max(ts_col), lo=oldest, severity="warn")


def relationships(
    child: DataFrame, col: str, parent: DataFrame, parent_col: str, model: str = "",
    severity: str = "warn",
) -> CheckResult:
    """Referential integrity as a left-anti join (reference J5)."""
    orphans = child.filter(F.col(col).isNotNull()).join(
        parent, child[col] == parent[parent_col], "left_anti"
    )
    name = f"relationships:{model}.{col}"
    return evaluate(orphans, [Check(name, F.count(F.lit(1)), hi=0, severity=severity)])[0]


def expect_schema(df: DataFrame, contract: T.StructType, model: str = "") -> CheckResult:
    """Model contract: enforced column name+type set (core.yml:6-8)."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    expected = {f.name: f.dataType.simpleString() for f in contract.fields}
    diffs = [
        f"{k}: expected {v}, got {actual.get(k, '<missing>')}"
        for k, v in expected.items()
        if actual.get(k) != v
    ] + [f"{k}: unexpected column" for k in actual if k not in expected]
    return CheckResult(
        name=f"contract:{model}", passed=not diffs, failing_rows=len(diffs), detail="; ".join(diffs)
    )


def run_checks(results: list[CheckResult]) -> tuple[str, list[CheckResult]]:
    """Account like a dbt build: 'PASS=n WARN=n ERROR=n TOTAL=n'."""
    errors = [r for r in results if not r.passed and r.severity == "error"]
    warns = [r for r in results if not r.passed and r.severity == "warn"]
    passed = [r for r in results if r.passed]
    summary = f"PASS={len(passed)} WARN={len(warns)} ERROR={len(errors)} TOTAL={len(results)}"
    return summary, results
