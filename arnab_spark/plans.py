"""Physical-plan audit helpers (the "explain and iterate" loop from
measurements/SCALE.md, as a programmatic API).

``audit_plan(df)`` condenses ``explain("formatted")`` into the facts
that matter at 100 TB: per-scan read schema + pushed/partition filters,
join strategies, exchange (shuffle) count. Tests assert on these so a
regression that drops a pushdown or flips a broadcast join into an
un-hinted nested loop fails CI, not production.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


@dataclass
class ScanInfo:
    read_schema: str
    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)


@dataclass
class PlanAudit:
    scans: list[ScanInfo]
    joins: list[str]
    n_exchanges: int
    plan_text: str

    def scanned_columns(self) -> set[str]:
        cols: set[str] = set()
        for s in self.scans:
            cols.update(re.findall(r"(\w+):", s.read_schema))
        return cols

    def has_pushed_filter(self, fragment: str) -> bool:
        return any(
            fragment in f for s in self.scans for f in s.pushed_filters
        )


def _parse_filters(text: str) -> list[str]:
    text = text.strip()
    if not text or text == "[]":
        return []
    return [f.strip() for f in text.strip("[]").split(",") if f.strip()]


def audit_plan(df: DataFrame, mode: str = "formatted") -> PlanAudit:
    """Summarize the physical plan of ``df`` (pre-execution; AQE may
    re-plan joins at runtime — pass an executed frame's
    ``queryExecution().executedPlan()`` string through ``audit_text``
    for the final plan)."""
    jvm = df.sparkSession._jvm  # noqa: SLF001
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    text = df._jdf.queryExecution().explainString(explain_mode)  # noqa: SLF001
    return audit_text(text)


def audit_text(plan_text: str) -> PlanAudit:
    scans = []
    for m in re.finditer(r"Scan parquet[^\n]*\n(?:.*\n)*?(?=\n|\Z)", plan_text):
        seg = m.group(0)
        rs = re.search(r"ReadSchema: ([^\n]+)", seg)
        pf = re.search(r"PushedFilters: ([^\n]+)", seg)
        prt = re.search(r"PartitionFilters: ([^\n]+)", seg)
        if rs:
            scans.append(
                ScanInfo(
                    read_schema=rs.group(1),
                    pushed_filters=_parse_filters(pf.group(1)) if pf else [],
                    partition_filters=_parse_filters(prt.group(1)) if prt else [],
                )
            )
    joins = [k for k in re.findall(r"\((?:\d+)\) (\w+)", plan_text) if k in _JOIN_KINDS]
    joins += [
        k
        for k in re.findall(r"(\w+Join\w*|CartesianProduct)", plan_text)
        if k in _JOIN_KINDS and not joins
    ]
    n_exchanges = len(re.findall(r"\n\(\d+\) Exchange", plan_text)) or plan_text.count(
        "+- Exchange"
    )
    return PlanAudit(scans=scans, joins=joins, n_exchanges=n_exchanges, plan_text=plan_text)
