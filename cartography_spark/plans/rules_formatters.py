"""Findings output formatters — the Spark port of the reference's
``rules/formatters.py`` (text summary :200-260 and JSON dump :227-229):
per-rule sections with fact compliance lines, then an execution summary
with totals and a compliance percentage.

Findings DataFrames are materialized with ``limit(max_findings)`` so the
report never collects an unbounded result to the driver; the per-fact
collects are independent and run concurrently.
"""

from __future__ import annotations

import json
from dataclasses import asdict, is_dataclass
from functools import partial
from typing import Any

from pyspark.sql import Row

from cartography_spark.plans.rules import FactResult, RuleResult
from cartography_spark.session import run_concurrently

GREEN, RED, CYAN, GREY, RESET = "\033[32m", "\033[31m", "\033[36m", "\033[90m", "\033[0m"


def to_serializable(obj: Any) -> Any:
    """Best-effort JSON coercion (reference formatters.py:90-121)."""
    if is_dataclass(obj) and not isinstance(obj, type):
        return to_serializable(asdict(obj))
    if isinstance(obj, dict):
        return {k: to_serializable(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple, set)):
        return [to_serializable(v) for v in obj]
    if hasattr(obj, "asDict"):  # pyspark Row
        return to_serializable(obj.asDict(recursive=True))
    if isinstance(obj, (str, int, float, bool)) or obj is None:
        return obj
    return str(obj)


def _collect_findings(results: list[RuleResult], max_findings: int) -> list[list[list[Row]]]:
    """``findings.limit(max_findings).collect()`` of every fact, one list
    per rule in rule and fact order; no job at all when ``max_findings``
    is 0."""
    facts = [fr for r in results for fr in r.facts]
    if not facts or max_findings == 0:
        return [[[] for _ in r.facts] for r in results]

    def collect(fr: FactResult) -> list[Row]:
        return fr.findings.limit(max_findings).collect()

    rows = iter(run_concurrently(facts[0].findings.sparkSession, [partial(collect, fr) for fr in facts]))
    return [[next(rows) for _ in r.facts] for r in results]


def _result_payload(r: RuleResult, findings: list[list[Row]]) -> dict:
    return {
        "rule_id": r.rule_id,
        "rule_name": r.rule_name,
        "rule_description": r.rule_description,
        "rule_tags": list(r.rule_tags),
        "rule_frameworks": [to_serializable(f) for f in r.rule_frameworks],
        "counter": {
            "facts": r.total_facts,
            "findings": r.total_findings,
            "assets": r.total_assets,
            "passing": r.total_passing,
            "failing": r.total_failing,
        },
        "facts": [
            {
                "fact_id": fr.fact.fact_id,
                "fact_name": fr.fact.name,
                "asset_label": fr.fact.asset_label,
                "asset_id_field": fr.fact.asset_id_field,
                "failing": fr.failing_assets,
                "passing": fr.passing_assets,
                "total": fr.total_assets,
                "findings": [to_serializable(row) for row in rows],
            }
            for fr, rows in zip(r.facts, findings)
        ],
    }


def format_json(results: list[RuleResult], max_findings: int = 100) -> str:
    """JSON report: one object per rule (reference formatters.py:227-229)."""
    findings = _collect_findings(results, max_findings)
    return json.dumps([_result_payload(r, f) for r, f in zip(results, findings)], indent=2)


def format_text(results: list[RuleResult], color: bool = False, max_findings: int = 0) -> str:
    """Human-readable report (reference formatters.py:230-260 layout)."""
    g, r_, c, gr, z = (GREEN, RED, CYAN, GREY, RESET) if color else ("",) * 5
    lines: list[str] = []
    for res, res_findings in zip(results, _collect_findings(results, max_findings)):
        lines.append("=" * 60)
        lines.append(f"RULE - {res.rule_name} [{res.rule_id}]")
        if res.rule_description:
            lines.append(res.rule_description)
        if res.rule_frameworks:
            fws = ", ".join(f"{f.short_name}:{f.requirement}" for f in res.rule_frameworks)
            lines.append(f"Frameworks: {fws}")
        for fr, rows in zip(res.facts, res_findings):
            pct = (fr.passing_assets / fr.total_assets * 100) if fr.total_assets else 100.0
            lines.append(
                f"  {fr.fact.fact_id}: {r_}{fr.failing_assets} failing{z} / "
                f"{g}{fr.passing_assets} passing{z} / {fr.total_assets} total "
                f"({pct:.1f}% compliant)"
            )
            for row in rows:
                lines.append(f"    - {to_serializable(row)}")
    total_facts = sum(r.total_facts for r in results)
    total_assets = sum(r.total_assets for r in results)
    total_passing = sum(r.total_passing for r in results)
    total_failing = sum(r.total_failing for r in results)
    lines.append("=" * 60)
    lines.append(
        f"EXECUTION SUMMARY - {results[0].rule_name}" if len(results) == 1 else "OVERALL SUMMARY"
    )
    lines.append("=" * 60)
    if len(results) > 1:
        lines.append(f"Rules executed: {len(results)}")
    lines.append(f"Total facts: {total_facts}")
    if total_assets > 0:
        lines.append(f"Total assets: {total_assets}")
        lines.append(f"{g}Passing: {total_passing}{z}")
        lines.append(f"{r_}Failing: {total_failing}{z}")
        lines.append(f"Compliance: {total_passing / total_assets * 100:.1f}%")
    if total_failing > 0:
        lines.append(f"{c}Rule execution completed with {total_failing} total findings{z}")
    else:
        lines.append(f"{gr}Rule execution completed with no findings{z}")
    return "\n".join(lines)
