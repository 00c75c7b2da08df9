"""Quick self-check of the benchmark on the smallest fixture set (about two minutes).

Asserts that a clean run prints every metric ``BENCHMARK.json`` names,
each with its unit, and fails nothing; and that a seeded mismatch (one
row dropped from every Spark result before the comparison) raises
``fail_frac``::

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import sys

import run


def _drop_row(pdf):
    """Corrupt a Spark result: drop its last row, or add an empty one."""
    import pandas as pd

    if len(pdf):
        return pdf.iloc[:-1]
    return pd.DataFrame([[None] * len(pdf.columns)], columns=pdf.columns)


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    printed = result["metrics"]
    for m in declared:
        assert m["name"] in printed, f"metric {m['name']} not printed"
        assert printed[m["name"]]["unit"] == m["unit"], f"unit of {m['name']}"
        assert isinstance(printed[m["name"]]["value"], (int, float)), m["name"]
    assert set(printed) == {m["name"] for m in declared}, "undeclared metric printed"


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)

    clean = run.run("dag_tiny", seed=1, seconds=0, trace=False, size="sf0.001")
    _assert_metrics(clean, spec["end_to_end"])
    assert clean["correct"] and clean["failed"] == 0, clean

    bad = run.run("registry", seed=1, seconds=0, trace=True, size="sf0.001", corrupt=_drop_row)
    _assert_metrics(bad, spec["per_layer"])
    assert not bad["correct"] and bad["failed"] >= len(run.HEADLINE), bad
    assert bad["metrics"]["fail_frac"]["value"] > 0, bad
    print("selfcheck ok", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
