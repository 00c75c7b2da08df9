"""Dump `.explain("formatted")` for registry queries to files.

Round-15 deliverable support: `measurements/r15/plans/<query>_{before,after}.txt`
must carry the physical plan of every query touched this round, so the
plan-shape claims in measurements/r15/OPTIMIZATION_r15.md are checkable
offline.

Usage: python tools/dump_plans.py OUTDIR SUFFIX QUERY [QUERY...]
       python tools/dump_plans.py OUTDIR SUFFIX --all-headline

Writes OUTDIR/<query>_<SUFFIX>.txt. Plans are built against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) under the shipped
session defaults (spark_utils.get_spark) — the same config the bench's
sf0.1 sections grade under.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from arnab_spark.queries import all_queries
    from arnab_spark.spark_utils import DEFAULT_SF_DIR, get_spark

    reg = all_queries()
    if names == ["--all-headline"]:
        names = sorted(n for n, q in reg.items() if q.headline)
    spark = get_spark("dump_plans")
    for name in names:
        df = reg[name].fn(spark, DEFAULT_SF_DIR)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(formatted_plan(df))
        print("wrote", path)


if __name__ == "__main__":
    main()
