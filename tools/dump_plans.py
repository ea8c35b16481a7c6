"""Dump `.explain("formatted")` for named queries to .plans/<suffix>/<name>.txt.

Usage: python tools/dump_plans.py <suffix> <name1> [name2 ...]
Writes .plans/<suffix>/<name>.txt at the repository root (gitignored), so a
plan diff is two dumps under different suffixes, one per checkout.
Query builders run under the engine session at $SPARK_GRAFT_SF_DIR (default
sf0.1) — streaming queries execute their replay loop at build time, so this
costs roughly one bench pass over the listed queries.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from custom_python_etl_data_connector_rohitharumugams_spark import plans
    from custom_python_etl_data_connector_rohitharumugams_spark.session import get_spark

    spark = get_spark("plan-dump", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    out = REPO / ".plans" / suffix
    out.mkdir(parents=True, exist_ok=True)
    qdefs = plans.all_queries()
    for name in names:
        df = qdefs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out / f"{name}.txt").write_text(plan)
        print(f"wrote .plans/{suffix}/{name}.txt ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
