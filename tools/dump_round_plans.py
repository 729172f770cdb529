"""Dump .explain("formatted") for named queries into plans/<round>/.

Usage:
    SPARK_GRAFT_SF_DIR=<corpus dir> \
        python tools/dump_round_plans.py <round> <suffix> <query> [<query> ...]

Writes plans/<round>/<query>_<suffix>.txt for each query (e.g. round
"r13", suffix "before" / "after" per the optimization-round
deliverable). Every fixture is built first, exactly as bench.py's build
phase does, so each plan reflects the benched read path.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    rnd, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from big_data_assignment2_spark import fixtures
    from big_data_assignment2_spark.plans.audit import explain_formatted
    from big_data_assignment2_spark.registry import build_registry
    from big_data_assignment2_spark.session import get_spark

    spark = get_spark(f"plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    reg = build_registry()
    for fixture in fixtures.FIXTURES:
        fixtures.build(spark, sf_dir, fixture)
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        text = explain_formatted(reg.queries[name].fn(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
