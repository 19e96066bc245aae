"""Dump ``explain('formatted')`` for named queries into plans/<round>/.

Usage: python scripts/dump_plan.py ROUND TAG q1,q2,... [SF_DIR]
       e.g. python scripts/dump_plan.py r14 before q1,q2
Writes plans/<round>/<query>_<tag>.txt — the checkable evidence for
every plan claim in OPTIMIZATION_<round>.md.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from debezium_incubator_spark.registry import all_queries  # noqa: E402
from debezium_incubator_spark.session import get_spark  # noqa: E402


def main() -> int:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dump_plan_{rnd}")
    queries = all_queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
