"""Dump .explain("formatted") for every heavy bench query to plans/r08/.

Usage: python tools/dump_plans.py <suffix> [sf_dir] [only_substr]
e.g. python tools/dump_plans.py before /root/testdata/sf0.1
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEAVY  # noqa: E402
from companycatalogcrawlerparser_spark.session import get_spark  # noqa: E402


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = sys.argv[3] if len(sys.argv) > 3 else None
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r08",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    for name in HEAVY:
        if only and only not in name:
            continue
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
