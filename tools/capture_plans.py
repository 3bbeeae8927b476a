"""Capture ``explain("formatted")`` for named registry entries into
``<out>/<name>_<tag>.txt`` — the before/after plan evidence for a
change (a reader can check these files against the code without
running Spark).

Planning only (``_sdf.explain`` formats without executing), so eager
entries — those that write fixtures or run jobs at DataFrame-build time
— still execute their build step; keep the sf small if that matters.

Usage:
    python tools/capture_plans.py --tag before --out plans/<round> --sf /root/testdata/sf0.01 name1 name2 ...
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", required=True, help="before | after")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True, help="output dir, plans/<round> by convention")
    args = ap.parse_args()

    out_dir = Path(args.out)
    out_dir.mkdir(parents=True, exist_ok=True)

    from bytesprocessor_spark.session import get_spark

    spark = get_spark("plan-capture")
    from bytesprocessor_spark.queries import QUERIES

    for name in args.names:
        if name not in QUERIES:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        df = QUERIES[name](spark, args.sf)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = out_dir / f"{name}_{args.tag}.txt"
        path.write_text(formatted)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
