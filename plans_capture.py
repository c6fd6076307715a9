"""Capture .explain("formatted") for named queries into plans/<out-subdir>/.

Usage::

    python plans_capture.py <out-subdir> <tag> [query ...]

``tag`` is appended to the filename (``plans/<out-subdir>/<query>_<tag>.txt``);
with no query list, every bench.py DEFAULT_QUERIES entry plus
``token_budget_packing`` is captured.  Runs at $SPARK_GRAFT_SF_DIR
(default sf0.1) so the plans match the bench numbers.

Note: several operators run eager jobs at DataFrame-construction time
(checkpointed iterative loops, calibration probes), so a capture run
executes real work — the saved artifact is still the constructed
DataFrame's physical plan exactly as ``explain`` prints it.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from nyc_taxi_data_clickhouse_spark import suite
from nyc_taxi_data_clickhouse_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_subdir", help="directory under plans/, e.g. r16")
    ap.add_argument("tag", help="filename suffix, e.g. before or after")
    ap.add_argument(
        "queries", nargs="*", default=[], help="registry names (default: bench set)"
    )
    args = ap.parse_args()
    names = args.queries
    if not names:
        from bench import DEFAULT_QUERIES

        names = list(DEFAULT_QUERIES) + ["token_budget_packing"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = Path(__file__).resolve().parent / "plans" / args.out_subdir
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"plans-{args.out_subdir}-{args.tag}")
    spark.sparkContext.setLogLevel("ERROR")
    reg = suite.registry()
    for name in names:
        if name not in reg:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = reg[name].spark(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = out_dir / f"{name}_{args.tag}.txt"
        path.write_text(buf.getvalue())
        print(f"wrote {path.name} ({len(buf.getvalue())} bytes)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
