"""Dump .explain('formatted') for headline queries to
plans/$SPARK_GRAFT_PLANS_DIR (default r17)/<name>_<suffix>.txt.

Usage: python tools/explain_dump.py [suffix] [q1,q2,...]
  suffix: 'before' or 'after' (default 'before')
  q list: defaults to the full bench HEADLINE set.

Runs on bench.py's session, so plan shapes match what the bench executes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, TOOL_CONF  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = (
        [q for q in sys.argv[2].split(",") if q]
        if len(sys.argv) > 2
        else list(HEADLINE)
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hudi_spark_utilities_plus_spark.queries import QUERIES
    from hudi_spark_utilities_plus_spark.session import build_spark_session

    spark = build_spark_session(app_name="explain-dump", conf=TOOL_CONF)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r17"),
    )
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"SKIP unknown {name}")
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            text = f"ERROR building plan: {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(text)
        print(f"wrote {name}_{suffix}.txt ({len(text)} chars)")


if __name__ == "__main__":
    main()
