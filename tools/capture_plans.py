#!/usr/bin/env python
"""Capture `.explain("formatted")` output for headline queries into
plans/r<round>/<name>_<tag>.txt (round zero-padded to two digits,
tag = before/after), for a round's optimization evidence trail.

    python tools/capture_plans.py <round> <before|after> [name ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        print(__doc__, file=sys.stderr)
        return 2
    round_dir = f"r{int(sys.argv[1]):02d}"
    tag = sys.argv[2]
    names = sys.argv[3:] or None

    import bench
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name=f"capture-plans-{round_dir}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = catalog.queries()
    out_dir = _REPO / "plans" / round_dir
    out_dir.mkdir(parents=True, exist_ok=True)

    for name in names or bench.HEADLINE:
        df = qs[name](spark, sf_dir)
        # DataFrame.explain prints; _explainString gives it back.
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{tag}.txt").write_text(txt)
        print(f"[plan] {name} -> {name}_{tag}.txt ({len(txt)} chars)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
