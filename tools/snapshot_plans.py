"""Dump `.explain("formatted")` for named queries into an output directory.

    python tools/snapshot_plans.py OUT_DIR before q1 q2 ...
    python tools/snapshot_plans.py OUT_DIR after  q1 q2 ...

Writes OUT_DIR/<query>_<tag>.txt (e.g. OUT_DIR = plans/<change>) — the
before/after evidence a plan claim is checked against. Explain is captured
BEFORE execution (initial AQE plan) plus a one-line summary of Exchange /
join / Python-eval node counts so before/after diffs are greppable.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from mapreduce_model_spark import registry
    from mapreduce_model_spark.session import get_spark

    spark = get_spark(app_name=f"plans-{tag}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = registry.QUERIES[name]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        counts = {
            "Exchange": len(re.findall(r"\bExchange\b", text)),
            "SortMergeJoin": len(re.findall(r"\bSortMergeJoin\b", text)),
            "BroadcastHashJoin": len(re.findall(r"\bBroadcastHashJoin\b", text)),
            "ShuffledHashJoin": len(re.findall(r"\bShuffledHashJoin\b", text)),
            "CartesianProduct": len(re.findall(r"\bCartesianProduct\b", text)),
            "BroadcastNestedLoopJoin": len(
                re.findall(r"\bBroadcastNestedLoopJoin\b", text)
            ),
            "BatchEvalPython": len(re.findall(r"\bBatchEvalPython\b", text)),
            "ArrowEvalPython": len(re.findall(r"\bArrowEvalPython\b", text)),
            "MapInArrow": len(re.findall(r"\bMapInArrow\b", text)),
            "FlatMapGroupsInPandas": len(
                re.findall(r"\bFlatMapGroupsInPandas\b", text)
            ),
            "Window": len(re.findall(r"\bWindow\b", text)),
        }
        summary = ", ".join(f"{k}={v}" for k, v in counts.items() if v)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir} [{tag}]\n")
            fh.write(f"# node counts: {summary or 'none'}\n\n")
            fh.write(text)
        print(f"{name}: {summary or 'no flagged nodes'} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
