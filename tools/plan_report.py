"""Generate PLANS.md: the executed physical plan of every headline query
at the bench scale factor, as reviewable evidence of plan quality
(broadcasts, pushdown, codegen, no cartesians).

    python tools/plan_report.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys

sys.path.insert(0, ".")

from duva_spark.queries import load_all  # noqa: E402
from duva_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()
    spark = get_spark("plan-report")

    lines = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        f"Generated by tools/plan_report.py against `{args.sf}` (AQE final plans,",
        "obtained after executing each query). What to look for: BroadcastHashJoin",
        "on dimension joins, PushedFilters on scans, TakeOrderedAndProject for",
        "top-n, no CartesianProduct anywhere, Python nodes only where Arrow ops",
        "are the point.",
        "",
        "`Scan ExistingRDD` marks a localCheckpoint boundary: the frame above",
        "it (MinHash signatures, the prefix-sum ranged frame, SemDeDup's",
        "normalized members) is materialized once in its own job and reused by",
        "every consumer below. The materialized sub-plan's structure (range",
        "partitioning, no single-partition stages) is asserted separately in",
        "tests/test_plans.py with localCheckpoint patched to a no-op.",
        "Queries whose executed plan truncates at a checkpoint also get",
        "an `expanded` plan below it: the same query re-planned (explain only,",
        "never executed) with localCheckpoint patched to a no-op, showing the",
        "full lineage the checkpoint materializes. A `Scan ExistingRDD` that",
        "inlining leaves in place is a frame built on the driver (a",
        "`createDataFrame` of a bounded driver-side result, e.g. DoReMi's",
        "per-domain weights): it has no lineage to expand, so it gets no",
        "expanded plan.",
        "",
    ]

    def _tree(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        # keep the operator tree; drop the verbose per-node detail section
        return buf.getvalue().split("\n\n")[0].rstrip()

    @contextlib.contextmanager
    def inline_checkpoints():
        # patch the concrete frame class: pyspark 4 defines
        # localCheckpoint on the classic subclass, so patching
        # pyspark.sql.DataFrame would leave every checkpoint in place
        cls = type(spark.range(0))
        orig = cls.localCheckpoint
        cls.localCheckpoint = lambda self, eager=True: self
        try:
            yield
        finally:
            cls.localCheckpoint = orig

    for name, q in sorted(load_all().items()):
        if not q.headline:
            continue
        df = q.fn(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()  # finalize AQE
        tree = _tree(df)
        lines += [f"## {name}", "", q.description, "", "```", tree, "```", ""]
        if "Scan ExistingRDD" in tree:
            with inline_checkpoints():
                expanded = _tree(q.fn(spark, args.sf))
            if expanded.count("Scan ExistingRDD") == tree.count("Scan ExistingRDD"):
                continue  # no checkpoint: the scans are driver-built frames
            lines += [
                "expanded (checkpoint-inlined, explain-only):",
                "",
                "```",
                expanded,
                "```",
                "",
            ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
