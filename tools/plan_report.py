"""Generate PLANS.md: a physical-plan audit of every registered query.

Usage: python tools/plan_report.py [sf_dir]

For each query: shuffle-exchange count, broadcast joins, Python stages,
Python stages under a range-partitioning exchange (each runs twice: once
for the range sample, once for the shuffle), whether any filter reached
the parquet scan, and the scan column count.
This is the evidence trail for the scale posture — reviewed per round,
regression-pinned by tests/test_plans.py for the headline queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from open_source_etl_spark.conf import EngineConfig
    from open_source_etl_spark.plans import plan_audit
    from open_source_etl_spark.registry import all_oracles, all_queries
    from open_source_etl_spark.session import build_session

    spark = build_session(EngineConfig(master="local[8]", shuffle_partitions=8))
    spark.sparkContext.setLogLevel("ERROR")

    oracles = all_oracles()
    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_report.py)",
        "",
        f"Plans built against `{sf_dir}`; shuffle counts are pre-AQE (AQE may",
        "coalesce further at runtime, never add).  Streaming queries are",
        "audited on their batch twins (same builder, batch input).",
        "",
        "| query | oracle | shuffles | bcast joins | py stages | py under range | pushdown | scan cols |",
        "|---|---|---|---|---|---|---|---|",
    ]
    skipped: list[str] = []
    for name, fn in sorted(all_queries().items()):
        if name.startswith("stream_"):
            skipped.append(name)
            continue
        try:
            df = fn(spark, sf_dir)
            facts = plan_audit(name, df)
        except Exception as exc:  # pragma: no cover
            lines.append(f"| {name} | — | plan failed: {type(exc).__name__} | | | | | |")
            continue
        lines.append(
            f"| {name} | {'sql' if name in oracles else 'rows'} "
            f"| {facts.exchanges} | {facts.broadcast_joins} "
            f"| {facts.python_stages} | {facts.python_under_range_exchange} "
            f"| {'yes' if facts.pushed else '—'} | {len(facts.read_columns)} |"
        )
    if skipped:
        lines += [
            "",
            "Streaming queries (plan audited via their batch-mode builders in "
            "tests/test_streaming.py): " + ", ".join(sorted(skipped)),
        ]
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
