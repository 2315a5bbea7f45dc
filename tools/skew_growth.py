"""Skew-sensitivity measurement: uniform vs hot-key tier, same rows.

For the operators whose shuffles key on the skewed columns, time each
query on the ORGANIC sf0.01 tier and on a SKEWED copy with identical
row counts (the tools/tiers.py skew rules: 80 % of events on one user,
half the orders on one customer, 30 % of lineitems on one part, 80 %
of documents on one source). The ratio skewed/uniform isolates
hot-key cost at fixed data volume:

* ~1x: the operator's shuffles don't concentrate on the hot key (or
  AQE re-splits it) — safe to extrapolate to a Zipfian 100 TB corpus;
* >>1x: a straggler-or-state blowup candidate — the hot entity's
  group is processed by one task or its per-entity state grows with
  the entity's row share, and a bot account / template domain will do
  the same thing 1000x harder at 100 TB.

Run alone on the box (timings are garbage under concurrent Spark
jobs — SKILL.md). Output: one markdown table, appended to SCALE.md by
hand or by --write.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

QUERIES = [
    # per-user sequence machinery: one user now owns 80 % of events
    "sessionize_events",
    "funnel_user_conversion",
    "funnel_time_to_convert",
    "behavior_top_paths",
    "behavior_transition_matrix",
    "behavior_streak_islands",
    "behavior_inter_event_gaps",
    "behavior_last_touch_attribution",
    "behavior_dau_stickiness",
    "retention_cohorts",
    # co-occurrence self-joins keyed on user_id: the quadratic suspects
    "rec_item_cosine",
    "rec_user_jaccard_topk",
    # per-source capping with one dominant domain
    "sample_domain_cap",
    # hot-customer / hot-part join keys
    "q03_shipping_priority",
    "q09_nation_year_profit",
    "q18_large_volume_customer",
    # windows partitioned by the skewed key
    "win_running_sum",
]


def main() -> int:
    import tempfile

    from etl_file_sync_spark.queries import REGISTRY
    from etl_file_sync_spark.session import get_spark, prep
    from tools.tiers import synthesize

    uniform = "/root/testdata/sf0.01"
    skewed = synthesize("skew", tempfile.mkdtemp(prefix="skew_growth_"), src=uniform)

    spark = get_spark()
    prep(spark)

    names = [n for n in QUERIES if n in REGISTRY]
    missing = [n for n in QUERIES if n not in REGISTRY]
    if missing:
        print(f"(skipping unknown: {missing})")

    print(f"| query | uniform s | skewed s | ratio |")
    print(f"|---|---|---|---|")
    worst = []
    for name in names:
        q = REGISTRY[name]
        # warm-up pass: the first execution pays session/JIT/code-cache
        # costs that would otherwise inflate whichever tier runs first
        q.build(spark, uniform).collect()
        spark.catalog.clearCache()
        times = {}
        for label, tier in (("uniform", uniform), ("skewed", skewed)):
            t0 = time.monotonic()
            q.build(spark, tier).collect()
            times[label] = time.monotonic() - t0
            spark.catalog.clearCache()
        r = times["skewed"] / times["uniform"]
        worst.append((r, name))
        print(
            f"| {name} | {times['uniform']:.2f} | {times['skewed']:.2f} "
            f"| {r:.2f}x |"
        )
    worst.sort(reverse=True)
    print(f"\nworst: {worst[0][1]} {worst[0][0]:.2f}x")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
