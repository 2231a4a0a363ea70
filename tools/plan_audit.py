"""Generate PLANS.md: a physical-plan audit of every headline query.

For each bench.py HEADLINE query plus ``EXTRAS``, records the
scale-relevant plan facts straight from ``explain("formatted")`` (via
``plans.node_counts`` and ``plans.pushed_filters``): exchange (shuffle)
count, join strategies and pushed filters. The point is reviewable
evidence that the plans stay the plans we designed — run after operator
changes and diff the file.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402

# Keys outside the headline: the scan/sample keys whose plans carry the
# pruning story, and the oracle-exact twins bench.py times as guards.
EXTRAS = (
    "q_scan_pruned",
    "q_sample_hash",
    "q_sample_weighted",
    "q_corr_matrix",
    "q_similarity_join",
    "q_dedup_embedding",
)

JOIN_NODES = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from reactor_window_like_flink_spark.plans import node_counts, pushed_filters
    from reactor_window_like_flink_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    qs = e.queries()

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` at `{sf_dir}`,"
        f" {spark.sparkContext.master}."
        " Counts come from `explain(\"formatted\")`; AQE may further merge"
        " exchanges and convert joins to broadcast at runtime, so these are"
        " upper bounds on the static plan, not runtime stage counts.",
        "",
        "| query | exchanges | joins | pushed filters |",
        "|---|---|---|---|",
    ]
    for name in (*HEADLINE, *EXTRAS):
        df = qs[name](spark, sf_dir)
        nodes = node_counts(df)
        n_ex = nodes["Exchange"]
        joins = ", ".join(f"{j}×{nodes[j]}" for j in JOIN_NODES if nodes[j]) or "—"
        pushed = len(pushed_filters(df))
        lines.append(f"| {name} | {n_ex} | {joins} | {pushed} |")
        print(f"# {name}: exchanges={n_ex} joins=[{joins}]", file=sys.stderr)

    lines += [
        "",
        "Reading guide: `q_similarity_cosine`/`q_text_stats`/`q_sample_hash`"
        " are zero-exchange narrow scans by design (`q_similarity_cosine`'s"
        " BroadcastNestedLoopJoin is the intentional crossJoin of the"
        " broadcast ONE-ROW query vector — the only place BNLJ is"
        " acceptable); the dedup family pays one keyed shuffle per stage"
        " (signature agg, candidate bucket join, confirm) and must never"
        " show CartesianProduct or a data-sized BNLJ;"
        " `q_join_broadcast`/`q_join_multi` should show BroadcastHashJoin"
        " on every dimension side. Queries that materialize intermediates"
        " eagerly (`q_dedup_ngram_jaccard`'s hashed-shingle tables,"
        " `q_pack_sequences`'s partition offsets, `q_similarity_ann`'s"
        " trained index) under-report here: their upstream stages ran at"
        " build time behind a localCheckpoint/persist, which is the point."
        " Plan-shape regressions beyond these bounds are enforced as tests"
        " in `tests/test_plans.py`.",
        "",
    ]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
