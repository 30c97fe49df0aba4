"""Automated physical-plan audit of every registered query.

For each ``__spark_entry__.queries()`` entry (at sf0.001 — the plan
SHAPE is scale-invariant; only the audit runtime isn't), captures the
formatted executed plan and reports the operator counts that the
PLANS.md / SCALE.md cost claims depend on:

- Window operators (extra ones = the chained-withColumn CollapseWindow
  trap, a full extra buffer pass per partition),
- shuffle Exchanges vs BroadcastExchanges,
- row-at-a-time Python (BatchEvalPython — must stay zero),
- Arrow batch stages (ArrowEvalPython / MapInPandas / MapInArrow /
  FlatMapGroupsInPandas — the sanctioned Python boundary),
- CartesianProduct / BroadcastNestedLoopJoin (allowed only in the
  documented exact baselines).

(Codegen spans are NOT reported: AQE plans print isFinalPlan=false
before execution and codegen ids are only assigned at finalization.)

Usage:
    python scripts/plan_audit.py            # audit all, write markdown
    python scripts/plan_audit.py q_name     # print one query's counts
    python scripts/plan_audit.py --plans q_name   # + full plan text

Output: BENCH/PLAN_AUDIT.md (table, one row per query) — commit it and
diff between rounds; any count drift is a plan regression to explain.
Both modes exit 1 when an audited plan has row-at-a-time Python or
fails to build.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from image_feature_extraction_spark.plans.audit import (  # noqa: E402
    counts_of,
    plan_of,
)

SF_DIR = os.environ.get("PLAN_AUDIT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    show_plans = "--plans" in sys.argv

    import __spark_entry__ as entry
    from image_feature_extraction_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    names = args or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"UNKNOWN QUERY NAMES: {unknown}")
        sys.exit(2)

    rows, errors = [], []
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            plan = plan_of(df)
            c = counts_of(plan)
            rows.append((name, c))
            if show_plans:
                print(f"\n===== {name} =====\n{plan}")
        except Exception as e:  # audit must report, not die
            errors.append((name, f"{type(e).__name__}: {e}"[:160]))

    hdr = ["query", "Window", "Exchange", "Broadcast", "PyRow",
           "Arrow", "Cartesian"]
    lines = ["| " + " | ".join(hdr) + " |",
             "|" + "---|" * len(hdr)]
    for name, c in rows:
        flag = " ⚠" if c["pyrow"] else ""
        lines.append(
            f"| {name}{flag} | {c['win']} | {c['exch']} | {c['bcast']} | "
            f"{c['pyrow']} | {c['arrow']} | {c['cartesian']} |"
        )
    table = "\n".join(lines)
    print(table)
    for name, err in errors:
        print(f"ERROR {name}: {err}")

    if not args:  # full audit -> persist the artifact (repo-anchored:
        # running from any CWD must update the COMMITTED artifact, not
        # scatter stale copies)
        bench_dir = os.path.join(REPO_ROOT, "BENCH")
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "PLAN_AUDIT.md"), "w") as f:
            f.write(
                "# Physical-plan audit (all registered queries)\n\n"
                f"Generated by scripts/plan_audit.py at {SF_DIR} "
                "(plan shape is scale-invariant).\n"
                "PyRow (row-at-a-time Python) must be 0 everywhere; "
                "Cartesian is allowed only in the documented exact "
                "baselines (q_knn_bruteforce, q_dedup_embedding, "
                "q_dedup_jaccard and tiny-broadcast cases).\n\n"
                + table + "\n"
            )
            if errors:
                f.write("\n## Errors\n\n")
                for name, err in errors:
                    f.write(f"- {name}: {err}\n")
        print("\nwrote BENCH/PLAN_AUDIT.md")
    totals = {
        "queries": len(rows),
        "pyrow_nonzero": sum(1 for _, c in rows if c["pyrow"]),
        "errors": len(errors),
    }
    print(totals)
    spark.stop()
    # row-at-a-time Python or a failed plan fails the audit, whether it
    # covered every query or only the ones named
    sys.exit(1 if (totals["pyrow_nonzero"] or errors) else 0)


if __name__ == "__main__":
    main()
