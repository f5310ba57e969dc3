"""Physical-plan audit over every driver-contract query: build each
queries() entry at a small sf dir (analysis only — no .collect of the
result) and tabulate the plan-shape counters the 100TB story depends
on (exchanges, broadcasts, join strategies, scans, codegen spans,
Arrow stages). Writes PLANS.md.

Eager operators (minhash/d04 pair tables, DBSCAN site tables, g16's
hot cells, t07's vocabulary pass) materialize their small intermediates at CONSTRUCTION
by documented contract, so their terminal plans read checkpointed
tables — the audit marks those rows `eager` rather than pretending the
lineage is in the terminal plan.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

COUNTERS = [
    ("Exchange", r"\bExchange hashpartitioning"),
    ("BcastExch", r"\bBroadcastExchange\b"),
    ("ReusedExch", r"\bReusedExchange\b"),
    ("BHJ", r"\bBroadcastHashJoin\b"),
    ("SMJ", r"\bSortMergeJoin\b"),
    ("BNLJ", r"\bBroadcastNestedLoopJoin\b"),
    ("Cartesian", r"\bCartesianProduct\b"),
    ("Scan", r"\bFileScan parquet\b|\bScan parquet\b"),
    ("Codegen", r"\*\(\d+\)"),
    ("Arrow", r"InPandas\b|ArrowEvalPython\b"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry_mod
    from batch_geocode_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    rows = []
    # rows whose constructor runs Spark jobs by documented eager contract
    eager = {"d04", "d05", "c01", "e04", "g16", "g18", "g19", "g20", "t07"}
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        df.count()  # execute so AQE finalizes its runtime strategy choices
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = {label: len(re.findall(pat, plan)) for label, pat in COUNTERS}
        counts["query"] = name
        counts["eager"] = "yes" if name.split("_")[0] in eager else ""
        rows.append(counts)

    hdr = ["query"] + [c for c, _ in COUNTERS] + ["eager"]
    lines = [
        "# PLANS — physical-plan shape audit (generated by scripts/plan_audit.py)",
        "",
        f"EXECUTED (AQE-final) plans over `{sf_dir}` on {spark.sparkContext.master} — what",
        "actually ran, not the static pre-AQE guess. Counters: shuffle /",
        "broadcast / reused exchanges, broadcast-hash / sort-merge /",
        "nested-loop / cartesian joins, parquet scans, whole-stage-codegen",
        "spans, Arrow (pandas) stages. `eager` rows materialize small",
        "intermediates at construction by documented contract, so their",
        "terminal plans read checkpointed tables. Red flags this table",
        "makes grep-able: any Cartesian > 0, SMJ or BNLJ on paths pinned",
        "broadcast-only (tests/test_plans.py).",
        "",
        "| " + " | ".join(hdr) + " |",
        "|" + "|".join(["---"] * len(hdr)) + "|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(r[h]) for h in hdr) + " |")
    totals = {c: sum(r[c] for c, _ in COUNTERS if False) for c in []}  # noqa: F841
    n_cart = sum(r["Cartesian"] for r in rows)
    n_smj = sum(r["SMJ"] for r in rows)
    lines += [
        "",
        f"Totals across {len(rows)} queries: CartesianProduct = {n_cart}, "
        f"SortMergeJoin = {n_smj}.",
        "",
    ]
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(rows)} queries, cartesian={n_cart}, smj={n_smj})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
