#!/usr/bin/env python3
"""Derive the query_catalogue pool.

    python3 perfbench/calibrate.py --seed 1 --queries <a,b,...> [--out FILE]
    python3 perfbench/calibrate.py --pool

The first form runs the named queries (all SparkEntry queries without
--queries) on the generated sf0.1-shaped input of the seed, each twice
under its own fresh store root, and times each one's DuckDB oracle. It
prints one line per query (first run, second run, oracle seconds, whether
the output matched) and writes the rows to --out (by default under
perfbench/work/, so the committed calibration.json is not overwritten).

The second form writes pool.json from the `rows` of calibration.json by
the rules in RULES (see README.md for what calibration.json holds). Whether a query's output matches its oracle is recorded but is not
a rule: a mismatching query stays in the pool, and if the draw takes it
the benchmark reports the failure.
"""
import argparse
import json
import os
import re
import shutil
import sys
import time

import gen
import oracle
import run

CALIBRATION = os.path.join(run.HERE, "calibration.json")
POOL = os.path.join(run.HERE, "pool.json")

# the table-format queries, a family of their own
WAREHOUSE = {"etl_cdc_diff", "etl_compaction_plan", "etl_merge_upsert", "q_zorder_layout"}
# queries graft.Bench lists as readers of a standing store (the gate sets
# of its substrate builds)
STANDING = set("""
bm25_standing phrase_standing dedup_minhash_lsh dedup_ngram_jaccard
dedup_bbit_minhash dedup_clusters dedup_canonical dedup_canonical_quality
dedup_cluster_profile dedup_lsh_calibration dedup_edit_verify
dedup_graph_degree dedup_containment dedup_triangles dedup_pagerank
dedup_kcore dedup_cluster_stability dedup_cc_incremental
dedup_cc_decremental graph_hits knn_graph_incremental
ann_layered_incremental streaming_ann_refresh ann_layered_cap_incremental
streaming_ann_cap_refresh q_gbt_eval q_calibration q_confusion
sample_holdout_eval q_cv_auc sample_learning_curve streaming_model_score
streaming_drift_psi q_gbt_importance q_model_compare q_cost_curve
q_isotonic_calibration sample_slice_eval streaming_confusion_monitor
q_model_compare_cv q_calibration_cv q_calibration_fix q_threshold_transfer
q_calibration_oos q_calibration_oos_gated q_forest_eval q_oob_eval
q_feature_importance q_forest_cv_auc sample_forest_curve
q_forest_importance_cv warehouse_ivm warehouse_ivm_join
warehouse_ivm_distinct""".split())
EXCLUDED = {"q_asof_join_exec"}  # slated for removal
RULES = ("first run (plan build + full-output write) <= 1.3 s and oracle <= 1.0 s "
         "(ann and dedup: <= 2.3 s and <= 1.5 s, their pools are small otherwise); "
         "first run at most 1.0 s slower than the second, i.e. no standing store "
         "built on first use; queries Bench lists as readers of a standing store "
         "are left out; q_asof_join_exec is left out (slated for removal). "
         "Whether the output matches its oracle is not a rule. warehouse = the "
         "table-format queries " + ", ".join(sorted(WAREHOUSE)))


def family(name):
    if name in WAREHOUSE:
        return "warehouse"
    for fam, prefixes in (("ann", ("ann_", "emb_", "knn_")),
                          ("dedup", ("dedup_", "contamination_")),
                          ("text", ("text_", "pack_")),
                          ("etl", ("etl_",)), ("sketch", ("sketch_",)),
                          ("streaming", ("streaming_",))):
        if name.startswith(prefixes):
            return fam
    return "tpch" if re.match(r"q\d+_", name) else "stats"


def eligible(r):
    big = family(r["name"]) in ("ann", "dedup")
    return (r["name"] not in STANDING and r["name"] not in EXCLUDED
            and r["oracle_s"] is not None
            and r["s"] <= (2.3 if big else 1.3)
            and r["oracle_s"] <= (1.5 if big else 1.0)
            and r["s"] - r["warm_s"] <= 1.0)


def derive_pool():
    """pool.json's content, from calibration.json by RULES."""
    with open(CALIBRATION) as f:
        cal = json.load(f)
    rows = [r for r in cal["rows"] if eligible(r)]
    families = {}
    for r in sorted(rows, key=lambda r: r["name"]):
        families.setdefault(family(r["name"]), []).append(r["name"])
    pool = {
        "calibration": {"local_n": cal["local_n"], "rules": RULES,
                        "tool": "calibrate.py --pool, from calibration.json"},
        "cost_s": {r["name"]: round(r["s"], 3) for r in sorted(rows, key=lambda r: r["name"])},
        "draw_seed": 0,
        "families": dict(sorted(families.items())),
    }
    return pool


def write_pool():
    pool = derive_pool()
    with open(POOL, "w") as f:
        json.dump(pool, f, indent=1)
        f.write("\n")
    print({k: len(v) for k, v in pool["families"].items()})


def measure(a):
    cp, _ = run.build()
    in_dir, _ = gen.generate(os.path.join(run.WORK, "inputs"), "query_catalogue", a.seed)
    work = os.path.join(run.WORK, "calibrate")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.JVM_TIMEOUT_S = 3000
    local_n = min(4, os.cpu_count() or 1)
    args = {"mode": "calibrate", "inputs": in_dir, "work": work, "cpus": local_n}
    if a.queries:
        args["queries"] = a.queries
    run.run_jvm(cp, work, args)
    with open(os.path.join(work, "calibration.json")) as f:
        rows = json.load(f)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = oracle.connect(in_dir)
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    for r in rows:
        path = os.path.join(work, "ops", r["name"])
        t0 = time.time()
        exp = oracle.fingerprint(con, sql[r["name"]])
        r["oracle_s"] = time.time() - t0
        r["match"] = (not r["error"]
                      and oracle.fingerprint(con, oracle.parquet_rel(path)) == exp)
        print(f"{r['name']:40s} {r['s']:7.3f} {r['warm_s']:7.3f} {r['oracle_s']:7.3f} "
              f"{'match' if r['match'] else 'MISMATCH ' + r['error'][:80]}", flush=True)
    with open(a.out, "w") as f:
        json.dump({"seed": a.seed, "local_n": local_n, "rows": rows}, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out", default=os.path.join(run.WORK, "calibration.json"))
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    ap.add_argument("--pool", action="store_true", help="write pool.json from calibration.json")
    a = ap.parse_args()
    if a.pool:
        write_pool()
    elif a.seed is None:
        ap.error("--seed is required to measure")
    else:
        measure(a)


if __name__ == "__main__":
    sys.exit(main())
