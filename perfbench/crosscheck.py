#!/usr/bin/env python3
"""Cross-check df_analytics' results against the DuckDB oracle.

Usage (from the repository root, after one run.py has built the harness):

    python3 perfbench/crosscheck.py [--sf 0.01]

Dumps the 15 headline queries over the fixture copy perfbench/data/sf<x>
with graft.Verify, and runs scripts/oracle_check.py over them restricted
to those queries. The pinned signatures in perfbench/signatures/ are the
signatures of these same results; this is how they were checked.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

QUERIES = ["q01_pricing_summary", "q03_shipping_priority", "q04_order_priority",
           "q05_local_supplier_volume", "q06_forecast_revenue", "q07_volume_shipping",
           "q09_product_profit", "q31_window_lead_lag", "q58_date_bin", "q70_bitemp_asof",
           "q72_asof_join", "q80_dedup_exact", "q82_dedup_minhash_pairs",
           "q85_similarity_topk", "q91_similarity_lsh"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    a = ap.parse_args()
    run.check_data()
    cp = run.classpath(run.source_stamp())
    tables = os.path.join(run.DATA, f"sf{a.sf}")
    out = os.path.join(run.WORK, f"crosscheck-sf{a.sf}")
    verify = [x if x != "perfbench.Main" else "graft.Verify" for x in run.java_cmd(cp, [])]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(QUERIES))
    subprocess.run(verify + [tables, out], cwd=run.ROOT, env=env, check=True)
    oracle_path = os.path.join(out, "oracle_sql.json")
    with open(oracle_path) as f:
        oracle = {k: v for k, v in json.load(f).items() if k in QUERIES}
    with open(oracle_path, "w") as f:
        json.dump(oracle, f)
    print(f"{len(oracle)} of {len(QUERIES)} queries have an oracle", flush=True)
    sys.exit(subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "oracle_check.py"),
                             tables, out]).returncode)


if __name__ == "__main__":
    main()
