"""Replay EVERY registry query against its DuckDB oracle at the
driver's gate scale (sf0.01) through the driver-faithful canonicalizer,
and write a REPLAY_r{N}.json artifact.

Why this exists (VERDICT r7 item 4): the external driver samples only
~50 of the registry per round and the sample can skew to one family —
50 of 155 rows had never been driver-sampled by r7. The judge replayed
the tail out-of-repo; this tool makes that evidence an in-repo,
per-round artifact: 155/155 green here means every row has oracle
evidence THIS round, not "was green whenever it was last sampled".

Usage:
    python tools/replay_registry.py --round 8 [--sf-dir /root/testdata/sf0.01]

Rows without an oracle (non-SQL-expressible ops) get the driver's
weaker rows-only check (runs, returns a stable schema, >= 0 rows) and
are marked mode="rows_only" so the artifact shows which.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", default="8")
    ap.add_argument(
        "--only", default=None, help="comma-separated query names to replay"
    )
    ap.add_argument(
        "--out-tag",
        default="",
        help="suffix for the artifact name (e.g. _sf0.1 writes "
        "REPLAY_r{N}_sf0.1.json) so a non-gate-scale sweep never "
        "overwrites the standing sf0.01 artifact",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from flink_realtime_data_warehouse_spark.plans.loader import load_all
    from flink_realtime_data_warehouse_spark.streaming.table_format import (
        get_table_format_name,
    )
    from oracle_utils import compare_query_to_oracle

    queries, oracles = load_all()
    only = set(args.only.split(",")) if args.only else None
    results: dict[str, dict] = {}
    n_ok = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.monotonic()
        rec: dict = {"ok": False, "mode": None, "rows": None, "err": None}
        try:
            df = fn(spark, args.sf_dir)
            if name in oracles:
                rec["mode"] = "oracle"
                compare_query_to_oracle(df, oracles[name], args.sf_dir)
                rec["rows"] = df.count()
            else:
                rec["mode"] = "rows_only"
                rec["rows"] = len(df.collect())
            rec["ok"] = True
            n_ok += 1
        except Exception as exc:  # record, keep replaying the rest
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(limit=3)
        rec["secs"] = round(time.monotonic() - t0, 2)
        results[name] = rec
        status = "PASS" if rec["ok"] else "FAIL"
        print(f"{status} {name} ({rec['mode']}, {rec['secs']}s)", flush=True)

    artifact = {
        "round": args.round,
        "sf_dir": args.sf_dir,
        # the backend the rows' stores ran on (SPARK_GRAFT_TABLE_FORMAT)
        "table_format": get_table_format_name(),
        "n_queries": len(results),
        "n_ok": n_ok,
        "n_fail": len(results) - n_ok,
        "results": results,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"REPLAY_r{args.round:02d}{args.out_tag}.json",
    )
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"\n{n_ok}/{len(results)} green -> {out}")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
