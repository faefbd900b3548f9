#!/usr/bin/env python
"""COW delete cost at 1x vs 10x file count (r16 verdict task 5).

SCALE.md §COW measured the toy point: a GDPR-shaped delete's rewrite
set is the per-day floor under Z-order but ~2x that under the ts-only
sort.  This probe re-runs the same experiment at the sf1-replica
(10x events density => 10x files per day at a FIXED 800-row file-size
policy) to confirm the two 100 TB claims:

1. files TOUCHED stays at the key's day-floor under Z-order while the
   table's total file count grows 10x (rewrite cost ∝ touched files,
   not table size);
2. affected-file DISCOVERY stays footer-stat-bounded — measured
   directly by re-running the same delete after it has committed
   (0 matching rows => the wall is pure discovery: footer prune +
   residual page reads, no rewrite, no flip).

Usage: python tools/cow_probe.py [--dirs /root/testdata/sf0.1,/tmp/zdb_sf1]
Prints one markdown row per (scale, layout) for SCALE.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def run_point(spark, sf_dir: str, layout: str) -> dict:
    import __spark_entry__ as entry

    from pyspark.sql import functions as F

    from zdb_spark.schema import ColumnType, PartitionBy, Schema
    from zdb_spark.table import Table

    name = f"cowprobe_{layout}"
    home = tempfile.mkdtemp(prefix=f"cow_probe_{layout}_")
    schema = (Schema(name)
              .add_col("event_id", ColumnType.I64)
              .add_col("user_id", ColumnType.I64)
              .add_col("event_type", ColumnType.SYMBOL16)
              .add_col("value", ColumnType.F64)
              .with_partition_by(PartitionBy.DAY))
    # _load is the dtype choke point: events.ts as epoch-nanos long
    ev = (entry._load(spark, sf_dir, "events")
          .select("ts", "event_id", "user_id", "event_type", "value"))
    zkw = {}
    if layout == "zorder":
        lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).first()
        zkw = {"zorder_by": ["user_id"],
               "zorder_bounds": {"user_id": (float(lo),
                                             float(hi) + 1.0)}}
    t = Table.create(spark, schema, home=home, **zkw)
    t0 = time.time()
    t.write(ev, enforce_order=False)
    build = time.time() - t0
    _, before = t._latest_manifest()

    t0 = time.time()
    n = t.delete_where("user_id = 777")
    wall = time.time() - t0
    _, after = t._latest_manifest()
    touched = len(set(before) - set(after))

    # second run: 0 rows match => pure discovery cost (footer prune)
    t0 = time.time()
    n2 = t.delete_where("user_id = 777")
    rediscover = time.time() - t0
    assert n2 == 0, n2

    shutil.rmtree(home, ignore_errors=True)
    return {"layout": layout, "rows": n, "files_total": len(before),
            "files_touched": touched, "build_s": round(build, 2),
            "delete_s": round(wall, 2),
            "rediscover_s": round(rediscover, 2)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs",
                    default="/root/testdata/sf0.1,/tmp/zdb_sf1")
    args = ap.parse_args()

    from zdb_spark.session import get_spark

    spark = get_spark("cow-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # fixed file-size policy: file COUNT scales with data, mirroring
    # a production maxPartitionBytes/target-file-size setting
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "800")

    print("| scale dir | layout | total files | rows deleted | "
          "files touched | delete wall | rediscover (0 rows) |")
    print("|---|---|---|---|---|---|---|")
    for sf_dir in args.dirs.split(","):
        for layout in ("tsonly", "zorder"):
            r = run_point(spark, sf_dir, layout)
            print(f"| {os.path.basename(sf_dir.rstrip('/'))} "
                  f"| {r['layout']} | {r['files_total']} "
                  f"| {r['rows']} | {r['files_touched']} "
                  f"| {r['delete_s']} s | {r['rediscover_s']} s |",
                  flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
