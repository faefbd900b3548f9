#!/usr/bin/env python
"""Scan-side data-skipping probe (r18): manifest stats vs none.

The COW probe measured discovery-side pruning; this one measures the
READ side: a manifest table built from events at a fixed 800-row
file-size policy is scanned over a narrow window, once with the
recorded per-file stats (r18 behavior) and once with the stats map
emptied (pre-r18 behavior, monkeypatched) — same snapshot, same
predicate, same session.

What to expect and why it is honest to say so:

- The DAY-partitioned layout already dt-prunes whole days at the
  Spark planning layer, so for a day-aligned window the stats prune
  the SAME files dt pruning would.  The measurable difference at this
  scale is the file-index size Spark must build (inputFiles) and the
  driver-side planning cost over it, which is the 100 TB lever: a
  million-file table hands Spark a million-path index every query
  without manifest pruning, and only the matching slice with it.
- A SUB-day window shows stats pruning INSIDE a day when files are
  ts-split (the sort guarantees disjoint ts ranges per file), which
  dt pruning cannot do.

Usage: python tools/skip_probe.py [--dirs /root/testdata/sf0.1,/tmp/zdb_sf1]
Prints one markdown row per (scale, window) for SCALE.md.
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

DAY_NS = 86_400 * 10**9


def run_point(spark, sf_dir: str) -> list[dict]:
    import __spark_entry__ as entry

    from pyspark.sql import functions as F

    from zdb_spark.schema import ColumnType, PartitionBy, Schema
    from zdb_spark.table import Table

    home = tempfile.mkdtemp(prefix="skip_probe_")
    schema = (Schema("skipprobe")
              .add_col("event_id", ColumnType.I64)
              .add_col("user_id", ColumnType.I64)
              .add_col("value", ColumnType.F64)
              .with_partition_by(PartitionBy.DAY))
    ev = (entry._load(spark, sf_dir, "events")
          .select("ts", "event_id", "user_id", "value"))
    t = Table.create(spark, schema, home=home)
    t.write(ev, enforce_order=False)
    _, files = t._latest_manifest()
    lo = int(t.get_first_ts())
    rows = []
    for label, span in (("1 day", DAY_NS), ("2 hours", DAY_NS // 12)):
        a = lo + 3 * DAY_NS          # a mid-table window
        b = a + span - 1
        out = []
        for mode in ("stats", "none"):
            if mode == "none":
                orig = Table._stats_of_head
                Table._stats_of_head = lambda self, head: {}
            try:
                t0 = time.time()
                df = t.scan(a, b)
                n = df.count()
                wall = time.time() - t0
                nf = len(t._df_pruned((a, b)).inputFiles())
            finally:
                if mode == "none":
                    Table._stats_of_head = orig
            out.append((n, nf, wall))
        (n1, f1, w1), (n0, f0, w0) = out
        assert n1 == n0, (n1, n0)    # pruning must not change results
        rows.append({"scale": os.path.basename(sf_dir.rstrip("/")),
                     "window": label, "files_total": len(files),
                     "rows": n1, "files_stats": f1, "files_none": f0,
                     "wall_stats": round(w1, 2),
                     "wall_none": round(w0, 2)})
    shutil.rmtree(home, ignore_errors=True)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs",
                    default="/root/testdata/sf0.1,/tmp/zdb_sf1")
    args = ap.parse_args()

    from zdb_spark.session import get_spark

    spark = get_spark("skip-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "800")

    print("| scale | window | total files | rows | file-index w/ "
          "stats | w/o stats | scan wall w/ | w/o |")
    print("|---|---|---|---|---|---|---|---|")
    for sf_dir in args.dirs.split(","):
        for r in run_point(spark, sf_dir):
            print(f"| {r['scale']} | {r['window']} "
                  f"| {r['files_total']} | {r['rows']} "
                  f"| {r['files_stats']} | {r['files_none']} "
                  f"| {r['wall_stats']} s | {r['wall_none']} s |",
                  flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
