"""Table: zdb's time-partitioned columnar table on Parquet + Spark.

Reference semantics re-expressed (SURVEY.md §1, §2.1, §2.2):
- create/open/create_or_open + ``_meta`` sidecar:
  /root/reference/src/table/mod.rs:93-141, /root/reference/src/table/meta.rs:8-37
- partition dir naming (all/%Y/%Y-%m/%Y-%m-%d):
  /root/reference/src/table/write.rs:26-36
- out-of-order append panic ("Timestamp {} is out of order"):
  /root/reference/src/table/write.rs:79-84 → raised ``OutOfOrderError`` here,
  enforced against persisted per-table max-ts metadata (late rows can't sneak
  into already-sealed time ranges).
- partition-pruned time-range scan + projection:
  /root/reference/src/table/scan.rs:43-89
- table min/max ts from metadata: /root/reference/src/table/meta.rs:39-67

Physical design for scale:
- Data lands as Parquet partitioned by a derived ``dt`` string column
  (hive-style ``dt=2024-01-01`` dirs), so Catalyst partition-prunes the same
  way zdb's interval-overlap test prunes partition dirs
  (/root/reference/src/table/scan.rs:67-74).
- Rows are sorted by ``ts`` *within* each written file
  (``sortWithinPartitions``) so Parquet row-group min/max stats make the
  time predicate nearly as selective as zdb's binary-search seek
  (/root/reference/src/table/scan.rs:174-213) — at 100 TB this is the
  difference between reading one row group and reading a whole partition.
- ``scan()`` rewrites the single logical time predicate into BOTH the
  partition filter (on ``dt``) and the row filter (on ``ts``) so pruning
  happens at the directory level AND the row-group level (SURVEY.md §4
  conclusion item 3).
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .schema import ColumnType, PartitionBy, Schema

__all__ = ["Table", "TableExistsError", "TableNotFoundError", "OutOfOrderError",
           "zdb_home"]

NANOS_PER_MICRO = 1_000


class TableExistsError(RuntimeError):
    pass


class TableNotFoundError(RuntimeError):
    pass


class OutOfOrderError(RuntimeError):
    """Mirror of the reference's out-of-order panic
    (/root/reference/src/table/write.rs:79-84)."""


def zdb_home() -> str:
    """Root data dir, like $ZDB_HOME (/root/reference/src/lib.rs)."""
    return os.environ.get("ZDB_SPARK_HOME", os.path.join(os.getcwd(), "zdb_data"))


@dataclass
class _Meta:
    """Sidecar `_meta` payload (/root/reference/src/table/meta.rs:25-37).

    ``manifest=True`` switches the table to snapshot-manifest reads:
    scans list files from the latest ``_manifest/v*.json`` instead of the
    directory tree, giving batch-level atomic visibility (a reader can
    never observe a half-moved batch) — the property object stores need,
    where staged renames are neither atomic nor instant.
    """

    schema: dict
    row_count: int = 0
    min_ts: int | None = None  # first ts ever written (nanos)
    max_ts: int | None = None  # last ts ever written (nanos)
    manifest: bool = False
    # last committed batch id per streaming writer app (listing-mode
    # fallback; manifest mode records txns INSIDE the manifest json so
    # the batch-id advance and the file-list flip are one atomic rename)
    txns: dict = None
    # schema-evolution state: columns added AFTER data existed, mapped to
    # their read-time default (None → NULL), and columns dropped (their
    # bytes stay in old files; reads project them away).  Either
    # non-empty ⇒ reads supply an explicit schema instead of footer
    # inference.
    added_defaults: dict = None
    dropped_columns: list = None
    # parquet codec for this table's data files (None = session default,
    # i.e. snappy).  Applied by write() and compact(), so a re-compaction
    # after changing it re-encodes the whole table.
    compression: str = None
    # Z-order clustering (round-13 verdict task 6): {"cols": [...],
    # "bits": int, "bounds": {col: [lo, hi]}} or None.  Bounds are
    # pinned at CREATE and never change — fixed bounds keep every
    # append epoch on the SAME curve (operators/layout.py:86), so new
    # files interleave with old ones and compaction only merges
    # rectangles.  Applied by write() and compact(); value columns
    # only (time is already pruned by dt partitions + the ts sort).
    zorder: dict = None
    # CHECK constraints (r18, the Delta shape): name -> SQL boolean
    # expression enforced on every row that ENTERS the table (appends,
    # streaming batches, merge inserts, update rewrites).  NULL
    # evaluations PASS (standard SQL CHECK); existing rows are not
    # re-validated when a check is added — add_check scans once and
    # refuses if history already violates.
    checks: dict = None

    def __post_init__(self):
        if self.txns is None:
            self.txns = {}
        if self.added_defaults is None:
            self.added_defaults = {}
        if self.dropped_columns is None:
            self.dropped_columns = []
        if self.checks is None:
            self.checks = {}

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2)

    @classmethod
    def from_json(cls, s: str) -> "_Meta":
        return cls(**json.loads(s))


_PARQUET_CODECS = {"snappy", "zstd", "gzip", "lz4", "brotli",
                   "uncompressed", "none"}


class Table:
    """Append-only, timestamp-ordered, time-partitioned table."""

    def __init__(self, spark: SparkSession, schema: Schema, path: str,
                 meta: _Meta) -> None:
        self.spark = spark
        self.schema = schema
        self.path = path
        self._meta = meta

    # ------------------------------------------------------------------ #
    # lifecycle: create / open (/root/reference/src/table/mod.rs:93-141)  #
    # ------------------------------------------------------------------ #
    @classmethod
    def _table_path(cls, name: str, home: str | None) -> str:
        return os.path.join(home or zdb_home(), "data", name)

    @classmethod
    def create(cls, spark: SparkSession, schema: Schema,
               home: str | None = None, manifest: bool = False,
               compression: str | None = None,
               zorder_by: list[str] | None = None,
               zorder_bits: int = 12,
               zorder_bounds: dict[str, tuple[float, float]] | None = None
               ) -> "Table":
        """``manifest=True`` opts the table into snapshot-manifest reads
        (see ``_Meta``).  Stream-fed manifest tables are supported via
        ``streaming.ingest.stream_writer_table`` (foreachBatch →
        ``write(txn=...)`` → manifest commit); the raw parquet file sink
        (``stream_writer``) bypasses the manifest log and is for
        listing-mode tables only.

        ``compression`` pins the table's parquet codec (zstd for cold
        archival tables, lz4/snappy for hot scan paths — the per-table
        knob the reference gets from choosing column-file layouts);
        persisted in the sidecar, honored by every write and compact.

        ``zorder_by`` pins multi-dimensional Z-order clustering for the
        table's VALUE columns (operators/layout.py): every write() and
        compact() sorts files along the Morton curve of these columns,
        so parquet min/max footers prune value-band predicates the
        reference's time-only layout cannot.  ``zorder_bounds`` (col ->
        (lo, hi)) is REQUIRED for each column and never changes — fixed
        bounds keep all epochs on one curve so appended files interleave
        with old ones.  Out-of-range values clamp to the edge cells
        (correct, just unpruned).  Time columns are refused: dt
        partition pruning + the per-file ts sort already cluster time,
        and a monotonically-growing ts would saturate fixed bounds.
        The trade: in-file sort becomes (dt, curve, ts), so intra-day
        ts row-group pruning is shared with the value dims — the
        sqrt-span trade measured in SCALE.md §Z-order."""
        if compression is not None and \
                compression not in _PARQUET_CODECS:
            raise ValueError(
                f"unknown compression {compression!r} "
                f"(one of {sorted(_PARQUET_CODECS)})")
        zorder = None
        if zorder_by:
            by_name = {c.name: c for c in schema.columns}
            if len(zorder_by) * zorder_bits > 62:
                raise ValueError(
                    f"{len(zorder_by)} cols x {zorder_bits} bits "
                    "exceeds a long (<= 62)")
            for c in zorder_by:
                if c not in by_name:
                    raise ValueError(f"zorder_by column {c!r} not in "
                                     "schema")
                if c == schema.ts_col or \
                        by_name[c].ctype == ColumnType.TIMESTAMP:
                    raise ValueError(
                        f"zorder_by column {c!r} is a time column: time "
                        "is already clustered by dt partitions + the ts "
                        "sort, and fixed curve bounds cannot follow a "
                        "growing timestamp — z-order the value "
                        "dimensions instead")
                if by_name[c].ctype.name.startswith("SYMBOL"):
                    # a string column casts to NULL under the grid's
                    # to-double scaling: every row would land in cell 0
                    # and clustering silently degrades to a no-op —
                    # the same silent failure the TIMESTAMP refusal
                    # above exists to prevent
                    raise ValueError(
                        f"zorder_by column {c!r} is a symbol/string "
                        "column: the Morton grid needs numeric values "
                        "(dictionary-encode it to an integer column "
                        "first if clustering on it matters)")
                b = (zorder_bounds or {}).get(c)
                if (b is None or len(b) != 2
                        or not float(b[0]) < float(b[1])):
                    raise ValueError(
                        f"zorder_by needs fixed bounds (lo < hi) for "
                        f"{c!r} via zorder_bounds — bounds are pinned "
                        "at create so every epoch shares one curve")
            zorder = {"cols": list(zorder_by), "bits": int(zorder_bits),
                      "bounds": {c: [float(zorder_bounds[c][0]),
                                     float(zorder_bounds[c][1])]
                                 for c in zorder_by}}
        path = cls._table_path(schema.name, home)
        meta_path = os.path.join(path, "_meta")
        if os.path.exists(meta_path):
            raise TableExistsError(f"table {schema.name!r} already exists")
        os.makedirs(path, exist_ok=True)
        meta = _Meta(schema=schema.to_dict(), manifest=manifest,
                     compression=compression, zorder=zorder)
        with open(meta_path, "w") as f:
            f.write(meta.to_json())
        return cls(spark, schema, path, meta)

    @classmethod
    def open(cls, spark: SparkSession, name: str,
             home: str | None = None) -> "Table":
        path = cls._table_path(name, home)
        meta_path = os.path.join(path, "_meta")
        if not os.path.exists(meta_path):
            raise TableNotFoundError(f"table {name!r} does not exist")
        with open(meta_path) as f:
            meta = _Meta.from_json(f.read())
        return cls(spark, Schema.from_dict(meta.schema), path, meta)

    @classmethod
    def create_or_open(cls, spark: SparkSession, schema: Schema,
                       home: str | None = None) -> "Table":
        try:
            return cls.open(spark, schema.name, home)
        except TableNotFoundError:
            return cls.create(spark, schema, home)

    @classmethod
    def drop(cls, name: str, home: str | None = None) -> None:
        path = cls._table_path(name, home)
        if os.path.exists(path):
            shutil.rmtree(path)

    # ------------------------------------------------------------------ #
    # write path (/root/reference/src/table/write.rs:62-121)             #
    # ------------------------------------------------------------------ #
    def _with_partition_col(self, df: DataFrame) -> DataFrame:
        """Derive the ``dt`` partition column from epoch-nanos ``ts``
        (W3, /root/reference/src/table/write.rs:26-36)."""
        ts = self.schema.ts_col
        fmt = self.schema.partition_by.date_format
        from .functions.scalar import nanos_to_ts
        ts_utc = nanos_to_ts(F.col(ts))
        if fmt is None:
            return df.withColumn("dt", F.lit("all"))
        return df.withColumn("dt", F.date_format(ts_utc, fmt))

    def write(self, df: DataFrame, enforce_order: bool = True,
              cluster_by: list[str] | None = None,
              max_records_per_file: int | None = None,
              txn: tuple[str, int] | None = None) -> int:
        """Append a batch. Validates schema, enforces the monotonic-append
        invariant against recorded max_ts, derives ``dt``, sorts by ts
        within files, appends Parquet, updates the sidecar.

        ``cluster_by`` prepends secondary sort columns (e.g. ``["sym"]``)
        ahead of ``ts`` inside each file: Parquet column stats then skip
        row groups on those predicates too — the poor-man's Z-order, and
        the right layout when queries are usually per-symbol.

        ``max_records_per_file`` caps file size (maps to Spark's
        ``maxRecordsPerFile``); each split file stays sorted because the
        writer splits a sorted task stream sequentially.

        ``txn=(app_id, batch_id)`` makes the append IDEMPOTENT per
        (app, batch): a batch id ≤ the last committed id for that app is
        skipped (returns 0).  This is the streaming exactly-once hook —
        ``foreachBatch`` retries after a failure re-deliver the same
        batch id, and in manifest mode the txn high-water mark is stored
        INSIDE the manifest json, so the id advance and the file-list
        flip commit in one atomic rename (the Delta txn-appId pattern).
        Listing mode records it in the sidecar — best-effort, since file
        visibility there isn't transactional to begin with.

        Returns the number of rows appended (0 for a replayed txn).
        """
        if txn is not None and self._last_txn(txn[0]) >= txn[1]:
            return 0  # fast path: replay detected before the write job
        ts = self.schema.ts_col
        expected = [c.name for c in self.schema.columns]
        missing = [c for c in expected if c not in df.columns]
        # evolution-added columns with a declared default are fillable;
        # anything else missing is a caller error
        for c in list(missing):
            if c in self._meta.added_defaults and \
                    self._meta.added_defaults[c] is not None:
                df = df.withColumn(c, F.lit(self._meta.added_defaults[c]))
                missing.remove(c)
        if missing:
            raise ValueError(f"batch missing columns {missing}")
        df = df.select(*[
            F.col(c.name).cast(c.spark_type(self.schema.strict_u64))
            for c in self.schema.columns
        ])
        # Resolution rounding on write (W2): every timestamp column is
        # floored to its declared resolution — val/res*res, the reference's
        # put_timestamp contract (/root/reference/src/table/write.rs:62-65).
        # `v - v % res` matches Rust's truncating division for negatives
        # too.  Without this, a table declared at 1-minute bars silently
        # keeps raw nanos and round-trips diverge.
        for c in self.schema.columns:
            if c.ctype == ColumnType.TIMESTAMP and c.resolution > 1:
                df = df.withColumn(
                    c.name,
                    F.col(c.name) - F.col(c.name) % F.lit(c.resolution))

        # Persist across the three consumers of this plan (stats agg,
        # range-boundary sampling, the write): without it every append —
        # including every streaming micro-batch — recomputes the source
        # plan three times, and a non-deterministic upstream could make
        # stats and data diverge.
        df = df.persist()
        try:
            return self._write_persisted(df, ts, enforce_order, cluster_by,
                                         max_records_per_file, txn)
        finally:
            df.unpersist()

    def _clustering(self, out: DataFrame, cluster_by: list[str] | None,
                    ts: str) -> tuple[DataFrame, list[str], bool]:
        """(df, sort_cols, has_zkey) — the shared in-file clustering for
        write() and compact().  A sidecar-pinned Z-order curve replaces
        linear secondary clustering: the Morton key (pure Catalyst bit
        algebra, operators/layout.py) leads the in-partition sort so
        every file covers a small rectangle of the value space; ``ts``
        stays as the tie-break.  Explicit ``cluster_by`` on a z-ordered
        table is a caller error, not a silent precedence choice."""
        z = self._meta.zorder
        if not z:
            return out, ["dt", *(cluster_by or []), ts], False
        if cluster_by:
            raise ValueError(
                "table is z-ordered (sidecar zorder); cluster_by would "
                "silently override the pinned curve — drop one of them")
        from .operators.layout import scale_to_grid, zorder_key

        grid = [scale_to_grid(F.col(c), float(z["bounds"][c][0]),
                              float(z["bounds"][c][1]), int(z["bits"]))
                for c in z["cols"]]
        out = out.withColumn("_zkey", zorder_key(grid, int(z["bits"])))
        return out, ["dt", "_zkey", ts], True

    def _write_persisted(self, df: DataFrame, ts: str, enforce_order,
                         cluster_by, max_records_per_file, txn) -> int:
        # CHECK violation counts fold into the one stats pass the
        # append already pays (df is persisted) — the refusal fires
        # BEFORE any file lands, with a per-check count.
        checks = list((self._meta.checks or {}).items())
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(ts).alias("n_ts"),
            F.min(ts).alias("lo"),
            F.max(ts).alias("hi"),
            *[F.coalesce(
                  F.sum((~F.coalesce(F.expr(sql), F.lit(True)))
                        .cast("long")), F.lit(0)).alias(f"_ck_{i}")
              for i, (_nm, sql) in enumerate(checks)],
        ).collect()[0]
        n, lo, hi = stats["n"], stats["lo"], stats["hi"]
        if n == 0:
            return 0
        if stats["n_ts"] != n:
            # A failed cast yields NULL silently; null-ts rows would land
            # in the Hive default partition, invisible to every pruned
            # time-range scan (and `lo` would be None, breaking the
            # order check).  Refuse loudly instead.
            raise ValueError(
                f"batch has {n - stats['n_ts']} NULL {ts} values after "
                f"schema cast (unparseable input?); null-ts rows would "
                "be unreachable by time-range scans")
        for i, (nm, sql) in enumerate(checks):
            bad = int(stats[f"_ck_{i}"])
            if bad:
                raise ValueError(
                    f"CHECK constraint {nm!r} ({sql}) violated by "
                    f"{bad} of {n} batch rows — nothing was written")
        cur_max = self.get_last_ts()
        if enforce_order and cur_max is not None and lo < cur_max:
            raise OutOfOrderError(
                f"Timestamp {lo} is out of order (table max_ts "
                f"{cur_max})")

        out = self._with_partition_col(df)
        # Sort by ts within each output file so Parquet row-group min/max
        # stats stay selective (zdb's binary-search analogue, SURVEY.md §4).
        # ``dt`` leads the sort: FileFormatWriter requires ordering by the
        # partition columns and inserts its OWN (order-destroying) sort if
        # the incoming order doesn't already start with them.
        out, sort_cols, zkeyed = self._clustering(out, cluster_by, ts)
        # repartitionByRange, NOT repartition("dt"): hash-partitioning on
        # dt alone funnels every row of a day into ONE task writing ONE
        # file — a single-task bottleneck (and an unsplittable giant file)
        # for any hot day at scale.  Range partitioning on the full sort
        # key lets a hot day fan out across tasks while keeping each
        # task's slice contiguous in (dt, cluster, ts), so files stay
        # disjoint in the sort key and row-group stats stay selective.
        # No explicit N: AQE coalesces the range shuffle for small
        # batches, so tiny appends still produce few files.
        clustered = (out.repartitionByRange(*sort_cols)
                     .sortWithinPartitions(*sort_cols))
        if zkeyed:
            # the curve key is LAYOUT only — dropping it after the sort
            # keeps the intra-partition order (projection is order-safe)
            clustered = clustered.drop("_zkey")
        writer = clustered.write.mode("overwrite")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if self._meta.compression:
            writer = writer.option("compression", self._meta.compression)
        # Stage in a per-batch directory, then rename part files into
        # place.  Two jobs appending directly to the same path share ONE
        # `_temporary` staging dir and each job's commit deletes the
        # other's in-flight task files (observed: FileNotFoundException at
        # commitJob under 4 concurrent appends).  Unique staging + rename
        # (part filenames already carry job UUIDs) makes concurrent
        # appends compose; batch-level atomic VISIBILITY would need a
        # manifest log on top (readers may glimpse a partially-moved
        # batch after a mid-move crash).
        import uuid

        staging = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        writer.partitionBy("dt").parquet(staging)
        dest_root = os.path.join(self.path, "parquet")
        try:
            if self._meta.manifest:
                # LOCK-FREE commit: part filenames are unique, so moves
                # need no coordination; visibility + stats + txn marks
                # all flip in ONE optimistic CAS manifest publish.
                return self._commit_append_cas(staging, dest_root,
                                               n, lo, hi, txn)
            # Listing mode: take the table lock BEFORE moving files into
            # the data tree — a lock timeout then aborts with the batch
            # still in _staging (invisible, cleaned below) instead of
            # leaving visible rows with a stale sidecar.  The moves are
            # renames (microseconds), so holding the lock across them
            # costs concurrent appends nothing.
            moved: list[str] = []
            with self._meta_lock():
                if txn is not None and self._last_txn(txn[0]) >= txn[1]:
                    return 0  # lost the race to a concurrent replay
                self._move_staged(staging, dest_root, moved)
                self._merge_meta_locked(n, lo, hi, txn=txn)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return n

    @staticmethod
    def _move_staged(staging: str, dest_root: str,
                     moved: list[str]) -> None:
        """Rename staged part files into the data tree, appending their
        table-relative paths to ``moved``."""
        for dt_dir in os.listdir(staging):
            src_dir = os.path.join(staging, dt_dir)
            if not (os.path.isdir(src_dir) and dt_dir.startswith("dt=")):
                continue
            dst_dir = os.path.join(dest_root, dt_dir)
            os.makedirs(dst_dir, exist_ok=True)
            for fname in os.listdir(src_dir):
                if fname.startswith(("_", ".")):
                    continue
                os.replace(os.path.join(src_dir, fname),
                           os.path.join(dst_dir, fname))
                moved.append(f"{dt_dir}/{fname}")

    def _commit_append_cas(self, staging: str, dest_root: str, n: int,
                           lo: int, hi: int,
                           txn: tuple[str, int] | None) -> int:
        """Manifest-mode append commit — optimistic, NO lock file.

        Uniquely-named part files move into the data tree without
        coordination (invisible until committed); then one CAS manifest
        publish flips the file list, row stats, and streaming txn mark
        together.  Two concurrent writers can both move, both attempt
        ``v+1``; the loser's exclusive create fails, it re-reads ``v+1``
        and publishes ``v+2`` — zero lost batches, no lock to leak or
        steal.  This is the object-store-safe protocol (exclusive create
        maps to a conditional PUT); the O_EXCL lock file survives only
        for listing-mode sidecar merges.

        A replayed streaming txn detected inside the CAS loop aborts:
        its already-moved files are unlinked (they were never visible).
        """
        moved: list[str] = []
        self._move_staged(staging, dest_root, moved)
        fstats = self._collect_file_stats(dest_root, moved)
        if self._commit_append_manifest(moved, n, lo, hi, txn,
                                        fstats) is None:
            for rel in moved:  # replay abort: files were never visible
                try:
                    os.unlink(os.path.join(dest_root, rel))
                except OSError:
                    pass
            return 0
        return n

    def _commit_append_manifest(self, moved: list[str], n: int, lo: int,
                                hi: int,
                                txn: tuple[str, int] | None,
                                fstats: dict | None = None
                                ) -> int | None:
        """CAS-publish one appended batch into the chunked manifest.

        The commit is O(head), NOT O(file-count): new files extend the
        head's ``tail``; when the tail reaches ``_SEAL_TAIL`` entries it
        is sealed into an immutable ``seg-*.json`` segment and the head
        keeps only the segment's name+count.  When ``_MERGE_SEGMENTS``
        segments accumulate they coalesce into one (the Delta-checkpoint
        analogue — O(file-count) once per ~``_SEAL_TAIL·_MERGE_SEGMENTS``
        commits, amortized to nothing).  So at 10⁶ files the per-commit
        head rewrite stays KBs where the round-3 single-doc layout
        rewrote a multi-MB file list every micro-batch.

        Segments written by a CAS attempt that loses the race become
        unreferenced orphans; ``vacuum()`` sweeps them past the grace
        window.  Returns the committed version, or None on txn replay.
        """
        def upd(head: dict) -> dict | None:
            if (txn is not None
                    and int(head["txns"].get(txn[0], -1)) >= txn[1]):
                return None
            segs = list(head["segments"])
            tail = head["tail"] + moved
            tail_stats = {**head.get("fstats", {}), **(fstats or {})}
            if len(tail) >= self._SEAL_TAIL:
                segs.append({"name": self._write_segment(
                                 tail, {f: tail_stats[f] for f in tail
                                        if f in tail_stats}),
                             "count": len(tail)})
                tail = []
                tail_stats = {}
                if len(segs) >= self._MERGE_SEGMENTS:
                    merged = []
                    mstats: dict = {}
                    for s in segs:
                        merged.extend(self._load_segment(s["name"]))
                        mstats.update(self._segment_stats(s["name"]))
                    segs = [{"name": self._write_segment(
                                 merged,
                                 {f: mstats[f] for f in merged
                                  if f in mstats}),
                             "count": len(merged)}]
            nh = dict(head)
            nh["segments"], nh["tail"] = segs, tail
            nh["fstats"] = tail_stats
            if txn is not None:
                nh["txns"] = {**head["txns"], txn[0]: txn[1]}
            nh["row_count"] = head["row_count"] + n
            nh["min_ts"] = (lo if head["min_ts"] is None
                            else min(head["min_ts"], lo))
            nh["max_ts"] = (hi if head["max_ts"] is None
                            else max(head["max_ts"], hi))
            return nh

        return self._commit_manifest_head(upd)

    def _merge_meta_locked(self, n: int, lo: int, hi: int,
                           txn: tuple[str, int] | None = None) -> None:
        """Fold one appended batch into the sidecar; caller HOLDS the
        lock.  LISTING-MODE ONLY — manifest tables commit everything
        (files, stats, txns) through the lock-free CAS path instead.

        Concurrent appends are data-safe by construction (each job writes
        uniquely-named part files); the sidecar was the only race.  Under
        the lock the CURRENT sidecar is re-read and the batch merged
        additively (count adds, min/max fold), so two writers' updates
        compose instead of last-write-wins.  The out-of-order check
        remains best-effort against the max_ts read at write() entry —
        single-writer semantics, like the reference.  NB: O_EXCL lock
        files coordinate writers on a POSIX/HDFS-like FS; object stores
        should use manifest mode, whose CAS commit needs no lock.
        """
        meta_path = os.path.join(self.path, "_meta")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                cur = _Meta.from_json(f.read())
        else:
            cur = self._meta
        cur.row_count += n
        cur.min_ts = lo if cur.min_ts is None else min(cur.min_ts, lo)
        cur.max_ts = hi if cur.max_ts is None else max(cur.max_ts, hi)
        if txn is not None:
            cur.txns[txn[0]] = txn[1]  # listing-mode fallback record
        self._meta = cur
        self._flush_meta()

    @contextmanager
    def _meta_lock(self, timeout_s: float = 10.0, stale_s: float = 60.0):
        """O_EXCL lock file serializing every sidecar/manifest mutation
        (append merge, compaction flip, vacuum).

        The lock file records ``pid started_at`` so operators can see the
        holder.  A lock whose mtime is older than ``stale_s`` is presumed
        abandoned by a crashed writer (every legitimate hold is
        milliseconds — renames + one json write) and is STOLEN: rename to
        a unique grave name (atomic — exactly one stealer wins), re-check
        age on the renamed file (if a fresh lock slipped into the window
        it is renamed straight back), then retry acquisition.  Without
        reclamation one crashed writer blocks every future append/compact
        /vacuum forever.
        """
        import time as _time
        import uuid as _uuid

        lock = os.path.join(self.path, "_meta.lock")
        deadline = _time.time() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{os.getpid()} {_time.time():.3f}".encode())
                break
            except FileExistsError:
                try:
                    age = _time.time() - os.path.getmtime(lock)
                except OSError:
                    continue  # holder released between open and stat
                if age >= stale_s:
                    grave = f"{lock}.stale.{_uuid.uuid4().hex}"
                    try:
                        os.rename(lock, grave)
                    except OSError:
                        continue  # another stealer (or release) won
                    try:
                        if _time.time() - os.path.getmtime(grave) >= stale_s:
                            os.unlink(grave)
                        else:  # renamed a FRESH lock: restore it
                            os.rename(grave, lock)
                    except OSError:
                        pass
                    continue
                if _time.time() >= deadline:
                    raise TimeoutError(f"could not acquire {lock}")
                _time.sleep(0.05)
        try:
            yield
        finally:
            os.close(fd)
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass  # stolen mid-hold (pathological stale_s); harmless

    # ------------------------------------------------------------------ #
    # snapshot manifest (batch-level atomic visibility)                  #
    # ------------------------------------------------------------------ #
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifest")

    def _latest_manifest(self) -> tuple[int, list[str]]:
        """(version, relative file paths) of the newest snapshot; (0, [])
        before the first committed batch."""
        v, doc = self._latest_manifest_doc()
        return v, doc["files"]

    def _latest_manifest_full(self) -> tuple[int, list[str], dict]:
        """(version, files, streaming txn high-water marks)."""
        v, doc = self._latest_manifest_doc()
        return v, doc["files"], doc["txns"]

    # Chunked-manifest layout knobs.  The head json carries at most
    # _SEAL_TAIL inline file paths (a few KB); beyond that the tail seals
    # into an immutable segment file.  _MERGE_SEGMENTS bounds the head's
    # segment list by coalescing — together they keep every head rewrite
    # O(KB) no matter how many files the table owns.
    _SEAL_TAIL = 256
    _MERGE_SEGMENTS = 64

    _EMPTY_HEAD = {"segments": [], "tail": [], "txns": {}, "row_count": 0,
                   "min_ts": None, "max_ts": None, "fstats": {}}

    @classmethod
    def _normalize_head(cls, raw: dict) -> dict:
        """Accept both head layouts: the chunked form ({segments, tail})
        and the legacy round-3 single-doc form ({files}) — a legacy doc's
        whole file list is treated as the tail, so the first commit on
        top of it seals it into a segment and the table converts in
        place, no migration step."""
        if "segments" not in raw:
            h = {**cls._EMPTY_HEAD,
                 **{k: v for k, v in raw.items() if k != "files"}}
            h["tail"] = list(raw.get("files", []))
            h["segments"] = []
            return h
        return {**cls._EMPTY_HEAD, **raw}

    def _latest_head(self) -> tuple[int, dict]:
        """(version, normalized head doc) of the newest snapshot.

        The head is the manifest table's SINGLE atomically-published
        source of truth: segment refs + tail files, streaming txn
        high-water marks, and row stats all flip in one CAS publish.
        Heads are immutable once published, so the parse is memoized on
        version — hot metadata reads (row_count/get_last_ts per append)
        parse each snapshot exactly once.
        """
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return 0, dict(self._EMPTY_HEAD, segments=[], tail=[], txns={})
        versions = [
            int(f[1:-5]) for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")]
        if not versions:
            return 0, dict(self._EMPTY_HEAD, segments=[], tail=[], txns={})
        v = max(versions)
        cached = getattr(self, "_head_cache", None)
        if cached is None or cached[0] != v:
            with open(os.path.join(d, f"v{v:012d}.json")) as f:
                cached = (v, self._normalize_head(json.load(f)))
            self._head_cache = cached
        head = cached[1]
        # defensive copy: update fns build new dicts but must never
        # mutate the memoized head through shared list/dict refs
        return v, {**head, "segments": list(head["segments"]),
                   "tail": list(head["tail"]), "txns": dict(head["txns"]),
                   "fstats": dict(head.get("fstats", {}))}

    def _load_segment(self, name: str) -> list[str]:
        """File list of one immutable segment; memoized (segments are
        write-once, uuid-named — a name can never mean different bytes)."""
        cache = getattr(self, "_seg_cache", None)
        if cache is None:
            cache = self._seg_cache = {}
        if name not in cache:
            with open(os.path.join(self._manifest_dir(), name)) as f:
                cache[name] = json.load(f)["files"]
        return cache[name]

    def _write_segment(self, files: list[str],
                       stats: dict | None = None) -> str:
        """Write an immutable uuid-named segment; returns its name.
        Unique names need no CAS — losers of the head race just orphan
        their segment for vacuum.  ``stats`` (r18 data skipping) rides
        along: per-file [rows, {col: min}, {col: max}] for the files
        sealed into this segment, so the head stays O(KB) while stats
        coverage stays O(file-count) — the Delta-checkpoint shape."""
        import uuid as _uuid

        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        name = f"seg-{_uuid.uuid4().hex}.json"
        tmp = os.path.join(d, f".{name}.tmp")
        doc = {"files": files}
        if stats:
            doc["stats"] = stats
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(d, name))
        return name

    def _segment_stats(self, name: str) -> dict:
        """Per-file stats dict of one immutable segment (empty for
        pre-r18 segments); memoized like ``_load_segment``."""
        cache = getattr(self, "_seg_stats_cache", None)
        if cache is None:
            cache = self._seg_stats_cache = {}
        if name not in cache:
            try:
                with open(os.path.join(self._manifest_dir(),
                                       name)) as f:
                    cache[name] = json.load(f).get("stats", {})
            except OSError:
                cache[name] = {}
        return cache[name]

    def _stats_of_head(self, head: dict) -> dict:
        """Merged per-file stats map for every file the head references
        (segment stats + tail ``fstats``).  A file with no entry is
        simply unprunable — pre-r18 manifests degrade to full scans,
        never to wrong answers."""
        out: dict = {}
        for seg in head["segments"]:
            out.update(self._segment_stats(seg["name"]))
        out.update(head.get("fstats", {}))
        return out

    def _files_of_head(self, head: dict) -> list[str]:
        """Materialize the full file list (segment order, then tail)."""
        out: list[str] = []
        for seg in head["segments"]:
            out.extend(self._load_segment(seg["name"]))
        out.extend(head["tail"])
        return out

    def _head_from_files(self, files: list[str], head: dict,
                         fstats: dict | None = None) -> dict:
        """Head doc for a WHOLESALE file-list replacement (compaction,
        migration): small lists ride inline in the tail; large ones seal
        into one fresh segment so the head stays O(KB).  ``fstats``
        maps live files to their stats; tail files keep theirs in the
        head, sealed files carry theirs into the segment."""
        fstats = fstats or {}
        nh = {k: head[k] for k in ("txns", "row_count", "min_ts", "max_ts")}
        if len(files) <= self._SEAL_TAIL:
            nh.update(segments=[], tail=list(files),
                      fstats={f: fstats[f] for f in files
                              if f in fstats})
        else:
            seg_stats = {f: fstats[f] for f in files if f in fstats}
            nh.update(segments=[{"name": self._write_segment(
                                     list(files), seg_stats),
                                 "count": len(files)}],
                      tail=[], fstats={})
        return nh

    def _latest_manifest_doc(self) -> tuple[int, dict]:
        """(version, manifest document with the MATERIALIZED file list).

        Reader-side view over the chunked layout; commit paths work on
        heads (``_latest_head``) and never pay this materialization.
        """
        v, head = self._latest_head()
        return v, {"files": self._files_of_head(head), "txns": head["txns"],
                   "row_count": head["row_count"], "min_ts": head["min_ts"],
                   "max_ts": head["max_ts"]}

    def _last_txn(self, app_id: str) -> int:
        """Last committed streaming batch id for ``app_id`` (-1 if none)."""
        if self._meta.manifest:
            _, head = self._latest_head()
            txns = head["txns"]
        else:
            meta_path = os.path.join(self.path, "_meta")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    txns = _Meta.from_json(f.read()).txns
            else:
                txns = self._meta.txns
        return int(txns.get(app_id, -1))

    def _commit_manifest_head(self, update_fn, max_retries: int = 200):
        """Optimistic version-check commit (the multi-writer protocol).

        Read the latest (version, head), apply ``update_fn(head) -> new
        head`` (or ``None`` to abort), then publish ``v+1`` by EXCLUSIVE
        create: if another writer already published ``v+1``, the create
        fails, the loop re-reads and re-applies — classic CAS.  No lock
        file exists to leak, block, or be stolen; abandoned writers cost
        nothing.  On an object store the exclusive create maps to a
        conditional PUT (S3 ``If-None-Match: *``, GCS
        ``ifGenerationMatch=0``); on POSIX it is ``os.link`` from a
        private tmp (atomic even over NFS, and it can never silently
        OVERWRITE a concurrent winner the way ``rename`` would).

        Returns the committed version, or None if ``update_fn`` aborted.
        """
        import random
        import time as _time

        for attempt in range(max_retries):
            v, head = self._latest_head()
            nh = update_fn(head)
            if nh is None:
                return None
            if self._try_publish_manifest(v + 1, nh):
                # memoize the winner: the next metadata read needs no parse
                self._head_cache = (v + 1, self._normalize_head(nh))
                return v + 1
            # jittered backoff so N colliding writers spread out
            _time.sleep(random.random() * 0.002 * min(attempt + 1, 25))
        raise RuntimeError(
            f"manifest CAS failed after {max_retries} attempts "
            f"(pathological write contention on {self.path})")

    def _commit_manifest(self, update_fn, max_retries: int = 200):
        """Full-doc CAS commit: ``update_fn`` sees/returns a doc with the
        MATERIALIZED ``files`` list.  For wholesale rewrites (compaction
        flip, migration) where O(file-count) work is inherent anyway;
        appends use the O(head) ``_commit_append_manifest`` path."""
        def head_fn(head: dict):
            doc = {"files": self._files_of_head(head), "txns": head["txns"],
                   "row_count": head["row_count"], "min_ts": head["min_ts"],
                   "max_ts": head["max_ts"],
                   "fstats": self._stats_of_head(head)}
            ndoc = update_fn(doc)
            if ndoc is None:
                return None
            nh = self._head_from_files(ndoc["files"], head,
                                       ndoc.get("fstats"))
            for k in ("txns", "row_count", "min_ts", "max_ts"):
                nh[k] = ndoc[k]
            return nh

        return self._commit_manifest_head(head_fn, max_retries)

    def _try_publish_manifest(self, version: int, doc: dict) -> bool:
        """Publish ``v{version}.json`` iff it does not exist yet.

        Write a uniquely-named tmp (fsync'd), then ``os.link`` it to the
        version name — hard-link creation fails with EEXIST if another
        writer won the version, which IS the compare-and-swap.  The tmp
        is always unlinked; a crash between write and link leaves only a
        ``.tmp`` orphan that ``vacuum()`` sweeps.
        """
        import uuid as _uuid

        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".v{version:012d}.{_uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        target = os.path.join(d, f"v{version:012d}.json")
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _version_files(self, version: int) -> list[str]:
        """Manifest-relative file list of snapshot ``version`` (loud on
        a vacuumed/unknown version)."""
        path = os.path.join(self._manifest_dir(), f"v{version:012d}.json")
        if not os.path.exists(path):
            raise ValueError(f"no snapshot version {version}")
        with open(path) as f:
            return self._files_of_head(self._normalize_head(json.load(f)))

    def snapshot(self, version: int) -> DataFrame:
        """Time-travel read: the table exactly as of manifest ``version``
        (manifest-mode tables only).  Compaction rewrites files, so
        pre-compaction snapshots are readable only until ``vacuum()``."""
        if not self._meta.manifest:
            raise ValueError("snapshot() requires a manifest=True table")
        files = self._version_files(version)
        p = os.path.join(self.path, "parquet")
        if not files:
            return self.spark.createDataFrame(
                [], self.schema.spark_schema().add("dt", "string"))
        return (self.spark.read.option("basePath", p)
                .parquet(*[os.path.join(p, f) for f in files]))

    def changes_between(self, from_version: int,
                        to_version: int | None = None) -> DataFrame:
        """Row-level change feed between two snapshots (the Delta CDF
        shape, r17; manifest tables only): every table column plus
        ``dt`` and a ``_change_type`` column — ``'insert'`` for rows
        present at ``to_version`` but not ``from_version``,
        ``'delete'`` for the reverse; an update surfaces as its
        delete+insert pair.  ``to_version=None`` reads to the latest
        head.  This is how a downstream incremental consumer (a dedup
        store, an index, an export) catches up after appends, COW
        deletes/updates, merges, or compactions without rescanning the
        table.

        No change images are stored — the COW invariant derives them:
        data files are IMMUTABLE once committed, so every changed row
        lives in a file that entered or left the manifest between the
        two versions.  The diff reads ONLY those files and cancels
        rows that merely moved during a rewrite with ``exceptAll``
        (multiset semantics, so duplicate rows diff correctly; set ops
        match NULL/NaN the way a row-identity comparison must).  Cost
        at 100 TB: a shuffle over the CHANGED bytes only — an
        append-only day diffs for the price of the new files; a pure
        compaction reads what it compacted and returns an empty feed
        (rewrites change bytes, not rows).  Both snapshots must still
        exist — pair consumers with ``vacuum(keep_versions=N)`` to
        hold the audit window open.

        Schema evolution: the feed is rendered in the table's CURRENT
        schema — both diffed snapshots read through the evolved-schema
        reader, so a feed spanning an ``add_column`` shows
        pre-evolution rows with the column's fill default (the Delta
        CDF convention; an accumulating consumer sees ONE schema, not
        a per-version one).  A row whose only change is the evolution
        default itself therefore does NOT appear in the feed — the
        stored bytes never changed.  ``dt`` is always a STRING column,
        on the empty path and the file-diff path alike, so unioning
        successive feed batches never schema-mismatches on an empty
        batch (ADVICE r17)."""
        if not self._meta.manifest:
            raise ValueError(
                "changes_between() requires a manifest=True table")
        if to_version is None:
            to_version = self._latest_head()[0]
        if from_version > to_version:
            raise ValueError(
                f"changes_between: from_version {from_version} > "
                f"to_version {to_version} — swap them; the feed is "
                "directional (insert = present only in to_version)")
        a = set(self._version_files(from_version))
        b = set(self._version_files(to_version))
        added = sorted(b - a)
        removed = sorted(a - b)
        out_cols = [c.name for c in self.schema.columns] + ["dt"]
        empty = self.spark.createDataFrame(
            [], self.schema.spark_schema().add("dt", "string")
                .add("_change_type", "string"))
        if not added and not removed:
            return empty
        _, _, read_files, _ = self._cow_read()

        def tagged(files, other, tag):
            if not files:
                return None
            # dt via Hive partition discovery infers DATE for
            # yyyy-MM-dd values; the empty-feed schema declares
            # STRING.  Pin one type on BOTH paths so an accumulating
            # consumer can union empty and non-empty batches
            # (ADVICE r17).
            def rd(fs):
                return (read_files(fs)
                        .withColumn("dt", F.col("dt").cast("string"))
                        .select(*out_cols))

            df = rd(files)
            if other:
                df = df.exceptAll(rd(other))
            return df.withColumn("_change_type", F.lit(tag))

        ins = tagged(added, removed, "insert")
        del_ = tagged(removed, added, "delete")
        if ins is None:
            return del_ if del_ is not None else empty
        return ins.unionByName(del_) if del_ is not None else ins

    def _land_staging(self, staging: str, src: str) -> list[str]:
        """Move staged ``dt=*/part`` files into the live tree and
        return their manifest-relative paths — the ONE copy of the
        rewrite-landing rules (unique part names alongside the old
        files, hidden files skipped, staging removed), shared by
        ``compact()`` and ``_rewrite_where`` so a future change to
        the landing semantics cannot silently miss one of them (r16
        review finding)."""
        moved: list[str] = []
        for dt_dir in os.listdir(staging):
            sdir = os.path.join(staging, dt_dir)
            if not (os.path.isdir(sdir) and dt_dir.startswith("dt=")):
                continue
            ddir = os.path.join(src, dt_dir)
            os.makedirs(ddir, exist_ok=True)
            for fname in os.listdir(sdir):
                if fname.startswith(("_", ".")):
                    continue
                os.replace(os.path.join(sdir, fname),
                           os.path.join(ddir, fname))
                moved.append(f"{dt_dir}/{fname}")
        shutil.rmtree(staging, ignore_errors=True)
        return moved

    def _flip_replacing(self, replaced: set[str], moved: list[str],
                        src: str, op_name: str,
                        row_count_delta: int = 0,
                        bounds: tuple[int, int] | None = None) -> None:
        """CAS-flip a file-set rewrite: every path in ``replaced``
        leaves the manifest, ``moved`` enters, row_count adjusts by
        ``row_count_delta`` — the ONE copy of the supersede-guard +
        abort protocol shared by ``compact()`` and ``_rewrite_where``
        (r16 review pass 2).  ``bounds=(lo, hi)`` additionally folds a
        ts range into the head's min/max stats — ``merge_into``'s
        inserts can extend the table beyond the bounds the appends
        recorded, and a flip that left them stale would make
        ``get_first_ts``/``get_last_ts`` lie to the pruning layer.  If ANY replaced file was already
        superseded by a concurrent rewrite, committing our copy of its
        OLD rows would resurrect rows that writer removed (and
        duplicate the ones it kept), so the flip aborts loudly: our
        landed rewrites are unlinked (they were never
        manifest-committed) and the caller re-runs on the new
        snapshot.  Concurrent APPENDS only add files, so every
        replaced file still present means no rewrite won — safe; the
        CAS loop re-reads the latest doc on version conflicts, so an
        append that wins a version mid-flip is preserved."""
        conflict: list[str] = []
        moved_stats = self._collect_file_stats(src, moved)

        def flip(doc: dict) -> dict | None:
            present = set(doc["files"])
            missing = [f for f in replaced if f not in present]
            if missing:
                conflict.extend(missing)
                return None
            files = [f for f in doc["files"]
                     if f not in replaced] + moved
            fstats = {f: s for f, s in doc.get("fstats", {}).items()
                      if f not in replaced}
            fstats.update(moved_stats)
            nh = {**doc, "files": files, "fstats": fstats,
                  "row_count": doc["row_count"] + row_count_delta}
            if bounds is not None:
                lo, hi = bounds
                nh["min_ts"] = (lo if doc["min_ts"] is None
                                else min(doc["min_ts"], lo))
                nh["max_ts"] = (hi if doc["max_ts"] is None
                                else max(doc["max_ts"], hi))
            return nh

        if self._commit_manifest(flip) is None:
            for f in moved:             # our rewrites are now orphans
                try:
                    os.unlink(os.path.join(src, f))
                except OSError:
                    pass
            raise RuntimeError(
                f"{op_name} lost a rewrite race on {len(conflict)} "
                f"file(s) (e.g. {conflict[0]!r}) — a concurrent "
                "rewrite superseded the snapshot; re-run "
                f"{op_name} on the new snapshot")

    def delete_where(self, condition) -> int:
        """Row-level DELETE as copy-on-write (r16 — the GDPR /
        right-to-be-forgotten workflow the reference never needed;
        beyond-reference surface like the manifest itself): rows where
        ``condition`` evaluates TRUE are removed; NULL evaluations
        keep their rows (SQL DELETE semantics).  Returns the number of
        rows deleted.

        Mechanics, the object-store-safe shape ``compact`` pinned:

        1. one predicate-pushed pass over the LATEST committed
           snapshot finds the AFFECTED files (``input_file_name``
           groupBy — at 100 TB, footer stats prune most files before
           a row is read, so a selective delete touches only the
           files that can match);
        2. only affected files are rewritten (survivor rows, same
           dt partitioning, the table's own sort/clustering via
           ``_clustering`` so z-ordered layouts stay z-ordered), into
           new unique part names ALONGSIDE the old files;
        3. one CAS manifest flip replaces exactly the affected files
           with the rewrites.  Readers holding older snapshots keep
           their files until ``vacuum()`` (time travel still shows
           the deleted rows at old versions — the audit trail).

        Snapshot isolation: rows appended AFTER the snapshot read are
        NOT deleted even if they match — re-run for late arrivals.
        If a concurrent ``compact``/``delete_where`` rewrote any
        affected file before our flip, the commit ABORTS loudly
        (retry) instead of resurrecting deleted rows by keeping the
        other writer's rewrite of them.  ``row_count`` is maintained;
        min/max ts bounds stay unchanged (conservative — still valid
        for pruning).  Manifest tables only: listing mode has no
        snapshot to isolate against (use manifest=True, or filter at
        read)."""
        return self._rewrite_where(condition, "delete", None)

    def update_where(self, condition,
                     assignments: dict[str, object]) -> int:
        """Row-level UPDATE as copy-on-write (r16): rows where
        ``condition`` evaluates TRUE get ``assignments`` applied
        (column name → Column expression or SQL string, evaluated
        against the OLD row); all other rows pass through unchanged.
        Returns the number of rows updated.  Same machinery, isolation
        guarantees, and race-abort contract as ``delete_where`` — the
        in-place dataset-repair workflow (e.g. redact a PII column
        across a 100 TB table by rewriting only the files that contain
        matches).  The timestamp and partition columns cannot be
        assigned (a row may not move between partitions or break the
        ordering contract — delete + re-append for that)."""
        ts = self.schema.ts_col
        for col in assignments:
            if col in (ts, "dt"):
                raise ValueError(
                    f"update_where cannot assign {col!r}: rows may "
                    "not move between partitions or reorder — "
                    "delete_where + write() instead")
            if col not in {c.name for c in self.schema.columns}:
                raise KeyError(f"update_where: unknown column {col!r}")
        return self._rewrite_where(condition, "update", assignments)

    def merge_into(self, source: DataFrame, on,
                   when_matched: str | None = "update",
                   set_values: dict[str, object] | None = None,
                   when_not_matched: str | None = "insert",
                   broadcast_source: bool | None = None) -> dict:
        """MERGE (upsert) as copy-on-write — the Delta/Iceberg
        ``MERGE INTO`` shape, completing the r16 row-level
        delete/update family (beyond-reference surface; the reference
        is append-only, src/table/write.rs:79-84).  ``source`` rows
        are matched to table rows by equality on the ``on`` key
        column(s); per clause:

        - ``when_matched='update'`` rewrites matched rows.
          ``set_values`` maps target column → expression evaluated on
          the joined row with the table aliased ``t`` and the source
          ``s`` (e.g. ``{"value": "t.value + s.value"}``); qualify
          names — unqualified references to shared columns are
          ambiguous by construction.  Default: every non-key source
          column that exists in the table is overwritten from the
          source (classic upsert).  The timestamp, ``dt`` and key
          columns cannot be assigned (rows may not move partitions or
          change identity — delete + insert for that).
        - ``when_matched='delete'`` removes matched rows.
        - ``when_not_matched='insert'`` appends source rows that match
          nothing; the source must then supply every table column
          (evolution defaults fill), and values are cast + resolution-
          floored exactly like ``write()``.  Inserts bypass the
          monotonic-append check (``write(enforce_order=False)``
          semantics) and fold their ts range into the manifest bounds.

        Multiple source rows sharing one key are rejected when a
        matched clause is active (the Delta ambiguity contract);
        key-column values are normalized to the declared column type
        (including timestamp resolution flooring) before matching.

        Mechanics and scale shape, same as ``delete_where``: one
        key-semi-join pass over the latest snapshot finds affected
        files (merge sources are usually small — the join broadcasts
        when AQE sees a small side, or force it with
        ``broadcast_source=True``); only affected files are rewritten,
        preserving the table's sort/Z-order; unmatched inserts land as
        new files in their own ``dt`` partitions; ONE CAS manifest
        flip commits rewrites + inserts atomically, with the same
        supersede-guard abort as every other rewrite.  Row accounting
        is footer-derived (never a second predicate evaluation).
        Snapshot isolation: rows appended concurrently are not
        merged — re-run for late arrivals.  Returns
        ``{"matched", "updated", "deleted", "inserted"}``.
        """
        if not self._meta.manifest:
            raise ValueError(
                "merge_into() requires a manifest=True table "
                "(copy-on-write needs snapshot isolation)")
        if when_matched not in ("update", "delete", None):
            raise ValueError(
                f"when_matched must be 'update', 'delete' or None, "
                f"got {when_matched!r}")
        if when_not_matched not in ("insert", None):
            raise ValueError(
                f"when_not_matched must be 'insert' or None, "
                f"got {when_not_matched!r}")
        if when_matched is None and when_not_matched is None:
            raise ValueError("merge_into: both clauses are None — "
                             "the merge would do nothing")
        if set_values is not None and when_matched != "update":
            raise ValueError(
                "set_values requires when_matched='update'")
        keys = [on] if isinstance(on, str) else list(on)
        if not keys:
            raise ValueError("merge_into: empty key list")
        ts = self.schema.ts_col
        known = {c.name for c in self.schema.columns}
        for k in keys:
            if k not in known:
                raise KeyError(f"merge_into: unknown key column {k!r}")
            if k not in source.columns:
                raise KeyError(
                    f"merge_into: source lacks key column {k!r}")
        if when_matched == "update":
            if set_values is None:
                set_values = {
                    c: F.col(f"s.{c}") for c in source.columns
                    if c in known and c not in keys
                    and c != ts and c != "dt"}
                if not set_values:
                    raise ValueError(
                        "merge_into: no source column is updatable "
                        "(all are keys/timestamp) — pass set_values "
                        "or when_matched='delete'/None")
            for c in set_values:
                if c in (ts, "dt"):
                    raise ValueError(
                        f"merge_into cannot assign {c!r}: rows may "
                        "not move between partitions or reorder — "
                        "delete + insert instead")
                if c in keys:
                    raise ValueError(
                        f"merge_into cannot assign key column {c!r}: "
                        "a matched row's key already equals the "
                        "source's — delete + insert to re-key")
                if c not in known:
                    raise KeyError(
                        f"merge_into: unknown column {c!r}")
        import uuid

        # normalize key columns to the declared type + ts resolution
        # floor so raw-source keys match what write() stored
        # A non-deterministic source (rand()/shuffle-order-dependent
        # expressions) would be re-evaluated per pass below — the
        # duplicate-key check, affected-file discovery, update join,
        # insert anti-join and insert count each run their own Spark
        # job, so a source whose key set varies between jobs can miss
        # files the discovery pass picked AND insert keys that exist
        # in unaffected files (duplicate keys).  Same hazard class as
        # _rewrite_where's predicate — reject loudly (ADVICE r17).
        if self._plan_nondeterministic(source):
            raise ValueError(
                "merge_into: non-deterministic source plan — the "
                "source is evaluated in several separate jobs "
                "(ambiguity check, file discovery, update join, "
                "insert anti-join), so a source that can change "
                "between evaluations merges an inconsistent key "
                "set; materialize it first (write it out, or "
                ".localCheckpoint()) and merge the materialized "
                "frame")
        snorm = source
        for c in self.schema.columns:
            if c.name not in keys:
                continue
            snorm = snorm.withColumn(
                c.name,
                F.col(c.name).cast(c.spark_type(self.schema.strict_u64)))
            if c.ctype == ColumnType.TIMESTAMP and c.resolution > 1:
                snorm = snorm.withColumn(
                    c.name,
                    F.col(c.name) - F.col(c.name) % F.lit(c.resolution))
        # One materialization for every pass (belt to the rejection's
        # suspenders, and a plain win for deterministic sources: the
        # 3-5 jobs below reread cached partitions instead of
        # recomputing an arbitrary upstream plan each time).
        snorm = snorm.persist()
        try:
            if when_matched is not None:
                dup = (snorm.groupBy(*keys)
                       .agg(F.count(F.lit(1)).alias("_c"))
                       .where(F.col("_c") > 1).limit(1).collect())
                if dup:
                    kv = tuple(dup[0][k] for k in keys)
                    raise ValueError(
                        f"merge_into: multiple source rows share key "
                        f"{kv!r} — a matched target row would be "
                        "rewritten ambiguously; de-duplicate the source "
                        "on the merge key first")

            src, base_files, read_files, rel = self._cow_read()
            affected: dict[str, int] = {}
            if base_files:
                # Manifest data skipping for the discovery semi-join
                # (r18): when a merge key is a stats column (ts or a
                # Z-order key), every matched target row's key equals
                # SOME source key, so the source's [min, max] per key
                # column is a necessary range — prune files outside
                # it from manifest metadata before the join reads a
                # byte.  One tiny agg over the persisted source; NULL
                # source keys match nothing under equi-join semantics,
                # and min/max ignore them, so the bound stays sound.
                stat_keys = [k for k in keys
                             if k in self._stats_columns()]
                if stat_keys:
                    row = snorm.agg(
                        *[F.min(k).alias(f"_lo_{k}")
                          for k in stat_keys],
                        *[F.max(k).alias(f"_hi_{k}")
                          for k in stat_keys]).first()
                    kb = {k: (row[f"_lo_{k}"], row[f"_hi_{k}"])
                          for k in stat_keys
                          if row[f"_lo_{k}"] is not None}
                    if kb:
                        _, head = self._latest_head()
                        base_files = self._prune_files_by_stats(
                            base_files, self._stats_of_head(head),
                            kb)
            if base_files:
                skeys = snorm.select(*keys).dropDuplicates(keys)
                if broadcast_source:
                    skeys = F.broadcast(skeys)
                # capture input_file_name AT SCAN TIME: evaluated after
                # the join it returns '' (the joined stage no longer reads
                # the file), which would map every hit to garbage paths
                hits = (read_files(base_files)
                        .withColumn("_f", F.input_file_name())
                        .join(skeys, on=keys, how="left_semi")
                        .groupBy("_f")
                        .agg(F.count(F.lit(1)).alias("_n"))
                        .collect())
                affected = {rel(r["_f"]): int(r["_n"]) for r in hits}
            n_matched = sum(affected.values())

            data_cols = [c.name for c in self.schema.columns]
            out_cols = data_cols + ["dt"]

            def recast(df: DataFrame) -> DataFrame:
                # declared-type cast + ts resolution floor, write()'s W1/W2
                # contract — update expressions and raw sources must not
                # drift the parquet schema file-to-file
                df = df.select(
                    *[F.col(c.name).cast(c.spark_type(self.schema.strict_u64))
                      for c in self.schema.columns],
                    *([F.col("dt")] if "dt" in df.columns else []))
                for c in self.schema.columns:
                    if c.ctype == ColumnType.TIMESTAMP and c.resolution > 1:
                        df = df.withColumn(
                            c.name,
                            F.col(c.name) - F.col(c.name) % F.lit(c.resolution))
                return df

            pieces: list[DataFrame] = []
            replaced: set[str] = set()
            if when_matched is not None and affected:
                replaced = set(affected)
                t = read_files(sorted(affected)).alias("t")
                s = snorm.withColumn("_m", F.lit(True))
                if broadcast_source:
                    s = F.broadcast(s)
                s = s.alias("s")
                cond = None
                for k in keys:
                    e = F.col(f"t.{k}") == F.col(f"s.{k}")
                    cond = e if cond is None else (cond & e)
                joined = t.join(s, cond, "left")
                hit = F.col("s._m").isNotNull()
                if when_matched == "delete":
                    surv = joined.where(~hit).select(
                        *[F.col(f"t.{c}").alias(c) for c in out_cols])
                else:
                    def outc(c: str):
                        if c in set_values:
                            a = set_values[c]
                            expr = F.expr(a) if isinstance(a, str) else a
                            return (F.when(hit, expr)
                                    .otherwise(F.col(f"t.{c}")).alias(c))
                        return F.col(f"t.{c}").alias(c)

                    surv = joined.select(*[outc(c) for c in out_cols])
                pieces.append(recast(surv))

            n_inserted = 0
            ins_bounds: tuple[int, int] | None = None
            ins = None
            if when_not_matched == "insert":
                ins = snorm
                if affected:
                    # all matching target rows live in affected files BY
                    # CONSTRUCTION, so the anti-join right side is the
                    # affected subset, not the whole table
                    tk = read_files(sorted(affected)).select(*keys)
                    ins = ins.join(tk, on=keys, how="left_anti")
                missing = [c for c in data_cols if c not in ins.columns]
                for c in list(missing):
                    d = self._meta.added_defaults.get(c)
                    if d is not None:
                        ins = ins.withColumn(c, F.lit(d))
                        missing.remove(c)
                if missing:
                    raise ValueError(
                        f"merge_into: source lacks columns {missing} "
                        "required to insert unmatched rows (pass "
                        "when_not_matched=None for a matched-only merge)")
                ins = self._with_partition_col(
                    recast(ins.select(*data_cols))).persist()
                row = ins.agg(F.count(F.lit(1)).alias("_n"),
                              F.min(ts).alias("_lo"),
                              F.max(ts).alias("_hi"),
                              F.sum(F.col(ts).isNull().cast("long"))
                               .alias("_null_ts")).first()
                n_inserted = int(row["_n"])
                # NULL-ts inserts would land under the Hive default
                # partition OUTSIDE the manifest ts bounds — scan
                # pruning would then silently never return them, and
                # an all-NULL source would crash on int(None) below.
                # A timestamped store refuses them loudly (r18 review
                # finding).
                if int(row["_null_ts"] or 0):
                    raise ValueError(
                        "merge_into: source rows to insert carry a "
                        f"NULL {ts} — every row of a timestamped "
                        "table needs a timestamp (fill one in, or "
                        "drop the rows before merging)")
                if n_inserted:
                    ins_bounds = (int(row["_lo"]), int(row["_hi"]))
                    pieces.append(ins.select(*out_cols))

            if not pieces:
                if ins is not None:
                    ins.unpersist()
                return {"matched": n_matched, "updated": 0, "deleted": 0,
                        "inserted": 0}
            try:
                out = pieces[0]
                for p in pieces[1:]:
                    out = out.unionByName(p)
                # every row written by the merge (updates, rewritten
                # survivors, inserts) passes the table's CHECK
                # constraints — raise-in-pass, no second scan
                out = self._checks_guard(out)
                out, sort_cols, zkeyed = self._clustering(out, None, ts)
                nparts = max(len(replaced) + (1 if n_inserted else 0), 1)
                out = (out.repartitionByRange(nparts, *sort_cols)
                       .sortWithinPartitions(*sort_cols))
                if zkeyed:
                    out = out.drop("_zkey")
                writer = out.write.mode("overwrite")
                if self._meta.compression:
                    writer = writer.option("compression",
                                           self._meta.compression)
                staging = os.path.join(self.path, "_staging",
                                       uuid.uuid4().hex)
                writer.partitionBy("dt").parquet(staging)
                moved = self._land_staging(staging, src)
            finally:
                if ins is not None:
                    ins.unpersist()
            # net row change from parquet footers (the delete_where
            # accounting rule): rewrites + inserts minus replaced rows —
            # exact even if an update expression were non-deterministic
            delta = (self._footer_rows(src, moved)
                     - self._footer_rows(src, replaced))
            self._flip_replacing(replaced, moved, src, "merge_into",
                                 row_count_delta=delta, bounds=ins_bounds)
            return {"matched": n_matched,
                    "updated": n_matched if when_matched == "update" else 0,
                    "deleted": n_matched if when_matched == "delete" else 0,
                    "inserted": n_inserted}
        finally:
            snorm.unpersist()

    def _cow_read(self):
        """``(src, base_files, read_files, rel)`` — the shared
        snapshot-read machinery of the COW rewrite family
        (``_rewrite_where``, ``merge_into``): an evolved-schema-aware
        reader over the LATEST committed manifest plus the
        file-uri→manifest-relative mapper.  ``rel`` uses realpath on
        BOTH sides (ADVICE r16): Spark reports RESOLVED file paths, so
        a symlinked component in the table root (/tmp → /private/tmp)
        must not make every flip abort with a misleading
        'lost a rewrite race'."""
        import urllib.parse

        src = os.path.join(self.path, "parquet")
        _, base_files = self._latest_manifest()
        evolved = bool(self._meta.added_defaults
                       or self._meta.dropped_columns)
        reader = self.spark.read
        if evolved:
            reader = reader.schema(self._read_schema())

        def read_files(files: list[str]) -> DataFrame:
            df = (reader.option("basePath", src)
                  .parquet(*[os.path.join(src, f) for f in files]))
            return self._apply_added_defaults(df) if evolved else df

        abs_src = os.path.realpath(src)

        def rel(uri: str) -> str:
            p = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
            return os.path.relpath(os.path.realpath(p), abs_src)

        return src, base_files, read_files, rel

    def _rewrite_where(self, condition, mode: str,
                       assignments: dict[str, object] | None) -> int:
        if not self._meta.manifest:
            raise ValueError(
                f"{mode}_where() requires a manifest=True table "
                "(copy-on-write needs snapshot isolation); filter at "
                "read, or recreate the table with manifest=True")
        import uuid

        cond = (F.expr(condition) if isinstance(condition, str)
                else condition)
        src, base_files, read_files, rel = self._cow_read()
        if not base_files:
            return 0
        self._reject_nondeterministic(read_files(base_files), cond,
                                      f"{mode}_where")
        # Manifest-level data skipping (r18, r17 verdict task 3): the
        # necessary ranges the predicate implies on the stats columns
        # (ts + Z-order keys) prune the DISCOVERY scan itself — zero
        # footer reads, O(live-file metadata) already in memory.  A
        # file skipped here provably contains no matching row, so the
        # affected set, the rewrite, and the accounting are unchanged.
        bounds = self._predicate_bounds(read_files(base_files[:1]),
                                        cond)
        if bounds:
            _, head = self._latest_head()
            base_files = self._prune_files_by_stats(
                base_files, self._stats_of_head(head), bounds)
            if not base_files:
                return 0
        hits = (read_files(base_files).where(cond)
                .groupBy(F.input_file_name().alias("_f"))
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect())
        if not hits:
            return 0

        affected = {rel(r["_f"]): int(r["_n"]) for r in hits}
        n_deleted = sum(affected.values())
        if mode == "delete":
            # survivors: NOT(cond IS TRUE) — NULL evaluations keep rows
            survivors = (read_files(sorted(affected))
                         .where(~cond.eqNullSafe(F.lit(True))))
        else:
            # update: pass every row through, assignments under the
            # TRUE branch only (NULL evaluations keep the old value)
            base = read_files(sorted(affected))
            hit = cond.eqNullSafe(F.lit(True))

            def assigned(c: str):
                a = assignments[c]
                expr = F.expr(a) if isinstance(a, str) else a
                return F.when(hit, expr).otherwise(F.col(c)).alias(c)

            survivors = base.select(*[
                assigned(c) if c in assignments else F.col(c)
                for c in base.columns])
            # UPDATE re-validates everything it writes (the Delta
            # behavior); a pure DELETE rewrites only untouched
            # survivor rows and skips the guard — it cannot
            # introduce a violation
            survivors = self._checks_guard(survivors)
        ts = self.schema.ts_col
        out, sort_cols, zkeyed = self._clustering(survivors, None, ts)
        out = (out.repartitionByRange(max(len(affected), 1), *sort_cols)
               .sortWithinPartitions(*sort_cols))
        if zkeyed:
            out = out.drop("_zkey")
        writer = out.write.mode("overwrite")
        if self._meta.compression:
            writer = writer.option("compression",
                                   self._meta.compression)
        staging = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        writer.partitionBy("dt").parquet(staging)
        moved = self._land_staging(staging, src)

        if mode == "delete":
            # n_deleted from the REWRITE itself (ADVICE r16): parquet
            # footer row counts of the affected files minus footer
            # rows of their rewrites — exact accounting of what this
            # commit removed, driver-side and job-free, so the
            # manifest's row_count can never drift from the files even
            # if a (rejected-above, but belt-and-braces) second
            # predicate evaluation were to diverge from the discovery
            # pass.  The discovery counts only choose WHICH files to
            # rewrite.
            n_deleted = (self._footer_rows(src, affected)
                         - self._footer_rows(src, moved))
        self._flip_replacing(
            set(affected), moved, src, f"{mode}_where",
            row_count_delta=(-n_deleted if mode == "delete" else 0))
        return n_deleted

    def _stats_columns(self) -> list[str]:
        """Columns tracked by manifest-level data skipping (r18, r17
        verdict task 3): the timestamp column (every scan constrains
        it) plus the Z-order key columns (the rewrite predicates a
        clustered table exists to serve).  Numeric by construction —
        ts is int64 nanos, Z-order keys are validated numeric at
        CREATE."""
        cols = [self.schema.ts_col]
        z = self._meta.zorder
        if z:
            cols.extend(c for c in z["cols"] if c not in cols)
        return cols

    def _collect_file_stats(self, src: str, files) -> dict:
        """Per-file ``[rows, {col: min}, {col: max}]`` for the stats
        columns, from parquet FOOTERS only (no data pages — the same
        O(file-count) metadata cost class as the landing's own
        listing).  A column whose chunk statistics are absent or
        non-finite is simply omitted for that file (unprunable on
        that column, never wrong).  Recorded into the manifest at
        every commit so discovery-time pruning needs zero footer
        reads — the Delta/Iceberg add-file-stats shape."""
        import math

        import pyarrow.parquet as pq

        cols = self._stats_columns()

        def footer(rel: str):
            try:
                return rel, pq.ParquetFile(
                    os.path.join(src, rel)).metadata
            except Exception:
                return rel, None

        files = list(files)
        if len(files) > 8:
            # a large landing (compaction, wide merge) would serialize
            # thousands of footer opens on the driver — the reads are
            # independent and IO-bound, so a small thread pool keeps
            # the commit path O(files/16) wall
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as ex:
                footers = list(ex.map(footer, files))
        else:
            footers = [footer(rel) for rel in files]
        out: dict = {}
        for rel, md in footers:
            if md is None:
                continue
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            lo: dict = {}
            hi: dict = {}
            for c in cols:
                i = idx.get(c)
                if i is None:
                    continue
                cmin = cmax = None
                ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if (st is None or not st.has_min_max):
                        ok = False
                        break
                    mn, mx = st.min, st.max
                    if not (isinstance(mn, (int, float))
                            and isinstance(mx, (int, float))):
                        ok = False
                        break
                    if isinstance(mn, float) and not math.isfinite(mn):
                        ok = False
                        break
                    if isinstance(mx, float) and not math.isfinite(mx):
                        ok = False
                        break
                    cmin = mn if cmin is None else min(cmin, mn)
                    cmax = mx if cmax is None else max(cmax, mx)
                if ok and cmin is not None:
                    lo[c], hi[c] = cmin, cmax
            out[rel] = [int(md.num_rows), lo, hi]
        return out

    def _predicate_bounds(self, base: DataFrame, cond) -> dict:
        """Necessary per-column [lo, hi] ranges implied by ``cond``,
        for the stats columns only — derived from the ANALYZED filter
        plan so string and Column conditions resolve identically.
        Sound by construction: only top-level AND conjuncts of the
        shapes ``col (=|<|<=|>|>=) literal`` (either operand order)
        contribute; anything else — OR, casts, functions, columns we
        track no stats for — contributes nothing, so pruning can only
        ever skip files that provably contain no matching row.
        Returns {} (prune nothing) when JVM introspection fails."""
        want = set(self._stats_columns())
        bounds: dict = {}

        def note(col: str, lo, hi) -> None:
            plo, phi = bounds.get(col, (None, None))
            if lo is not None:
                plo = lo if plo is None else max(plo, lo)
            if hi is not None:
                phi = hi if phi is None else min(phi, hi)
            bounds[col] = (plo, phi)

        _INT_MAX = {"ByteType": 127, "ShortType": 32767,
                    "IntegerType": 2**31 - 1, "LongType": 2**63 - 1}

        def cast_preserves(v, t: str) -> bool:
            """True iff CAST(v AS t) is numerically the identity —
            the ONLY case where unwrapping the cast keeps the bound
            sound.  A truncating cast (777.9 -> 777L), an overflow
            (300 -> TINYINT) or a precision-losing widening
            (2^53+1 -> DOUBLE) changes the compared value, so
            unwrapping it would prune files that DO contain matching
            rows (r18 review finding)."""
            if t == "DoubleType":
                try:
                    return float(v) == v
                except OverflowError:
                    return False
            if t == "FloatType":
                import struct

                try:
                    return struct.unpack(
                        "f", struct.pack("f", float(v)))[0] == v
                except (OverflowError, struct.error):
                    return False
            if t in _INT_MAX:
                m = _INT_MAX[t]
                return v == int(v) and -m - 1 <= int(v) <= m
            return False

        def lit_value(e):
            """Literal value, unwrapping only VALUE-PRESERVING numeric
            Casts (the promotion Catalyst inserts around literals —
            int literal vs bigint column).  Each cast layer is checked
            against the literal's value after it is known; any layer
            that would change the value rejects the whole operand.  A
            cast on the ATTRIBUTE side is never unwrapped —
            cast(ts as date) changes units."""
            targets: list[str] = []
            while e.getClass().getSimpleName() == "Cast":
                targets.append(e.dataType().getClass()
                               .getSimpleName().rstrip("$"))
                e = e.child()
            if e.getClass().getSimpleName() != "Literal":
                return None
            v = e.value()
            if not isinstance(v, (int, float)) \
                    or isinstance(v, bool):
                return None
            # verify innermost-out: every layer must be the identity
            # on the value (widening chains are; anything else isn't)
            for t in reversed(targets):
                if not cast_preserves(v, t):
                    return None
            return v

        def visit(e) -> None:
            k = e.getClass().getSimpleName()
            if k == "And":
                visit(e.left())
                visit(e.right())
                return
            if k not in ("EqualTo", "GreaterThan",
                         "GreaterThanOrEqual", "LessThan",
                         "LessThanOrEqual"):
                return
            l, r = e.left(), e.right()
            lk = l.getClass().getSimpleName()
            rk = r.getClass().getSimpleName()
            if lk == "AttributeReference":
                col, v, flipped = l.name(), lit_value(r), False
            elif rk == "AttributeReference":
                col, v, flipped = r.name(), lit_value(l), True
            else:
                return
            if col not in want or v is None:
                return
            if k == "EqualTo":
                note(col, v, v)
            elif k in ("GreaterThan", "GreaterThanOrEqual"):
                # strict bounds relax to inclusive — a hair less
                # pruning, never a wrong skip
                note(col, None, v) if flipped else note(col, v, None)
            else:
                note(col, v, None) if flipped else note(col, None, v)

        try:
            plan = base.where(cond)._jdf.queryExecution().analyzed()
            visit(plan.condition())
        except Exception:
            return {}
        return {c: b for c, b in bounds.items()
                if b[0] is not None or b[1] is not None}

    @staticmethod
    def _prune_files_by_stats(files: list[str], stats: dict,
                              bounds: dict) -> list[str]:
        """Drop files whose recorded [min, max] cannot intersect every
        required column range.  Files without stats (pre-r18 commits,
        stats-less footers) always survive."""
        if not bounds:
            return files
        kept: list[str] = []
        for f in files:
            st = stats.get(f)
            if not st:
                kept.append(f)
                continue
            _, lo, hi = st
            alive = True
            for c, (blo, bhi) in bounds.items():
                if c not in lo:
                    continue
                if blo is not None and hi[c] < blo:
                    alive = False
                    break
                if bhi is not None and lo[c] > bhi:
                    alive = False
                    break
            if alive:
                kept.append(f)
        return kept

    @staticmethod
    def _footer_rows(src: str, files) -> int:
        """Sum of parquet-footer num_rows over manifest-relative
        ``files`` — metadata-only (no data pages read), the same
        O(file-count) cost class as the listing the rewrite already
        did."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(os.path.join(src, f)).metadata.num_rows
                   for f in files)

    @staticmethod
    def _plan_nondeterministic(df: DataFrame) -> bool:
        """True when the ANALYZED plan of ``df`` contains any
        non-deterministic expression anywhere in the tree (rand(),
        monotonically_increasing_id(), shuffle(), ...).  Catalyst's
        ``QueryPlan.deterministic`` is the recursive
        children-and-expressions conjunction — exactly the "could two
        evaluations differ" question ``merge_into`` needs for its
        multi-job source (ADVICE r17; the Filter-only
        ``_reject_nondeterministic`` below answers the same question
        for a rewrite predicate).  Degrades to False (allow) if the
        JVM introspection is unavailable — the persist() the caller
        takes is the remaining guard."""
        try:
            return not bool(
                df._jdf.queryExecution().analyzed().deterministic())
        except Exception:
            return False

    def _reject_nondeterministic(self, base: DataFrame, cond,
                                 op_name: str) -> None:
        """Refuse a non-deterministic rewrite predicate (ADVICE r16):
        ``_rewrite_where`` evaluates the condition in two separate
        jobs (affected-file discovery, then the survivor rewrite), so
        e.g. ``rand() < 0.5`` would delete a DIFFERENT row set than it
        discovered — files it skipped keep matching rows, and the
        reported count describes neither pass.  Detection uses the
        ANALYZED filter plan (pre-analysis, rand() is an unresolved
        function that still claims determinism); if the JVM
        introspection is unavailable the check degrades to allowing —
        the footer-derived delete count keeps the manifest honest
        regardless."""
        try:
            plan = base.where(cond)._jdf.queryExecution().analyzed()
            exprs = plan.expressions()
            bad = any(not exprs.apply(i).deterministic()
                      for i in range(exprs.size()))
        except Exception:
            return
        if bad:
            raise ValueError(
                f"{op_name}: non-deterministic predicate — the "
                "condition is evaluated once to find affected files "
                "and again to rewrite them, so a non-deterministic "
                "result would remove a different row set than it "
                "reports; materialize the decision into a column "
                "first (e.g. write a flag, then delete on it)")

    def vacuum(self, grace_seconds: float = 600.0,
               keep_versions: int = 0) -> int:
        """Delete data files not referenced by any RETAINED snapshot
        plus all manifest versions older than the retention window;
        returns files removed.  This is what reclaims crashed
        half-moved batches (invisible but present) and pre-compaction
        file trees — after it, ``snapshot()`` versions outside the
        window are gone by design.

        ``keep_versions`` (r16 verdict task 6 — the Delta retention
        shape): retain the N most recent SUPERSEDED snapshots in
        addition to the latest, so ``delete_where``'s audit trail
        (time travel to the pre-delete versions) survives routine
        vacuums for a bounded window.  The default 0 keeps only the
        latest — note the flip side: after a GDPR ``delete_where``,
        any retained older snapshot STILL SERVES the deleted rows, so
        a hard purge requires ``vacuum(keep_versions=0)`` (and the
        audit requirement must then live outside the table).

        ``grace_seconds`` protects in-flight appends: a concurrent
        ``write()`` moves part files into place BEFORE committing them to
        the manifest, so an unreferenced file younger than the grace
        window may simply not be committed yet and is left alone (the
        same reason Delta's VACUUM has a retention period).  The manifest
        flip itself is read under the table lock.
        """
        if not self._meta.manifest:
            raise ValueError("vacuum() requires a manifest=True table")
        if keep_versions < 0:
            raise ValueError(f"keep_versions must be >= 0, "
                             f"got {keep_versions}")
        import time as _time

        now = _time.time()
        # no lock: manifest versions are immutable once published (CAS
        # protocol), so a plain read of the latest is always consistent
        v, head = self._latest_head()
        keep = set(self._files_of_head(head))
        live_segs = {s["name"] for s in head["segments"]}
        # retention window: the keep_versions most recent superseded
        # heads stay readable, so their files and segments are live too
        md0 = self._manifest_dir()
        retained = [v]
        if keep_versions and os.path.isdir(md0):
            vs = sorted((int(f[1:-5]) for f in os.listdir(md0)
                         if f.startswith("v") and f.endswith(".json")),
                        reverse=True)
            retained = vs[:keep_versions + 1] or [v]
            for rv in retained:
                if rv == v:
                    continue
                with open(os.path.join(md0,
                                       f"v{rv:012d}.json")) as fh:
                    rh = self._normalize_head(json.load(fh))
                keep.update(self._files_of_head(rh))
                live_segs.update(s["name"] for s in rh["segments"])
        cutoff = min(retained)
        root = os.path.join(self.path, "parquet")
        removed = 0
        if os.path.isdir(root):
            for dt in os.listdir(root):
                d = os.path.join(root, dt)
                if not (dt.startswith("dt=") and os.path.isdir(d)):
                    continue
                for fname in os.listdir(d):
                    if fname.startswith(("_", ".")):
                        continue
                    full = os.path.join(d, fname)
                    if (f"{dt}/{fname}" not in keep
                            and now - os.path.getmtime(full) >= grace_seconds):
                        os.unlink(full)
                        removed += 1
        md = self._manifest_dir()
        if os.path.isdir(md):
            for f in os.listdir(md):
                full = os.path.join(md, f)
                if (f.startswith("v") and f.endswith(".json")
                        and int(f[1:-5]) < cutoff):
                    os.unlink(full)
                elif (f.startswith("seg-") and f.endswith(".json")
                      and f not in live_segs
                      and now - os.path.getmtime(full) >= grace_seconds):
                    # segments orphaned by a lost CAS race, a coalescing
                    # merge, or a superseded head deleted above; grace
                    # protects a concurrent committer that wrote its
                    # segment but hasn't published its head yet
                    os.unlink(full)
                elif (f.endswith(".tmp")
                      and now - os.path.getmtime(full) >= grace_seconds):
                    # crashed _write_manifest leaves .vNNN.tmp orphans
                    # nothing else ever sweeps
                    os.unlink(full)
        return removed

    def _flush_meta(self) -> None:
        """Persist sidecar (W7/W8, /root/reference/src/table/meta.rs:17-37).

        Write-then-rename so a crash mid-flush can never leave a torn
        ``_meta`` — the durability step the reference gets from its
        explicit flush/truncate sequence (write.rs:212-234).
        """
        target = os.path.join(self.path, "_meta")
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            f.write(self._meta.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, target)

    # ------------------------------------------------------------------ #
    # scan path (/root/reference/src/table/scan.rs:43-89)                #
    # ------------------------------------------------------------------ #
    def _read_schema(self):
        """Explicit read schema (nullable, + dt partition column) for
        evolved tables: files written BEFORE a column was added lack it,
        and footer-derived inference would either miss the column or
        make the scan depend on which file Spark sampled."""
        from pyspark.sql import types as T

        fields = [T.StructField(c.name,
                                c.spark_type(self.schema.strict_u64), True)
                  for c in self.schema.columns]
        if self.schema.partition_by.date_format is not None:
            fields.append(T.StructField("dt", T.StringType(), True))
        return T.StructType(fields)

    def _apply_added_defaults(self, df: DataFrame) -> DataFrame:
        for name, default in self._meta.added_defaults.items():
            if default is not None:
                df = df.withColumn(name, F.coalesce(
                    F.col(name),
                    F.lit(default).cast(df.schema[name].dataType)))
        return df

    def df(self) -> DataFrame:
        # The whole snapshot as Spark's own discovery sees it: footer
        # schema inference on non-evolved tables, and on listing tables
        # a root read whose ``dt`` Spark infers (as a date for daily
        # partitions).  ``scan()`` does not come through here; it reads
        # via ``_df_pruned``, which declares the schema and chooses the
        # partitions itself, so planning it launches no Spark job.
        p = os.path.join(self.path, "parquet")
        evolved = bool(self._meta.added_defaults
                       or self._meta.dropped_columns)
        reader = self.spark.read
        if evolved:
            reader = reader.schema(self._read_schema())
        if self._meta.manifest:
            # Snapshot read: only files the manifest committed are
            # visible.  basePath keeps hive-partition (dt) discovery —
            # and with it directory pruning — over the explicit list.
            _, files = self._latest_manifest()
            if not files:
                return self.spark.createDataFrame(
                    [], self.schema.spark_schema().add("dt", "string"))
            out = (reader.option("basePath", p)
                   .parquet(*[os.path.join(p, f) for f in files]))
            return self._apply_added_defaults(out) if evolved else out
        if not os.path.exists(p):
            return self.spark.createDataFrame([], self.schema.spark_schema()
                                              .add("dt", "string"))
        out = reader.parquet(p)
        return self._apply_added_defaults(out) if evolved else out

    def _df_pruned(self, ts_bounds: tuple | None) -> DataFrame:
        """The read under ``scan()``, planned without a Spark job.

        ``ts_bounds=(lo, hi)`` (either end None-able, nanos, inclusive)
        narrows the inputs before Spark sees them, the way zdb picks
        partitions from its own metadata (``src/table/scan.rs:67-74``):

        - manifest tables keep the committed files whose recorded ts
          stats overlap the range (``_prune_files_by_stats``);
        - listing tables keep the ``dt=`` directories whose value lies
          in ``[_dt_str_for(lo), _dt_str_for(hi)]`` (``_listed_paths``).

        Every read declares ``_read_schema()``, so no footer is sampled
        to infer one, and passes ``basePath`` so ``dt`` stays a
        partition column and Spark's hidden-file rules still apply
        inside each directory.  Pruning is file/directory granular: the
        caller still applies the row-level predicate."""
        lo, hi = ts_bounds if ts_bounds is not None else (None, None)
        p = os.path.join(self.path, "parquet")
        if self._meta.manifest:
            _, head = self._latest_head()
            files = self._files_of_head(head)
            if lo is not None or hi is not None:
                files = self._prune_files_by_stats(
                    files, self._stats_of_head(head),
                    {self.schema.ts_col: (lo, hi)})
            paths = [os.path.join(p, f) for f in files]
        else:
            paths = self._listed_paths(p, lo, hi)
        schema = self._read_schema()
        if not paths:
            return self.spark.createDataFrame([], schema)
        out = (self.spark.read.schema(schema).option("basePath", p)
               .parquet(*paths))
        return self._apply_added_defaults(out)

    def _listed_paths(self, root: str, lo, hi) -> list[str]:
        """Read paths of a listing-mode table for ``[lo, hi]``: one
        ``os.scandir`` of ``root`` keeps the ``dt=`` directories in
        range, by the same string comparison ``scan()`` applies to
        ``dt``.  The whole root is returned when there is nothing to
        prune by (no bounds, or no date partitioning) and when a raw
        ``stream_writer`` sink feeds the table: its ``_spark_metadata``
        log, not the directory tree, is then the file list, and Spark
        honours it only on a root read."""
        if not os.path.isdir(root):
            return []
        fmt = self.schema.partition_by.date_format
        if (fmt is None or (lo is None and hi is None)
                or os.path.isdir(os.path.join(root, "_spark_metadata"))):
            return [root]
        dt_lo = _dt_str_for(lo, fmt) if lo is not None else None
        dt_hi = _dt_str_for(hi, fmt) if hi is not None else None
        with os.scandir(root) as entries:
            return sorted(
                e.path for e in entries
                if e.name.startswith("dt=") and e.is_dir()
                and (dt_lo is None or e.name[3:] >= dt_lo)
                and (dt_hi is None or e.name[3:] <= dt_hi))

    def add_column(self, name: str, col_type: ColumnType,
                   default=None) -> None:
        """METADATA-ONLY schema evolution: add a column without touching
        a single data file — the only add-column that works at 100 TB
        (a rewrite is petabytes of IO; this is one sidecar update).

        Existing files surface the column as NULL, or as ``default``
        when given (applied at read time via coalesce, so the files stay
        byte-identical and the default can be changed by a later
        migration).  New writes must carry the column — or omit it and
        have ``default`` filled in (write-time fill uses the same
        default).  Runs under the meta lock; on manifest tables the
        sidecar schema is still the single schema authority, so the CAS
        file-list flips are unaffected.
        """
        if any(c.name == name for c in self.schema.columns) or name == "dt":
            raise ValueError(f"column {name!r} already exists")
        _validate_default(name, col_type, default)
        with self._meta_lock():
            meta_path = os.path.join(self.path, "_meta")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    self._meta = _Meta.from_json(f.read())
                self.schema = Schema.from_dict(self._meta.schema)
                if any(c.name == name for c in self.schema.columns):
                    raise ValueError(f"column {name!r} already exists")
            if name in self._meta.dropped_columns:
                # old files still hold the dropped column, possibly with
                # a different type — an explicit-schema read over them
                # would then fail; re-use is the rewrite's job
                raise ValueError(
                    f"column {name!r} was previously dropped; re-adding "
                    "requires an offline rewrite (convert_column_type)")
            self.schema.add_col(name, col_type)
            self._meta.schema = self.schema.to_dict()
            self._meta.added_defaults[name] = default
            self._flush_meta()

    def add_check(self, name: str, expr: str,
                  validate_existing: bool = True) -> None:
        """Attach a CHECK constraint (r18 — the Delta shape): ``expr``
        is a SQL boolean enforced on every row that ENTERS the table
        from now on — appends (batch and streaming), MERGE inserts,
        and UPDATE rewrites.  A NULL evaluation PASSES (standard SQL
        CHECK: the constraint rejects only rows where the predicate is
        FALSE).  ``validate_existing`` (default) scans the current
        snapshot once and REFUSES to add a check history already
        violates — a constraint the table doesn't satisfy would make
        every later compaction-free read a lie.  Non-deterministic
        expressions are rejected outright (the check is evaluated at
        write time and re-evaluated on rewrites; a coin-flip
        constraint would accept and reject the same row on different
        passes).  Stored in the sidecar under the meta lock."""
        if not name or not name.replace("_", "").isalnum():
            raise ValueError(f"check name {name!r}: use an identifier")
        probe = self.df()
        try:
            cond = F.expr(expr)
            probe.where(cond)._jdf.queryExecution().analyzed()
        except Exception as exc:
            raise ValueError(
                f"check {name!r} does not analyze against the table "
                f"schema: {expr!r} ({exc})") from None
        if self._plan_nondeterministic(probe.where(cond)):
            raise ValueError(
                f"check {name!r} is non-deterministic — a write-time "
                "constraint must evaluate identically on every pass")
        if validate_existing:
            bad = (probe.where(~F.coalesce(cond, F.lit(True)))
                   .limit(1).collect())
            if bad:
                raise ValueError(
                    f"check {name!r} is violated by existing rows "
                    f"(e.g. {bad[0].asDict()!r}) — clean the table "
                    "first, or pass validate_existing=False to "
                    "enforce forward-only")
        with self._meta_lock():
            meta_path = os.path.join(self.path, "_meta")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    self._meta = _Meta.from_json(f.read())
                self.schema = Schema.from_dict(self._meta.schema)
            if name in self._meta.checks:
                raise ValueError(f"check {name!r} already exists")
            self._meta.checks[name] = expr
            self._flush_meta()

    def drop_check(self, name: str) -> None:
        """Remove a CHECK constraint; rows already written stay."""
        with self._meta_lock():
            meta_path = os.path.join(self.path, "_meta")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    self._meta = _Meta.from_json(f.read())
            if name not in self._meta.checks:
                raise KeyError(f"no check named {name!r}")
            del self._meta.checks[name]
            self._flush_meta()

    def describe_files(self) -> DataFrame:
        """One row per LIVE data file from manifest metadata alone
        (r18 — the Delta ``DESCRIBE DETAIL``/files-inspection shape):
        (file, rows, size_bytes, plus ``<col>_min``/``<col>_max`` for
        every stats column the commits recorded; NULLs for pre-stats
        files).  Driver-side over the in-memory manifest — no footer
        reads, no Spark job against the data; the frame is
        file-count-sized, which is exactly what an operator debugging
        a pruning decision or a compaction policy wants to eyeball."""
        if not self._meta.manifest:
            raise ValueError(
                "describe_files() requires a manifest=True table")
        _, head = self._latest_head()
        files = self._files_of_head(head)
        stats = self._stats_of_head(head)
        cols = self._stats_columns()
        src = os.path.join(self.path, "parquet")
        rows = []
        for f in files:
            st = stats.get(f)
            try:
                size = os.path.getsize(os.path.join(src, f))
            except OSError:
                size = None
            rec = {"file": f, "size_bytes": size,
                   "rows": int(st[0]) if st else None}
            for c in cols:
                rec[f"{c}_min"] = (st[1].get(c) if st else None)
                rec[f"{c}_max"] = (st[2].get(c) if st else None)
            rows.append(rec)
        schema = T.StructType(
            [T.StructField("file", T.StringType()),
             T.StructField("size_bytes", T.LongType()),
             T.StructField("rows", T.LongType())]
            + [T.StructField(f"{c}_{side}",
                             self.schema.column(c).spark_type(
                                 self.schema.strict_u64))
               for c in cols for side in ("min", "max")])
        return self.spark.createDataFrame(rows, schema)

    def _checks_guard(self, df: DataFrame) -> DataFrame:
        """Wrap the first column so any row violating a CHECK raises
        DURING the write pass — zero extra scans, the threshold_bars
        raise-in-codegen pattern.  Used by the rewrite paths (MERGE,
        UPDATE) whose single pass over rewritten data should not be
        doubled by a count; ``write()`` prefers the pre-write count
        (better message, refuses before any file lands)."""
        checks = self._meta.checks or {}
        if not checks:
            return df
        guard = df.columns[0]
        c0 = F.col(guard)
        for name, sql in checks.items():
            viol = ~F.coalesce(F.expr(sql), F.lit(True))
            c0 = (F.when(viol, F.raise_error(F.concat(
                      F.lit(f"CHECK constraint {name!r} violated "
                            f"({sql}) by row entering the table"))))
                  .otherwise(c0))
        return df.withColumn(guard, c0)

    def drop_column(self, name: str) -> None:
        """METADATA-ONLY column drop: the sidecar schema shrinks; data
        files are untouched (their bytes for the column become dead and
        are reclaimed whenever ``compact()`` rewrites a partition).
        Reads project the column away via the explicit evolved schema;
        writes carrying it have it dropped by schema conformance; the
        name cannot be re-added without an offline rewrite (old files
        would resurface the stale values).  ``ts`` cannot be dropped.
        """
        if name == self.schema.ts_col or name == "dt":
            raise ValueError(f"cannot drop {name!r}")
        with self._meta_lock():
            meta_path = os.path.join(self.path, "_meta")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    self._meta = _Meta.from_json(f.read())
                self.schema = Schema.from_dict(self._meta.schema)
            if not any(c.name == name for c in self.schema.columns):
                raise KeyError(f"no such column {name!r}")
            self.schema.columns = [c for c in self.schema.columns
                                   if c.name != name]
            self._meta.schema = self.schema.to_dict()
            self._meta.added_defaults.pop(name, None)
            if name not in self._meta.dropped_columns:
                self._meta.dropped_columns.append(name)
            self._flush_meta()

    def scan(self, from_ts=None, to_ts=None,
             columns: list[str] | None = None) -> DataFrame:
        """Time-range scan with dual predicate rewrite + projection.

        ``[from_ts, to_ts]`` is inclusive like the reference's interval
        overlap test (/root/reference/src/table/scan.rs:67-74).  The single
        logical predicate lands on BOTH ``dt`` (directory pruning) and
        ``ts`` (row-group pruning).  Bounds accept the API-boundary time
        forms (`functions.scalar.to_nanos`): epoch-nanos ints, raw-nanos /
        RFC3339 / ``YYYY-MM-DD`` strings, datetimes, and dates.
        """
        from .functions.scalar import to_nanos

        ts = self.schema.ts_col
        fmt = self.schema.partition_by.date_format
        if from_ts is not None:
            from_ts = to_nanos(from_ts)
        if to_ts is not None:
            to_ts = to_nanos(to_ts)
        # TRIPLE predicate landing (r18): the manifest's per-file stats
        # prune the file LIST, dt prunes directories, ts prunes row
        # groups — the same logical range expressed at every metadata
        # granularity the storage offers.
        df = self._df_pruned((from_ts, to_ts))
        if from_ts is not None:
            df = df.where(F.col(ts) >= F.lit(from_ts))
            if fmt is not None:
                dt_lo = _dt_str_for(from_ts, fmt)
                df = df.where(F.col("dt") >= F.lit(dt_lo))
        if to_ts is not None:
            df = df.where(F.col(ts) <= F.lit(to_ts))
            if fmt is not None:
                dt_hi = _dt_str_for(to_ts, fmt)
                df = df.where(F.col("dt") <= F.lit(dt_hi))
        if columns is not None:
            # unknown columns raise, mirroring get_union's panic
            # (/root/reference/src/table/scan.rs:43-59)
            for c in columns:
                self.schema.column(c)
            df = df.select(*columns)
        else:
            df = df.select(*[c.name for c in self.schema.columns])
        return df

    def resample(self, from_ts: int | None = None, to_ts: int | None = None,
                 every: str | None = None, **kwargs) -> DataFrame:
        """Pruned scan + OHLCV resample, defaulting the bucket to the
        table's DECLARED ts resolution (SURVEY §1.3: resolution survives
        as a semantic fact — a table created ``with_resolution(60s)`` is
        "1-minute bars", so ``t.resample()`` re-emits 1-minute buckets
        without the caller restating the width).  An explicit ``every``
        overrides; kwargs pass through to :func:`zdb_spark.ohlcv.resample`
        (``price_col``, ``symbol_col``, ``volume_col``)."""
        from .ohlcv import resample as _resample

        return _resample(self.scan(from_ts, to_ts), every,
                         ts_col=self.schema.ts_col,
                         resolution_ns=self.schema.resolution, **kwargs)

    def compact(self, target_file_mb: int = 128,
                cluster_by: list[str] | None = None) -> int:
        """Rewrite each ``dt`` partition into size-targeted, ts-sorted
        files and return the partition count rewritten.

        Streaming ingest (micro-batches) and frequent small appends leave
        many small files per partition; at scale that means footer-read
        storms and tiny row groups with useless stats.  Compaction
        restores ~``target_file_mb`` files and re-establishes the sort
        (optionally with ``cluster_by`` secondary clustering).

        Directory-listing mode writes to a sibling dir then swaps, so a
        mid-rewrite failure leaves the original intact.  Manifest mode
        never swaps: compacted files land ALONGSIDE the old ones (unique
        part names), the manifest flips atomically to the new set, and
        the superseded files stay on disk — still serving concurrent
        readers of older snapshots — until ``vacuum()``.  That ordering
        is the object-store-safe pattern; a swap would yank files out
        from under a reader holding the previous manifest.
        """
        src = os.path.join(self.path, "parquet")
        if not os.path.exists(src):
            return 0
        # manifest mode compacts ONE committed snapshot, read ONCE: the
        # rewrite DataFrame is built from the same file list remembered
        # as base_files for the flip.  (Reading the manifest a second
        # time via self.df() would race: an append committed between the
        # two reads gets compacted into the rewrite AND preserved as a
        # survivor at the flip — duplicated rows.)
        # Evolved tables MUST compact through the explicit read schema +
        # materialized defaults: footer inference samples ONE file, and a
        # pre-evolution file would make the rewrite silently drop an
        # added column's data from every output file.  Reading through
        # _read_schema() also projects dropped columns away, so compact
        # really reclaims their bytes as drop_column() promises.
        evolved = bool(self._meta.added_defaults
                       or self._meta.dropped_columns)
        reader = self.spark.read
        if evolved:
            reader = reader.schema(self._read_schema())
        base_files: list[str] = []
        if self._meta.manifest:
            with self._meta_lock():
                _, base_files = self._latest_manifest()
            if base_files:
                df = (reader.option("basePath", src)
                      .parquet(*[os.path.join(src, f) for f in base_files]))
            else:
                df = self.spark.createDataFrame(
                    [], self.schema.spark_schema().add("dt", "string"))
            # size from the snapshot's files — a directory walk would
            # count superseded/orphan files and over-split the output
            total_bytes = sum(
                os.path.getsize(os.path.join(src, f)) for f in base_files
                if os.path.exists(os.path.join(src, f)))
        else:
            # read from an EXPLICIT file snapshot (not a directory scan
            # at job time): the swap below preserves any file appended
            # after this listing, so a concurrent write() is never lost
            base_files = [
                os.path.relpath(os.path.join(root, f), src)
                for root, _, files in os.walk(src) for f in files
                if not f.startswith(("_", "."))]
            if not base_files:
                return 0
            df = (reader.option("basePath", src)
                  .parquet(*[os.path.join(src, f) for f in base_files]))
            total_bytes = sum(
                os.path.getsize(os.path.join(src, f)) for f in base_files)
        if evolved:
            df = self._apply_added_defaults(df)
        ts = self.schema.ts_col
        n_files = max(1, total_bytes // (target_file_mb * 1024 * 1024))
        n_parts = df.select("dt").distinct().count()
        # Range-partition on the sort key so a hot dt can split across
        # tasks — repartition(n, "dt") hash-routes a whole day to one task
        # and silently ignores target_file_mb for skewed days.
        avg_bytes_per_row = total_bytes / max(df.count(), 1)
        cap = max(1, int(target_file_mb * 1024 * 1024 / max(avg_bytes_per_row, 1)))
        df, sort_cols, zkeyed = self._clustering(df, cluster_by, ts)
        clustered = (df.repartitionByRange(int(max(n_files, n_parts)),
                                           *sort_cols)
                     .sortWithinPartitions(*sort_cols))
        if zkeyed:
            clustered = clustered.drop("_zkey")
        writer = (clustered.write.mode("overwrite")
                  .option("maxRecordsPerFile", cap))
        if self._meta.compression:
            writer = writer.option("compression", self._meta.compression)

        if self._meta.manifest:
            import uuid

            staging = os.path.join(self.path, "_staging", uuid.uuid4().hex)
            writer.partitionBy("dt").parquet(staging)
            moved = self._land_staging(staging, src)
            # CAS flip, REPLACING only the snapshot we compacted: batches
            # committed while the rewrite job ran are in (latest − base)
            # and must survive — without this a concurrent append's files
            # silently vanish from the table (and the next vacuum deletes
            # them).  The CAS loop re-reads the latest doc on conflict,
            # so an append that wins a version mid-flip is preserved.
            self._flip_replacing(set(base_files), moved, src,
                                 "compact")
            return n_parts

        tmp = src + ".compacting"
        writer.partitionBy("dt").parquet(tmp)
        backup = src + ".old"
        # Swap under the sidecar lock (held for renames only — well under
        # the lock's staleness window), then carry over every file a
        # concurrent write() landed after the snapshot listing: without
        # this, a batch committed mid-rewrite would ride into backup and
        # be rmtree'd while the sidecar still counts its rows.
        snap = set(base_files)
        with self._meta_lock():
            os.rename(src, backup)
            os.rename(tmp, src)
            for root, _, files in os.walk(backup):
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    rel = os.path.relpath(os.path.join(root, f), backup)
                    if rel in snap:
                        continue
                    dest = os.path.join(src, rel)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.replace(os.path.join(backup, rel), dest)
        shutil.rmtree(backup)
        return n_parts

    # ------------------------------------------------------------------ #
    # metadata queries (/root/reference/src/table/meta.rs:39-67)         #
    # ------------------------------------------------------------------ #
    def get_first_ts(self) -> int | None:
        # stats live directly in the manifest HEAD — reading them must
        # not pay _latest_manifest_doc()'s O(file-count) list
        # materialization (these run once per append)
        if self._meta.manifest:
            return self._latest_head()[1]["min_ts"]
        return self._meta.min_ts

    def get_last_ts(self) -> int | None:
        if self._meta.manifest:
            return self._latest_head()[1]["max_ts"]
        return self._meta.max_ts

    @property
    def row_count(self) -> int:
        # manifest tables keep stats IN the manifest (single atomic
        # source of truth for the CAS protocol); the sidecar only holds
        # schema + mode flags there
        if self._meta.manifest:
            return self._latest_head()[1]["row_count"]
        return self._meta.row_count

    # ------------------------------------------------------------------ #
    # dictionary endpoint (§2.4, /root/reference/src/server/mod.rs:84-122)
    # ------------------------------------------------------------------ #
    def symbols(self, column: str) -> list[str]:
        """Distinct values of a symbol column, sorted.  The reference dumps
        its in-memory dictionary in INSERTION order
        (/root/reference/src/server/mod.rs:84-122); Parquet's dictionary is
        internal, so we compute distinct — at scale a column-pruned scan of
        dictionary-encoded pages, cheap relative to the data.  Deliberate
        divergence: sorted order is deterministic across partitions/rounds,
        insertion order isn't even defined under parallel ingest."""
        col = self.schema.column(column)
        if not col.is_symbol:
            raise ValueError(f"column {column!r} is not a symbol column")
        rows = (self.scan(columns=[column]).distinct()
                .orderBy(column).collect())
        return [r[0] for r in rows]

    def symbol_codes(self, column: str) -> dict[int, str | None]:
        """The reference's symbol-code CONTRACT, surfaced explicitly:
        codes are 1-BASED and code 0 means "absent" (a row written
        before the column existed / a null symbol) — the reference
        decodes ``code - 1`` into its dictionary and treats 0 as no
        value (/root/reference/src/table/read.rs:71-73).

        Storage here is native strings (Parquet dictionary pages do the
        encoding; see :meth:`symbols` for why), so codes are a DERIVED
        view: ``{0: None, 1: first_symbol, 2: ...}`` over the sorted
        distinct symbols.  Stable across calls as long as the symbol set
        doesn't change; callers exchanging compact codes (the use case
        the reference's u8/u16/u32 symbol widths serve) should pin one
        snapshot of this dict, exactly as they would pin the reference's
        dictionary file."""
        return {0: None, **{i: s for i, s in
                            enumerate(self.symbols(column), start=1)}}


_INT_BOUNDS: dict[ColumnType, tuple[int, int]] = {
    ColumnType.TIMESTAMP: (-2**63, 2**63 - 1),
    ColumnType.I8: (-128, 127), ColumnType.I16: (-2**15, 2**15 - 1),
    ColumnType.I32: (-2**31, 2**31 - 1), ColumnType.I64: (-2**63, 2**63 - 1),
    ColumnType.U8: (0, 255), ColumnType.U16: (0, 2**16 - 1),
    ColumnType.U32: (0, 2**32 - 1), ColumnType.U64: (0, 2**64 - 1),
}


def _validate_default(name: str, col_type: ColumnType, default) -> None:
    """Reject a type-mismatched ``add_column`` default AT EVOLUTION TIME.

    Without this, a string default on an I64 column would silently cast
    to NULL at every later read/write — a schema mistake that should
    fail loudly once, not corrupt quietly forever."""
    if default is None:
        return
    if col_type in (ColumnType.SYMBOL8, ColumnType.SYMBOL16,
                    ColumnType.SYMBOL32):
        if not isinstance(default, str):
            raise ValueError(
                f"default for {col_type.value} column {name!r} must be a "
                f"string, got {type(default).__name__}: {default!r}")
    elif col_type in (ColumnType.F32, ColumnType.F64):
        if isinstance(default, bool) or not isinstance(default, (int, float)):
            raise ValueError(
                f"default for {col_type.value} column {name!r} must be "
                f"numeric, got {type(default).__name__}: {default!r}")
    else:
        lo, hi = _INT_BOUNDS[col_type]
        if isinstance(default, bool) or not isinstance(default, int):
            raise ValueError(
                f"default for {col_type.value} column {name!r} must be an "
                f"integer, got {type(default).__name__}: {default!r}")
        if not lo <= default <= hi:
            raise ValueError(
                f"default {default} overflows {col_type.value} "
                f"column {name!r} (range [{lo}, {hi}])")


def _dt_str_for(ts_nanos: int, fmt: str) -> str:
    """Python-side mirror of get_partition_dir
    (/root/reference/src/table/write.rs:26-36) for predicate rewrite."""
    import datetime as _dt

    # Integer floor-division: float division loses ~240ns of precision at
    # 2024-era epochs, enough to misclassify a boundary ts into the wrong
    # partition string and silently exclude a partition from the scan.
    d = _dt.datetime.fromtimestamp(ts_nanos // 1_000_000_000, tz=_dt.timezone.utc)
    pyfmt = {"yyyy": "%Y", "yyyy-MM": "%Y-%m", "yyyy-MM-dd": "%Y-%m-%d"}[fmt]
    return d.strftime(pyfmt)
