"""Z-order (Morton) clustered layout: key algebra against a pure-Python
reference, row preservation through the clustered write, and the data-
skipping property itself — per-file span balanced and SMALL across all
clustered dimensions, which is what lets parquet min/max stats prune
multi-dimensional predicates (operators/layout.py)."""

import pytest

from pyspark.sql import functions as F


def _py_morton(vals, bits):
    key = 0
    m = len(vals)
    for c, v in enumerate(vals):
        for j in range(bits):
            key |= ((v >> j) & 1) << (j * m + c)
    return key


class TestZorderKey:
    def test_matches_python_reference(self, spark):
        from zdb_spark.operators.layout import zorder_key

        rows = [(i, (i * 7) % 64, (i * 13) % 64) for i in range(64)]
        df = spark.createDataFrame(rows, "i long, x long, y long")
        got = {r.i: r.k for r in df.select(
            "i", zorder_key([F.col("x"), F.col("y")], bits=6)
            .alias("k")).collect()}
        for i, x, y in rows:
            assert got[i] == _py_morton([x, y], 6)

    def test_interleaving_is_locality_preserving(self, spark):
        # adjacent cells differ in few key bits: the key of (x, y) and
        # (x+1, y) must differ by less than the key range / 4 on average
        from zdb_spark.operators.layout import zorder_key

        df = spark.createDataFrame([(x, y) for x in range(16)
                                    for y in range(16)],
                                   "x long, y long")
        k = df.select("x", "y",
                      zorder_key([F.col("x"), F.col("y")], bits=4)
                      .alias("k")).collect()
        keys = {(r.x, r.y): r.k for r in k}
        assert len(set(keys.values())) == 256      # bijective on grid
        assert max(keys.values()) == 255           # compact range

    def test_validation(self, spark):
        from zdb_spark.operators.layout import zorder_key

        with pytest.raises(ValueError):
            zorder_key([], bits=8)
        with pytest.raises(ValueError):
            zorder_key([F.col("a"), F.col("b")], bits=32)  # 64 > 62


class TestScaleToGrid:
    def test_clamps_and_handles_nulls(self, spark):
        from zdb_spark.operators.layout import scale_to_grid

        df = spark.createDataFrame(
            [(0.0,), (5.0,), (10.0,), (-3.0,), (99.0,), (None,)],
            "v double")
        got = [r.c for r in df.select(
            scale_to_grid(F.col("v"), 0.0, 10.0, 4).alias("c")).collect()]
        assert got == [0, 8, 15, 0, 15, 0]

    def test_degenerate_range_collapses(self, spark):
        from zdb_spark.operators.layout import scale_to_grid

        df = spark.createDataFrame([(7.0,), (7.0,)], "v double")
        got = [r.c for r in df.select(
            scale_to_grid(F.col("v"), 7.0, 7.0, 8).alias("c")).collect()]
        assert got == [0, 0]


class TestWriteZordered:
    @pytest.fixture()
    def events(self, spark, sf_dir):
        import os

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if ev.schema["ts"].dataType.typeName() in ("timestamp",
                                                   "timestamp_ntz"):
            ev = ev.withColumn(
                "ts", F.unix_micros(F.col("ts").cast("timestamp"))
                * F.lit(1000))
        return ev

    def test_rows_preserved_and_bounds_returned(self, spark, events,
                                                tmp_path):
        from zdb_spark.operators.layout import write_zordered

        p = str(tmp_path / "z")
        bounds = write_zordered(events, p, ["ts", "value"], bits=10,
                                n_files=8)
        assert set(bounds) == {"ts", "value"}
        back = spark.read.parquet(p)
        assert back.count() == events.count()
        assert back.exceptAll(events).count() == 0
        assert events.exceptAll(back).count() == 0

    def test_spans_balanced_vs_single_dim_sort(self, spark, events,
                                               tmp_path):
        from zdb_spark.operators.layout import (file_span_stats,
                                                write_zordered)

        z = str(tmp_path / "z")
        write_zordered(events, z, ["ts", "value"], bits=12, n_files=16)
        zs = file_span_stats(spark, z, ["ts", "value"]).collect()
        z_ts = sum(r["span_ts"] for r in zs) / len(zs)
        z_val = sum(r["span_value"] for r in zs) / len(zs)

        t = str(tmp_path / "t")
        (events.repartitionByRange(16, "ts").sortWithinPartitions("ts")
         .write.mode("overwrite").parquet(t))
        ts_rows = file_span_stats(spark, t, ["ts", "value"]).collect()
        t_val = sum(r["span_value"] for r in ts_rows) / len(ts_rows)

        # z-order: BOTH dims small (ideal sqrt(1/16) = 0.25); a pure ts
        # sort leaves the value dimension unclustered (span ~ 1)
        assert z_ts < 0.45 and z_val < 0.45, (z_ts, z_val)
        assert t_val > 0.6, t_val
        assert z_val < t_val / 2

    def test_caller_supplied_bounds_are_used(self, spark, events,
                                             tmp_path):
        from zdb_spark.operators.layout import write_zordered

        p = str(tmp_path / "z")
        fixed = {"ts": (0.0, 2e18), "value": (0.0, 1000.0)}
        out = write_zordered(events, p, ["ts", "value"], bits=8,
                             n_files=4, bounds=fixed)
        assert out == fixed
        assert spark.read.parquet(p).count() == events.count()


class TestFooterPruning:
    def test_parquet_footers_prune_value_band_queries(self, spark,
                                                      sf_dir, tmp_path):
        """The engine-facing proof: parquet FOOTER statistics (what any
        reader's row-group skipping consults) admit far fewer files for
        a value-band predicate under Z-order than under a time-only
        sort.  Uses pyarrow metadata directly — no Spark machinery in
        the measurement."""
        import os

        import pyarrow.parquet as pq

        from zdb_spark.operators.layout import write_zordered

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if ev.schema["ts"].dataType.typeName() in ("timestamp",
                                                   "timestamp_ntz"):
            ev = ev.withColumn(
                "ts", F.unix_micros(F.col("ts").cast("timestamp"))
                * F.lit(1000))
        z = str(tmp_path / "z")
        write_zordered(ev, z, ["ts", "value"], bits=12, n_files=16)
        t = str(tmp_path / "t")
        (ev.repartitionByRange(16, "ts").sortWithinPartitions("ts")
         .write.mode("overwrite").parquet(t))

        lo, hi = ev.agg(F.min("value"), F.max("value")).first()
        band = (lo + 0.4 * (hi - lo), lo + 0.6 * (hi - lo))  # mid 20%

        def files_admitted(path):
            total = admitted = 0
            for f in os.listdir(path):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(path, f)).metadata
                vmin, vmax = None, None
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        col = md.row_group(rg).column(ci)
                        if col.path_in_schema == "value" and \
                                col.statistics is not None:
                            s = col.statistics
                            vmin = s.min if vmin is None \
                                else min(vmin, s.min)
                            vmax = s.max if vmax is None \
                                else max(vmax, s.max)
                total += 1
                if vmin is None or not (vmax < band[0]
                                        or vmin > band[1]):
                    admitted += 1
            return admitted, total

        z_adm, z_tot = files_admitted(z)
        t_adm, t_tot = files_admitted(t)
        assert z_tot == 16 and t_tot == 16
        # time-only layout: every file spans ~the full value range, so
        # footer stats admit ~all of them; z-order admits only files
        # whose rectangle crosses the band
        assert t_adm >= 14, t_adm
        assert z_adm <= z_tot // 2, (z_adm, z_tot)


def test_all_null_cluster_column_degenerates_safely(spark, tmp_path):
    # a cluster column that is entirely NULL yields no bounds: every
    # row lands in grid cell 0 and the write still round-trips
    from zdb_spark.operators.layout import write_zordered

    df = spark.createDataFrame(
        [(i, None) for i in range(20)], "a long, b double")
    p = str(tmp_path / "z")
    bounds = write_zordered(df, p, ["a", "b"], bits=6, n_files=2)
    assert bounds["b"] == (None, None)
    assert spark.read.parquet(p).count() == 20


class TestTableZorder:
    """Z-order pinned INSIDE Table (round-13 verdict task 6): create
    persists {cols, bits, bounds} in the sidecar, every write() and
    compact() clusters files along the same curve, and parquet FOOTER
    stats admit <= 8/16 files for a value-band scan of the table."""

    NS = 1_000_000_000
    T0 = 1704067200 * NS  # 2024-01-01T00:00:00Z

    def _schema(self, name):
        from zdb_spark.schema import ColumnType, PartitionBy, Schema

        return (Schema(name)
                .add_col("x", ColumnType.F64)
                .add_col("y", ColumnType.F64)
                .with_partition_by(PartitionBy.DAY))

    def _rows(self, spark, n, t0):
        # deterministic uniform-ish scatter over [0, 1000)^2, ts ordered
        return spark.range(n).selectExpr(
            f"id * 1000 + {t0} as ts",
            "cast((id * 997) % 1000 as double) as x",
            "cast((id * 613) % 1000 as double) as y")

    def test_create_validation(self, spark, tmp_home):
        import pytest as _pytest

        from zdb_spark.table import Table

        b = {"x": (0.0, 1000.0), "y": (0.0, 1000.0)}
        with _pytest.raises(ValueError, match="time column"):
            Table.create(spark, self._schema("zv1"), home=tmp_home,
                         zorder_by=["ts", "x"],
                         zorder_bounds={**b, "ts": (0.0, 1.0)})
        with _pytest.raises(ValueError, match="not in schema"):
            Table.create(spark, self._schema("zv2"), home=tmp_home,
                         zorder_by=["nope"], zorder_bounds=b)
        with _pytest.raises(ValueError, match="bounds"):
            Table.create(spark, self._schema("zv3"), home=tmp_home,
                         zorder_by=["x", "y"],
                         zorder_bounds={"x": (0.0, 1000.0)})
        with _pytest.raises(ValueError, match="exceeds a long"):
            Table.create(spark, self._schema("zv4"), home=tmp_home,
                         zorder_by=["x", "y"], zorder_bits=32,
                         zorder_bounds=b)
        t = Table.create(spark, self._schema("zv5"), home=tmp_home,
                         zorder_by=["x", "y"], zorder_bounds=b)
        with _pytest.raises(ValueError, match="cluster_by"):
            t.write(self._rows(spark, 10, self.T0),
                    cluster_by=["x"])

    def test_footer_pruning_and_epoch_interleave(self, spark, tmp_home):
        import os

        import pyarrow.parquet as pq

        from zdb_spark.operators.layout import file_span_stats
        from zdb_spark.table import Table

        bounds = {"x": (0.0, 1000.0), "y": (0.0, 1000.0)}
        tz = Table.create(spark, self._schema("zt"), home=tmp_home,
                          zorder_by=["x", "y"], zorder_bounds=bounds)
        tc = Table.create(spark, self._schema("ct"), home=tmp_home)

        n, per_file = 32768, 2048                # -> 16 files per epoch
        df = self._rows(spark, n, self.T0)
        tz.write(df, max_records_per_file=per_file)
        tc.write(df, max_records_per_file=per_file)
        # sidecar round-trip: a fresh handle keeps the curve
        tz = Table.open(spark, "zt", home=tmp_home)
        assert tz._meta.zorder["bounds"]["x"] == [0.0, 1000.0]

        # a 15% x band NOT crossing the curve's top-level quadrant
        # boundary (x=500): the boundary-crossing case is the Morton
        # curve's documented worst case — one segment jumps quadrants —
        # and admits ~11/16 here; typical bands admit 5-8
        band = (50.0, 200.0)

        def files_admitted(root):
            total = admitted = 0
            for dirpath, _, files in os.walk(root):
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(
                        os.path.join(dirpath, f)).metadata
                    vmin = vmax = None
                    for rg in range(md.num_row_groups):
                        for ci in range(md.num_columns):
                            col = md.row_group(rg).column(ci)
                            if col.path_in_schema == "x" and \
                                    col.statistics is not None:
                                s = col.statistics
                                vmin = s.min if vmin is None \
                                    else min(vmin, s.min)
                                vmax = s.max if vmax is None \
                                    else max(vmax, s.max)
                    total += 1
                    if vmin is None or not (vmax < band[0]
                                            or vmin > band[1]):
                        admitted += 1
            return admitted, total

        z_adm, z_tot = files_admitted(os.path.join(tz.path, "parquet"))
        c_adm, c_tot = files_admitted(os.path.join(tc.path, "parquet"))
        assert z_tot == 16 and c_tot == 16, (z_tot, c_tot)
        assert z_adm <= 8, z_adm                 # the task-6 "done" pin
        assert c_adm >= 14, c_adm                # ts-only: no x skipping

        # scan correctness is untouched by layout
        got = tz.scan().where(
            (F.col("x") >= band[0]) & (F.col("x") <= band[1])).count()
        want = tc.scan().where(
            (F.col("x") >= band[0]) & (F.col("x") <= band[1])).count()
        assert got == want > 0

        # SECOND epoch: fixed sidecar bounds keep the new files on the
        # SAME curve — per-file x-span stays small across ALL files
        tz.write(self._rows(spark, n, self.T0 + n * 1000 + self.NS),
                 max_records_per_file=per_file)
        spans = file_span_stats(
            spark, os.path.join(tz.path, "parquet"), ["x", "y"]).collect()
        assert len(spans) == 32
        mean_x = sum(r["span_x"] for r in spans) / len(spans)
        mean_y = sum(r["span_y"] for r in spans) / len(spans)
        assert mean_x < 0.45 and mean_y < 0.45, (mean_x, mean_y)

        # compaction re-clusters on the same curve (files merge into
        # bigger rectangles, admission stays partial)
        tz.compact(target_file_mb=1)
        tz.vacuum(grace_seconds=0)  # superseded files stay until vacuum
        z_adm2, z_tot2 = files_admitted(os.path.join(tz.path, "parquet"))
        assert z_adm2 <= max(1, z_tot2 // 2), (z_adm2, z_tot2)


def test_zorder_refuses_symbol_columns(spark, tmp_home):
    """Round-14 review fix: a string/symbol zorder column would cast
    to NULL in the grid and silently collapse clustering to cell 0 —
    refused loudly at create, like the TIMESTAMP rule."""
    import pytest as _pytest

    from zdb_spark.schema import ColumnType, PartitionBy, Schema
    from zdb_spark.table import Table

    sch = (Schema("zsym").add_col("sym", ColumnType.SYMBOL16)
           .add_col("x", ColumnType.F64)
           .with_partition_by(PartitionBy.DAY))
    with _pytest.raises(ValueError, match="symbol/string"):
        Table.create(spark, sch, home=tmp_home, zorder_by=["sym", "x"],
                     zorder_bounds={"sym": (0.0, 1.0),
                                    "x": (0.0, 1.0)})
