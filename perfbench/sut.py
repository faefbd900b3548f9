"""The system under test: one process holding the SparkSession.

Started by ``run.py`` with a JSON config path.  It starts the session,
builds the seeded tick table through ``Table.create``/``Table.write``,
serves the zdb HTTP API from a background thread, and then obeys
one-line JSON commands on stdin:

- ``{"cmd": "build"}`` (once, first) says the inputs are written;
- ``{"cmd": "stream"}`` starts ``stream_writer_table`` from the landing
  directory into the table; ``{"cmd": "unstream"}`` stops it and replies
  with its progress reports;
- ``{"cmd": "dedup"}`` runs one ``near_dup_clusters`` job over the corpus
  and replies with its labels;
- ``{"cmd": "stop"}`` stops the server and replies (with the spans, when
  traced).

Replies are stdout lines prefixed with ``PERFBENCH``; Spark's own output
goes to stderr.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time

TAG = "PERFBENCH "


def emit(obj: dict) -> None:
    sys.stdout.write(TAG + json.dumps(obj) + "\n")
    sys.stdout.flush()


def tick_schema(name: str):
    from zdb_spark import ColumnType, PartitionBy, Schema

    return (Schema(name)
            .add_cols([("sym", ColumnType.SYMBOL16),
                       ("open", ColumnType.F32), ("high", ColumnType.F32),
                       ("low", ColumnType.F32), ("close", ColumnType.F32),
                       ("volume", ColumnType.U32)])
            .with_partition_by(PartitionBy.DAY))


def install_tracing(tracer) -> None:
    """Wrap the public calls of each zdb_spark layer in spans."""
    import zdb_spark.server as server_mod
    from zdb_spark.operators import dedup
    from zdb_spark.table import Table

    tracer.wrap_classmethod(Table, "open", "table.open")
    for attr in ("scan", "symbols", "write"):
        tracer.wrap_function(Table, attr, f"table.{attr}")
    tracer.wrap_function(server_mod, "ohlcv", "ohlcv")
    tracer.wrap_function(server_mod, "q", "query.q")

    # operators.dedup: near_dup_clusters = minhash_lsh_pairs (lazy; its
    # cached signature frame is forced inside a `signature` span) then
    # duplicate_clusters (its pair input is forced inside a `pairs`
    # span, the remainder is label propagation).
    def force_signature(pairs):
        handles = getattr(pairs, "_zdb_cache_handles", [])
        if handles:
            with tracer.span("operators.dedup.signature"):
                handles[0].count()

    tracer.wrap_function(dedup, "minhash_lsh_pairs",
                         "operators.dedup.lsh_pairs", after=force_signature)
    orig_clusters = dedup.duplicate_clusters

    def clusters(pairs, *args, **kwargs):
        with tracer.span("operators.dedup.clusters"):
            with tracer.span("operators.dedup.pairs"):
                pairs.persist()
                pairs.count()
            try:
                return orig_clusters(pairs, *args, **kwargs)
            finally:
                pairs.unpersist()

    dedup.duplicate_clusters = clusters


def trace_handler(tracer, handler_cls) -> None:
    """Open a `server` span around every request, keyed by the client's
    request id header."""
    for meth in ("do_GET", "do_POST"):
        orig = getattr(handler_cls, meth)

        def wrapped(self, _orig=orig):
            tracer.set_request(self.headers.get("X-Perfbench-Req"))
            try:
                with tracer.span("server"):
                    _orig(self)
            finally:
                tracer.set_request(None)

        setattr(handler_cls, meth, wrapped)


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    home = cfg["home"]

    t0 = time.time()
    from zdb_spark import get_spark
    from zdb_spark.operators import dedup
    from zdb_spark.server import make_server
    from zdb_spark.table import Table

    spark = get_spark("perfbench")
    session_s = time.time() - t0
    tracer = None
    if cfg["trace"]:
        from tracing import Tracer

        tracer = Tracer(spark)
        install_tracing(tracer)

    # set-up: once the harness has written the inputs, the seeded table,
    # then the server
    if json.loads(sys.stdin.readline())["cmd"] != "build":
        raise SystemExit("expected the build command")
    t = time.time()
    table = Table.create(spark, tick_schema(cfg["table"]), home)
    table.write(spark.read.parquet(cfg["ticks"]))
    build_s = time.time() - t
    srv = make_server(spark, home, port=0)
    if tracer is not None:
        trace_handler(tracer, srv.RequestHandlerClass)
        tracer.phase = "run"
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    emit({"event": "ready", "session_s": session_s, "build_s": build_s,
          "port": srv.server_address[1]})

    query = None
    jsc = spark.sparkContext._jsc
    for line in sys.stdin:
        cmd = json.loads(line)["cmd"]
        if cmd == "stream":
            query = start_stream(spark, cfg,
                                 Table.open(spark, cfg["table"], home))
            emit({"event": "streaming"})
        elif cmd == "unstream":
            progress = [json.loads(p.json) for p in query.recentProgress]
            query.stop()
            emit({"event": "unstreamed", "progress": progress})
        elif cmd == "dedup":
            before = jsc.getPersistentRDDs().size()
            with (tracer.span("operators.dedup") if tracer is not None
                  else contextlib.nullcontext()):
                rows = _dedup_job(spark, dedup, cfg["corpus"])
            emit({"event": "dedup", "labels": rows,
                  "persisted_after": jsc.getPersistentRDDs().size() - before})
        elif cmd == "stop":
            break
    srv.shutdown()
    srv.server_close()
    out = {"event": "stopped"}
    if tracer is not None:
        time.sleep(0.5)  # let the listener bus settle the last jobs
        tracer.collect_counters()
        out["spans"] = tracer.spans
        out["spark"] = tracer.whole_run_counters()
    emit(out)
    spark.stop()


def start_stream(spark, cfg: dict, table):
    """``stream_writer_table`` from the landing directory into the table,
    on a one-second processing-time trigger."""
    from pyspark.sql import types as T
    from zdb_spark.streaming.ingest import stream_writer_table

    src = T.StructType(
        [T.StructField("ts", T.LongType()),
         T.StructField("sym", T.StringType())]
        + [T.StructField(c, T.FloatType())
           for c in ("open", "high", "low", "close")]
        + [T.StructField("volume", T.LongType())])
    stream = spark.readStream.schema(src).parquet(cfg["landing"])
    return stream_writer_table(stream, table, cfg["checkpoint"],
                               trigger_seconds=1)


def _dedup_job(spark, dedup, corpus_path: str) -> list:
    """One batch job as a user writes it: read, cluster, collect, free."""
    df = spark.read.parquet(corpus_path)
    # driver_threshold=0: take the distributed label-propagation path a
    # large pair graph takes, not the driver union-find shortcut.
    out = dedup.near_dup_clusters(df, driver_threshold=0)
    rows = [[r["doc_id"], r["cluster_id"]] for r in out.collect()]
    dedup.release(out)
    return rows


if __name__ == "__main__":
    main(sys.argv[1])
    sys.exit(0)
