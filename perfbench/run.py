"""perfbench: the zdb-spark benchmark.

    python3 perfbench/run.py --workload chart --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``chart`` (2 closed-loop UI clients on
/ohlcv and /symbols), ``quant`` (1 closed-loop client posting /q scan
functions), ``ingest`` (an open-loop file lander feeding
``stream_writer_table`` while a client reads the newest days through
/ohlcv) and ``dedup`` (back-to-back ``near_dup_clusters`` batch jobs).

The system under test runs in its own process (``sut.py``); this process
generates the seeded inputs, drives the load, checks every answer against
the numpy oracles in ``gen.py`` and prints a report.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from datetime import datetime

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# workload -> its phases, run in order in one session on one seeded table
WORKLOADS = {"serve": ("chart", "quant"), "pipeline": ("ingest", "dedup")}
# the operation each workload reports as the gated compute_p50_ms: the
# two whose run-to-run spread stays inside the gate's bound (README.md)
E2E_OPS = {"serve": "q", "pipeline": "dedup_job"}
# the seeded tick table: (day partitions, ticks) per workload.  The
# ingest table starts small so that the files its stream adds are a
# large share of what reads must discover.
DAYS = 100
HISTORY = {"serve": (DAYS, 100_000), "pipeline": (10, 20_000)}
CHART_CLIENTS = 2
# untimed closed-loop warm-up before the timed part of a phase: the first
# requests after the cold build run while the JVM still compiles the path
CHART_WARM_S = 3
QUANT_WARM_S = 2
INGEST_READERS = 1      # chart clients beside the ingest stream
# ingest lander: one file per LAND_EVERY_S of ROWS_PER_FILE ticks, i.e.
# 1 file/s and 16 000 rows/s: a quarter of the highest row rate (~64 000/s
# at 1 file/s) and at most an eighth of the highest file rate (8/s held,
# 16/s at the edge) a 4-vCPU host sustained, measured with capacity.py
# (see README.md).  The first INGEST_WARM_S of the phase is untimed.
LAND_EVERY_S = 1.0
ROWS_PER_FILE = 16000
INGEST_WARM_S = 6
DEDUP_DOCS = 2000
DEDUP_CLUSTERS = 200
TABLE = "ticks"

# gated end-to-end metrics: (name, unit).  The report prints every
# end-to-end metric under its own name; these are what BENCHMARK.json gates.
E2E = (("setup_s", "s"), ("compute_p50_ms", "ms"))

PER_LAYER = (
    ("session.start_s", "s"), ("table.build_s", "s"),
    ("table.open_ms", "ms"), ("table.scan_ms", "ms"),
    ("table.scan_spark_jobs", "count"), ("table.scan_tasks", "count"),
    ("table.files", "count"), ("table.files_read_per_request", "count"),
    ("table.symbols_ms", "ms"),
    ("ohlcv.call_ms", "ms"), ("ohlcv.spark_jobs", "count"),
    ("ohlcv.tasks", "count"), ("ohlcv.driver_gap_ms", "ms"),
    ("ohlcv.executor_cpu_ms", "ms"), ("ohlcv.shuffle_bytes", "B"),
    ("server.self_ms", "ms"), ("server.response_bytes", "B"),
    ("query.q_ms", "ms"), ("query.spark_jobs", "count"),
    ("query.executor_run_ms", "ms"), ("query.executor_cpu_ms", "ms"),
    ("query.driver_gap_ms", "ms"), ("query.partials", "count"),
    ("query.input_rows", "count"),
    ("streaming.batch_ms", "ms"), ("streaming.latestOffset_ms", "ms"),
    ("streaming.getBatch_ms", "ms"), ("streaming.queryPlanning_ms", "ms"),
    ("streaming.addBatch_ms", "ms"), ("streaming.walCommit_ms", "ms"),
    ("streaming.commitOffsets_ms", "ms"),
    ("streaming.rows_per_batch", "count"),
    ("streaming.backlog_files", "count"),
    ("table.write_s", "s"), ("table.write_spark_jobs", "count"),
    ("operators.dedup.signature_ms", "ms"),
    ("operators.dedup.pairs_ms", "ms"),
    ("operators.dedup.clusters_ms", "ms"),
    ("operators.dedup.spark_jobs", "count"),
    ("operators.dedup.stages", "count"),
    ("operators.dedup.shuffle_bytes", "B"),
    ("operators.dedup.executor_run_ms", "ms"),
    ("operators.dedup.executor_cpu_ms", "ms"),
    ("operators.dedup.python_eval_nodes", "count"),
    ("operators.dedup.persisted_after", "count"),
    ("spark.gc_ms", "ms"), ("spark.spill_bytes", "B"),
    ("trace.compute_p50_ms", "ms"), ("trace.server_share", "ratio"),
    ("trace.inner_share", "ratio"),
)


# --------------------------------------------------------------------- #
# statistics                                                             #
# --------------------------------------------------------------------- #
def pct(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), p))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, and never below the median."""
    if not values:
        return 0.0, 50.0
    p = max(50.0, 100.0 * (1 - 10 / len(values)))
    return pct(values, p), p


# --------------------------------------------------------------------- #
# the system-under-test process                                          #
# --------------------------------------------------------------------- #
class Sut:
    """The SUT process: launch, wait for ready, send commands, stop."""

    def __init__(self, work: str, cfg: dict) -> None:
        self.work = work
        cfg_path = os.path.join(work, "sut.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ,
                   PYTHONPATH=os.pathsep.join(
                       [ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(
                           os.pathsep),
                   ZDB_SPARK_HOME=cfg["home"],
                   SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                   TMPDIR=tmp,
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}")
        self.err_path = os.path.join(work, "sut.err")
        self._err = open(self.err_path, "w")
        self.launched = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), cfg_path],
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._err, text=True)
        self.rss = RssSampler(self.proc.pid)

    def read(self, timeout: float = 170.0) -> dict:
        """Next PERFBENCH line from the SUT (other stdout is skipped)."""
        result: list = []

        def reader():
            for line in self.proc.stdout:
                if line.startswith("PERFBENCH "):
                    result.append(json.loads(line[len("PERFBENCH "):]))
                    return

        th = threading.Thread(target=reader, daemon=True)
        th.start()
        th.join(timeout)
        if not result:
            raise RuntimeError(
                "system under test stopped answering; stderr tail:\n"
                + self.stderr_tail())
        return result[0]

    def send(self, cmd: dict) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def stderr_tail(self, n: int = 30) -> str:
        self._err.flush()
        with open(self.err_path, errors="replace") as f:
            lines = [ln for ln in f.read().replace("\r", "\n").splitlines()
                     if ln.strip() and "Stage " not in ln]
        return "\n".join(lines[-n:])

    def stop(self) -> dict:
        """Ask for the final report; ``close`` then ends the processes."""
        self.send({"cmd": "stop"})
        return self.read(timeout=170.0)

    def close(self) -> None:
        """End the SUT and its JVM and wait until every process is gone."""
        self.rss.stop()
        pids = process_tree(self.proc.pid)
        kill_tree(self.proc.pid)
        self.proc.wait(timeout=30)
        deadline = time.time() + 30
        while time.time() < deadline and any(alive(p) for p in pids):
            time.sleep(0.05)
        for stream in (self.proc.stdin, self.proc.stdout):
            try:
                stream.close()
            except OSError:
                pass
        self._err.close()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def kill_tree(pid: int) -> None:
    for p in reversed(process_tree(pid)):
        try:
            os.kill(p, 9)
        except OSError:
            pass


class RssSampler:
    """Peak summed resident set of a process tree, sampled every 0.2 s."""

    def __init__(self, pid: int) -> None:
        self.pid, self.peak_kb = pid, 0
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._run, daemon=True)
        self._th.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            total = 0
            for p in process_tree(self.pid):
                try:
                    with open(f"/proc/{p}/status") as f:
                        for line in f:
                            if line.startswith("VmRSS:"):
                                total += int(line.split()[1])
                                break
                except OSError:
                    pass
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(0.2)

    def stop(self) -> None:
        self._stop.set()
        self._th.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------- #
# HTTP clients                                                           #
# --------------------------------------------------------------------- #
class Client:
    """Sends requests to the SUT and keeps every response for checking."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._n = 0

    def request(self, spec: dict, timed: bool = True) -> dict:
        with self._lock:
            self._n += 1
            rid = f"r{self._n}"
        body = spec.get("body")
        rec = {"spec": spec, "rid": rid, "timed": timed, "status": None,
               "body": b""}
        t0 = time.perf_counter()
        rec["start"] = time.time()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                              timeout=120)
            try:
                conn.request(spec.get("method", "GET"), spec["path"],
                             body=json.dumps(body) if body else None,
                             headers={"X-Perfbench-Req": rid})
                resp = conn.getresponse()
                rec["body"] = resp.read()
                rec["status"] = resp.status
            finally:
                conn.close()
        except OSError as e:
            rec["error"] = repr(e)
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        with self._lock:
            self.records.append(rec)
        return rec


def closed_loop(client: Client, next_spec, timed_from: float,
                deadline: float) -> None:
    """Requests back to back until ``deadline``, and on until one has
    started at or after ``timed_from``, so a phase is never empty."""
    timed = False
    while not timed or time.time() < deadline:
        timed = client.request(next_spec())["start"] >= timed_from or timed


def run_threads(targets) -> None:
    threads = [threading.Thread(target=t, daemon=True) for t in targets]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


class ChartTraffic:
    """One UI client's requests, in an assumed mix (no trace of real UI
    traffic exists to derive it from): 1 request in 10 is /symbols; of
    the /ohlcv requests, 2 in 9 span 2-10 days at ``every=5m`` and the
    rest one day.  1-5 symbols each, and the days skew to the newest
    (geometric, p=0.35)."""

    def __init__(self, seed: int, client: int, newest_day) -> None:
        self.rng = np.random.default_rng([seed, 10, client])
        self.newest_day = newest_day
        self.i = 0

    def __call__(self) -> dict:
        i, rng = self.i, self.rng
        self.i += 1
        if i % 10 == 5:
            return {"kind": "symbols", "path": f"/symbols/{TABLE}/sym"}
        k = int(rng.integers(1, 6))
        syms = sorted(str(s) for s in rng.choice(gen.SYMBOLS, k,
                                                 replace=False))
        end_day = self.newest_day() - (int(rng.geometric(0.35)) - 1)
        end_day = max(end_day, 0)
        if i % 10 in (3, 7):
            start_day = max(0, end_day - int(rng.integers(1, 10)))
            every = 300 * 10**9
        else:
            start_day, every = end_day, None
        lo = gen.BASE_NS + start_day * gen.DAY_NS
        hi = gen.BASE_NS + (end_day + 1) * gen.DAY_NS - 1
        path = f"/ohlcv/{TABLE}/{lo}/{hi}?symbols={','.join(syms)}"
        if every:
            path += "&every=5m"
        return {"kind": "ohlcv", "path": path, "lo": lo, "hi": hi,
                "symbols": syms, "every": every}


class QuantTraffic:
    """One quant's /q bodies, in an assumed mix: every 4th is an ordered
    fold over 1-3 recent days; the others cycle through the parallel
    folds over 14 days to the whole table."""

    PARALLEL = ("notional", "max_high", "count", "volume")

    def __init__(self, seed: int, client: int) -> None:
        self.rng = np.random.default_rng([seed, 11, client])
        self.i = 0

    def __call__(self) -> dict:
        i, rng = self.i, self.rng
        self.i += 1
        if i % 4 == 3:
            name = "running"
            end_day = DAYS - int(rng.geometric(0.35))
            start_day = max(0, end_day - int(rng.integers(0, 3)))
        else:
            name = self.PARALLEL[(i - i // 4) % len(self.PARALLEL)]
            k = int(rng.integers(14, DAYS + 1))
            start_day = int(rng.integers(0, DAYS - k + 1))
            end_day = start_day + k - 1
        lo = gen.BASE_NS + start_day * gen.DAY_NS
        hi = gen.BASE_NS + (end_day + 1) * gen.DAY_NS - 1
        src, ordered = gen.Q_BODIES[name]
        return {"kind": "q_ordered" if ordered else "q", "method": "POST",
                "path": "/q", "name": name, "lo": lo, "hi": hi,
                "body": {"table": TABLE, "query": src, "from": lo, "to": hi,
                         "ordered": ordered}}


def check_response(rec: dict, ticks: gen.Ticks) -> bool:
    """True when the response equals the oracle's answer."""
    if rec["status"] != 200:
        return False
    spec = rec["spec"]
    got = json.loads(rec["body"])
    if spec["kind"] == "symbols":
        return got == gen.symbols_expected(ticks)
    if spec["kind"] == "ohlcv":
        return got == gen.ohlcv_expected(ticks, spec["lo"], spec["hi"],
                                         spec["symbols"], spec["every"])
    want = gen.q_expected(ticks, spec["name"], spec["lo"], spec["hi"])
    return gen.close_enough(gen.q_result(spec["name"], got["result"]), want)


# --------------------------------------------------------------------- #
# workloads                                                              #
# --------------------------------------------------------------------- #
class Run:
    """One benchmark run: inputs, SUT, the workload's phases in order,
    checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.home = os.path.join(work, "home")
        self.attempted = self.failed = 0
        self.report: list[tuple[str, float, str, str]] = []
        self.ops: dict[str, list[float]] = {}   # operation -> latencies, ms
        self.checks: list = []                  # run once the SUT is gone
        self.progress: list[dict] = []          # streaming progress
        self.jobs: list[dict] = []              # dedup job replies
        self.layer: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    def note(self, name: str, value: float, unit: str,
             extra: str = "") -> None:
        self.report.append((name, value, unit, extra))

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def latency(self, name: str, values: list[float]) -> None:
        self.ops[name] = values
        t, p = tail(values)
        self.note(f"{name}_p50_ms", median(values), "ms", f"n={len(values)}")
        self.note(f"{name}_tail_ms", t, "ms", f"p{p:.1f}, n={len(values)}")

    # -- the run ------------------------------------------------------ #
    def execute(self) -> None:
        import pyarrow.parquet as pq

        phases = WORKLOADS[self.workload]
        cfg = {"trace": self.trace, "home": self.home, "table": TABLE,
               "ticks": os.path.join(self.work, "ticks.parquet"),
               "landing": os.path.join(self.work, "landing"),
               "checkpoint": os.path.join(self.work, "checkpoint"),
               "corpus": os.path.join(self.work, "corpus.parquet")}
        sut = Sut(self.work, cfg)
        try:
            # the inputs are generated while the session starts
            self.days, rows = HISTORY[self.workload]
            self.hist = gen.history(self.seed, self.days, rows)
            pq.write_table(self.hist.to_arrow(), cfg["ticks"])
            if "ingest" in phases:
                self.stage_lander_files(cfg["landing"])
            if "dedup" in phases:
                import pyarrow as pa

                ids, texts, self.planted = gen.corpus(
                    self.seed, DEDUP_DOCS, DEDUP_CLUSTERS)
                self.n_docs = len(ids)
                pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                               cfg["corpus"])
            sut.send({"cmd": "build"})
            ready = sut.read()
            if ready.get("event") != "ready":
                raise RuntimeError(f"unexpected SUT reply {ready}")
            client = Client(ready["port"])
            self.setup(sut, ready, client)
            for phase in phases:
                getattr(self, f"phase_{phase}")(sut, client)
            stopped = sut.stop()
        finally:
            sut.close()
        self.note("peak_rss_mb", sut.rss.peak_mb, "MB",
                  "system-under-test process tree")
        for check in self.checks:
            check()
        self.stored()
        if self.trace:
            self.layers_from_spans(stopped, client.records)

    def setup(self, sut: Sut, ready: dict, client: Client) -> None:
        """setup_s: launch of the SUT to the first served request, as a
        user waits for it: session start and one seeded build."""
        rec = client.request({"kind": "hello", "path": "/"}, timed=False)
        self.count(rec["status"] == 200)
        self.setup_s = time.time() - sut.launched
        self.layer["session.start_s"] = ready["session_s"]
        self.layer["table.build_s"] = ready["build_s"]
        self.note("setup_s", self.setup_s, "s",
                  f"session {ready['session_s']:.3f} s, build "
                  f"{ready['build_s']:.3f} s")
        self.note("build_ms", ready["build_s"] * 1e3, "ms",
                  "seeded Table.create + Table.write")

    def drive(self, client: Client, phase: str, streams: list,
              seconds: float, extra=(), warm: float = 0.0
              ) -> tuple[list[dict], float]:
        """Every client in a closed loop (plus the ``extra`` threads) for
        ``warm`` + ``seconds``; requests started in the first ``warm``
        seconds are untimed.  Returns the phase's records and its timed
        wall time."""
        def tagged(m):
            return lambda: dict(m(), phase=phase)

        streams = [tagged(m) for m in streams]
        t0 = time.time()
        self.timed_from = t0 + warm
        run_threads([lambda m=m: closed_loop(client, m, self.timed_from,
                                             self.timed_from + seconds)
                     for m in streams] + list(extra))
        elapsed = time.time() - self.timed_from
        mine = [r for r in client.records if r["spec"].get("phase") == phase]
        for r in mine:
            r["timed"] = r["timed"] and r["start"] >= self.timed_from
        return mine, elapsed

    # -- phases ------------------------------------------------------- #
    def phase_chart(self, sut: Sut, client: Client) -> None:
        streams = [ChartTraffic(self.seed, c, lambda: DAYS - 1)
                   for c in range(CHART_CLIENTS)]
        recs, elapsed = self.drive(client, "chart", streams, self.seconds,
                                   warm=CHART_WARM_S)
        self.checks.append(lambda: [self.count(check_response(r, self.hist))
                                    for r in recs])
        self.chart_metrics("ohlcv", recs, elapsed, CHART_CLIENTS)

    def chart_metrics(self, name: str, recs: list[dict], elapsed: float,
                      clients: int) -> None:
        ok = [r for r in recs if r["timed"] and r["status"] == 200]
        self.latency(name, [r["ms"] for r in ok
                            if r["spec"]["kind"] == "ohlcv"])
        sy = [r["ms"] for r in ok if r["spec"]["kind"] == "symbols"]
        self.note("symbols_p50_ms", median(sy), "ms", f"n={len(sy)}")
        self.note("chart_rps", len(ok) / elapsed, "1/s",
                  f"{len(ok)} requests in {elapsed:.2f} s, "
                  f"{clients} clients")

    def phase_quant(self, sut: Sut, client: Client) -> None:
        recs, _ = self.drive(client, "quant", [QuantTraffic(self.seed, 0)],
                             self.seconds, warm=QUANT_WARM_S)
        self.checks.append(lambda: [self.count(check_response(r, self.hist))
                                    for r in recs])
        ok = [r for r in recs if r["timed"] and r["status"] == 200]
        self.latency("q", [r["ms"] for r in ok])
        od = [r["ms"] for r in ok if r["spec"]["kind"] == "q_ordered"]
        self.note("q_ordered_p50_ms", median(od), "ms", f"n={len(od)}")
        rows = sum(len(gen.select(self.hist, r["spec"]["lo"],
                                  r["spec"]["hi"])) for r in ok)
        self.note("q_rows_s", rows / max(sum(r["ms"] for r in ok) / 1e3,
                                         1e-9), "rows/s",
                  f"{rows} rows folded")

    def stage_lander_files(self, landing: str) -> None:
        """Write the lander's files (the warm-up's, then one per
        LAND_EVERY_S of the phase) outside the landing directory."""
        import pyarrow.parquet as pq

        self.n_warm = int(INGEST_WARM_S / LAND_EVERY_S)
        n_files = self.n_warm + int(
            self.seconds / LAND_EVERY_S) + 1
        self.files = gen.lander_files(
            self.seed, gen.BASE_NS + self.days * gen.DAY_NS, n_files,
            ROWS_PER_FILE)
        self.staged = os.path.join(self.work, "landing_staged")
        os.makedirs(landing)
        os.makedirs(self.staged)
        self.landing = landing
        for i, f in enumerate(self.files):
            pq.write_table(f.to_arrow(),
                           os.path.join(self.staged, f"f{i:05d}.parquet"))

    def phase_ingest(self, sut: Sut, client: Client) -> None:
        """An open-loop lander drops one tick file every LAND_EVERY_S
        into the stream's landing directory, whatever the system does;
        a poller stamps when each file's rows are visible through
        ``Table.row_count``; a chart client reads the newest days.  The
        first INGEST_WARM_S of the phase is untimed, so the stream's first,
        slower micro-batches, which a long-running stream pays once, are
        not in the samples."""
        from zdb_spark.table import Table

        hist, files, n_warm = self.hist, self.files, self.n_warm
        n_files = len(files)
        cum = len(hist) + np.cumsum([len(f) for f in files])
        landed: list = [None] * n_files
        visible: list = [None] * n_files
        backlog: list[int] = []
        poll_errors = [0]
        stop_poll = threading.Event()
        latest_ts = [int(hist.ts[-1])]

        def row_count() -> int:
            try:
                return Table.open(None, TABLE, self.home).row_count
            except (OSError, ValueError):
                poll_errors[0] += 1
                return 0

        def poll():
            nxt = 0
            while nxt < n_files and not stop_poll.is_set():
                rc = row_count()
                now = time.time()
                while nxt < n_files and landed[nxt] is not None \
                        and rc >= cum[nxt]:
                    visible[nxt] = now
                    nxt += 1
                time.sleep(0.005)

        def land():
            t0 = time.time()
            for i in range(n_files):
                time.sleep(max(0.0, t0 + i * LAND_EVERY_S - time.time()))
                name = f"f{i:05d}.parquet"
                os.rename(os.path.join(self.staged, name),
                          os.path.join(self.landing, name))
                landed[i] = time.time()
                if i >= n_warm:
                    backlog.append(sum(1 for j in range(n_warm, i)
                                       if visible[j] is None))
                latest_ts[0] = int(files[i].ts[-1])

        sut.send({"cmd": "stream"})
        sut.read()
        poller = threading.Thread(target=poll, daemon=True)
        poller.start()
        try:
            newest = lambda: int((latest_ts[0] - gen.BASE_NS) // gen.DAY_NS)
            streams = [ChartTraffic(self.seed, c, newest)
                       for c in range(INGEST_READERS)]
            recs, elapsed = self.drive(client, "ingest", streams,
                                       self.seconds, extra=[land],
                                       warm=INGEST_WARM_S)
            drain_deadline = time.time() + 90
            while visible[-1] is None and time.time() < drain_deadline:
                time.sleep(0.05)
        finally:
            stop_poll.set()
            poller.join(timeout=10)
        sut.send({"cmd": "unstream"})
        self.progress = sut.read()["progress"]
        full = gen.Ticks.concat([hist, *self.files])

        def check():
            self.count(self.table_holds(full))  # every row exactly once
            for v in visible:
                self.count(v is not None)
            for _ in range(poll_errors[0]):
                self.count(False)
            bounds = self.batch_bounds()
            for r in recs:
                if r["spec"]["kind"] == "symbols":
                    self.count(check_response(r, full))
                else:
                    self.count(r["status"] == 200
                               and read_is_batch_prefix(r, full, bounds))

        self.checks.append(check)
        self.latency("ingest_lag", [(v - t) * 1e3 for v, t in
                                    zip(visible[n_warm:], landed[n_warm:])
                                    if v and t])
        self.chart_metrics("ingest_ohlcv", recs, elapsed, INGEST_READERS)
        rows = int(cum[-1] - cum[n_warm - 1])
        rate = (rows / (visible[-1] - landed[n_warm]) if visible[-1]
                else 0.0)
        self.note("ingest_rows_s", rate, "rows/s",
                  f"offered {ROWS_PER_FILE / LAND_EVERY_S:.0f} rows/s, "
                  f"{n_files - n_warm} timed files")
        self.note("lander_late_ms", max(
            (landed[i] - landed[0] - i * LAND_EVERY_S) * 1e3
            for i in range(n_files)), "ms", "worst open-loop lateness")
        self.layer["streaming.backlog_files"] = median(backlog)
        self.backlog = backlog
        self.table_rows = len(full)

    def phase_dedup(self, sut: Sut, client: Client) -> None:
        """Back-to-back near_dup_clusters jobs for the run's seconds (at
        least one); the first is the first dedup job of the session."""
        jobs: list[dict] = []
        deadline = time.time() + self.seconds
        while not jobs or time.time() < deadline:
            t = time.perf_counter()
            sut.send({"cmd": "dedup"})
            reply = sut.read()
            reply["ms"] = (time.perf_counter() - t) * 1e3
            jobs.append(reply)
        self.jobs = jobs
        self.checks.append(lambda: [
            self.count(gen.labels_match(j["labels"], self.planted))
            for j in jobs])
        self.latency("dedup_job", [j["ms"] for j in jobs])
        self.note("dedup_docs_s", self.n_docs / (median(
            self.ops["dedup_job"]) / 1e3), "docs/s", f"{self.n_docs} docs")

    # -- table checks ------------------------------------------------- #
    def stored(self) -> None:
        path = os.path.join(self.home, "data", TABLE)
        total = sum(os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(path) for f in fs)
        rows = getattr(self, "table_rows", len(self.hist))
        self.note("stored_bytes_per_row", total / rows, "B",
                  f"{total} bytes, {rows} rows")
        self.layer["table.files"] = float(len(self.data_files()))

    def data_files(self) -> list[str]:
        root = os.path.join(self.home, "data", TABLE, "parquet")
        return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
                if f.startswith("part-")]

    def table_holds(self, full: gen.Ticks) -> bool:
        import pyarrow as pa
        import pyarrow.parquet as pq

        parts = [pq.read_table(p, columns=list(gen.TICK_COLS))
                 for p in self.data_files()]
        tab = pa.concat_tables(parts).sort_by("ts")
        return (tab.num_rows == len(full)
                and np.array_equal(tab["ts"].to_numpy(), full.ts)
                and np.array_equal(tab["sym"].to_numpy(zero_copy_only=False)
                                   .astype(str), full.sym.astype(str))
                and all(np.array_equal(tab[c].to_numpy(), getattr(full, c))
                        for c in ("open", "high", "low", "close"))
                and np.array_equal(tab["volume"].to_numpy(),
                                   full.volume.astype(np.int64)))

    def batch_bounds(self) -> list[int]:
        """Max ts of every committed batch: the part files of one write
        job share the job's UUID in their names."""
        import pyarrow.parquet as pq

        by_job: dict[str, int] = {}
        for p in self.data_files():
            m = re.match(r"part-\d+-([0-9a-f-]{36})", os.path.basename(p))
            job = m.group(1) if m else p
            ts = pq.read_table(p, columns=["ts"])["ts"].to_numpy()
            if len(ts):
                by_job[job] = max(by_job.get(job, int(ts.max())),
                                  int(ts.max()))
        return sorted(by_job.values())

    # -- metrics ------------------------------------------------------ #
    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup_s,
                "compute_p50_ms": median(self.ops[E2E_OPS[self.workload]])}

    def layers_from_spans(self, stopped: dict, records: list[dict]) -> None:
        """Per-layer metrics: medians over the timed part of the run."""
        from tracing import union_ms

        timed = {r["rid"] for r in records if r["timed"]}
        spans = [s for s in stopped["spans"] if s["phase"] == "run"
                 and (s["req"] is None or s["req"] in timed)]
        kids: dict[int, list[dict]] = {}
        for s in stopped["spans"]:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)

        def subtree(s):
            out, todo = [], [s]
            while todo:
                x = todo.pop()
                out.append(x)
                todo.extend(kids.get(x["id"], []))
            return out

        def incl(s, key):
            return sum(x.get(key, 0) for x in subtree(s))

        def dur_ms(s):
            return (s["end"] - s["start"]) * 1e3

        def self_ms(s):
            return dur_ms(s) - union_ms(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                s["start"], s["end"])

        def gap_ms(s):
            ivs = [iv for x in subtree(s) for iv in x["stage_intervals"]]
            return dur_ms(s) - union_ms(ivs, s["start"], s["end"])

        def named(name):
            return [s for s in spans if s["name"] == name]

        def med(name, fn):
            return median([fn(s) for s in named(name)])

        L = self.layer
        L["table.open_ms"] = med("table.open", dur_ms)
        L["table.scan_ms"] = med("table.scan", dur_ms)
        L["table.scan_spark_jobs"] = med("table.scan",
                                         lambda s: incl(s, "jobs"))
        L["table.scan_tasks"] = med("table.scan", lambda s: incl(s, "tasks"))
        L["table.symbols_ms"] = med("table.symbols", dur_ms)
        L["ohlcv.call_ms"] = med("ohlcv", dur_ms)
        L["ohlcv.spark_jobs"] = med("ohlcv", lambda s: incl(s, "jobs"))
        L["ohlcv.tasks"] = med("ohlcv", lambda s: incl(s, "tasks"))
        L["ohlcv.driver_gap_ms"] = med("ohlcv", gap_ms)
        L["ohlcv.executor_cpu_ms"] = med("ohlcv", lambda s: incl(s, "cpu_ms"))
        L["ohlcv.shuffle_bytes"] = med(
            "ohlcv", lambda s: incl(s, "shuffle_bytes"))
        L["query.q_ms"] = med("query.q", dur_ms)
        L["query.spark_jobs"] = med("query.q", lambda s: incl(s, "jobs"))
        L["query.executor_run_ms"] = med(
            "query.q", lambda s: incl(s, "run_ms"))
        L["query.executor_cpu_ms"] = med(
            "query.q", lambda s: incl(s, "cpu_ms"))
        L["query.driver_gap_ms"] = med("query.q", gap_ms)
        L["query.partials"] = median(   # parallel folds only
            [incl(s, "map_in_pandas_rows") for s in named("query.q")
             if incl(s, "map_in_pandas_rows")])
        L["query.input_rows"] = med("query.q", lambda s: incl(s, "scan_rows"))
        L["table.write_s"] = med("table.write", lambda s: dur_ms(s) / 1e3)
        L["table.write_spark_jobs"] = med(
            "table.write", lambda s: incl(s, "jobs"))
        L["operators.dedup.signature_ms"] = med(
            "operators.dedup.signature", dur_ms)
        L["operators.dedup.pairs_ms"] = med("operators.dedup.pairs", dur_ms)
        L["operators.dedup.clusters_ms"] = med(
            "operators.dedup.clusters", self_ms)
        for key, field in (("spark_jobs", "jobs"), ("stages", "stages"),
                           ("shuffle_bytes", "shuffle_bytes"),
                           ("executor_run_ms", "run_ms"),
                           ("executor_cpu_ms", "cpu_ms"),
                           ("python_eval_nodes", "py_eval_nodes")):
            L[f"operators.dedup.{key}"] = med(
                "operators.dedup", lambda s, f=field: incl(s, f))
        L["operators.dedup.persisted_after"] = median(
            [j["persisted_after"] for j in self.jobs])
        L["spark.gc_ms"] = float(stopped["spark"]["gc_ms"])
        L["spark.spill_bytes"] = float(stopped["spark"]["spill_bytes"])

        batches = [p for p in self.progress if p.get("numInputRows", 0) > 0
                   and datetime.fromisoformat(p["timestamp"]).timestamp()
                   >= self.timed_from]
        for phase in ("triggerExecution", "latestOffset", "getBatch",
                      "queryPlanning", "addBatch", "walCommit",
                      "commitOffsets"):
            key = "batch" if phase == "triggerExecution" else phase
            L[f"streaming.{key}_ms"] = median(
                [p["durationMs"].get(phase, 0) for p in batches])
        L["streaming.rows_per_batch"] = median(
            [p["numInputRows"] for p in batches])

        # per request: server self time, files read, and how much of the
        # client's round trip the server span and the layer calls inside
        # it cover (time outside them lowers the shares)
        roots = {s["req"]: s for s in spans if s["name"] == "server"}
        selfs, files, sizes, server_share, inner_share = [], [], [], [], []
        for rec in records:
            root = roots.get(rec["rid"])
            if root is None:
                continue
            inner = union_ms([(c["start"], c["end"])
                              for c in kids.get(root["id"], [])],
                             root["start"], root["end"])
            selfs.append(rec["ms"] - inner)
            sizes.append(len(rec["body"]))
            files.append(sum(x.get("files_read", 0) for x in subtree(root)))
            server_share.append(dur_ms(root) / rec["ms"])
            inner_share.append(inner / rec["ms"])
        L["server.self_ms"] = median(selfs)
        L["server.response_bytes"] = median(sizes)
        L["table.files_read_per_request"] = median(files)
        L["trace.server_share"] = median(server_share)
        L["trace.inner_share"] = median(inner_share)
        L["trace.compute_p50_ms"] = median(self.ops[E2E_OPS[self.workload]])


def read_is_batch_prefix(rec: dict, full: gen.Ticks,
                         bounds: list[int]) -> bool:
    """An ingest read must equal the table as of some whole committed
    batch: every row with ts <= that batch's max ts, and none after it.
    Candidates are the first bounds at or after the newest bar returned
    (a resampled bar starts before its last tick)."""
    spec = rec["spec"]
    got = json.loads(rec["body"])
    seen = [t for bars in got["results"].values() for t in bars["t"]]
    top = max(seen) if seen else bounds[0]
    for bound in [b for b in bounds if b >= top][:3]:
        n = int(np.searchsorted(full.ts, bound, side="right"))
        if got == gen.ohlcv_expected(full.head(n), spec["lo"], spec["hi"],
                                     spec["symbols"], spec["every"]):
            return True
    return False


def host_shape() -> str:
    try:
        import pyspark

        spark_v = pyspark.__version__
    except ImportError:
        spark_v = "missing"
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return (f"nproc={os.cpu_count()} mem_gb={mem_gb:.1f} "
            f"pyspark={spark_v} python={platform.python_version()}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "zdb_spark", "__init__.py")):
        print("perfbench: zdb_spark/ not found next to perfbench/; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} {host_shape()}")
    error_rate = run.failed / max(run.attempted, 1)
    run.note("error_rate", error_rate, "ratio",
             f"{run.failed} of {run.attempted} operations")
    for name, value, unit, extra in run.report:
        print(f"  {name:<26} {value:>14.4f} {unit:<7} {extra}")
    if args.trace:
        for name, unit in PER_LAYER:
            print(f"  {name:<36} {run.layer[name]:>14.4f} {unit}")
        metrics = {name: {"value": run.layer[name], "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        e2e = run.end_to_end()
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in E2E}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
