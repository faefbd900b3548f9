"""Tests of the benchmark itself: generators, oracles and a smoke run.

    python3 -m pytest perfbench/tests -q              # everything (~3 min)
    python3 -m pytest perfbench/tests -q -k "not smoke"   # no Spark

The perturbation tests feed each checker an answer that is right but for
one value, so an oracle that accepted anything would fail them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def ticks():
    return gen.history(5, 100, 20_000)


def _rec(spec: dict, body) -> dict:
    return {"spec": spec, "status": 200, "body": json.dumps(body).encode()}


# --------------------------------------------------------------------- #
# generators                                                             #
# --------------------------------------------------------------------- #
def test_history_shape(ticks):
    assert len(ticks) == 20_000
    assert np.all(np.diff(ticks.ts) > 0)
    days = np.unique((ticks.ts - gen.BASE_NS) // gen.DAY_NS)
    assert len(days) == 100
    assert ticks.open.dtype == np.float32 and ticks.close.dtype == np.float32
    assert set(np.unique(ticks.sym)) <= set(gen.SYMBOLS)
    assert len(np.unique(ticks.sym)) == 500
    assert np.all(ticks.low <= np.minimum(ticks.open, ticks.close))
    assert np.all(ticks.high >= np.maximum(ticks.open, ticks.close))


def test_generators_are_seeded(ticks):
    again = gen.history(5, 100, 20_000)
    other = gen.history(6, 100, 20_000)
    assert np.array_equal(ticks.ts, again.ts)
    assert np.array_equal(ticks.close, again.close)
    assert not np.array_equal(ticks.ts, other.ts)
    a = gen.lander_files(5, gen.BASE_NS, 3, 50)
    b = gen.lander_files(5, gen.BASE_NS, 3, 50)
    assert all(np.array_equal(x.ts, y.ts) for x, y in zip(a, b))
    whole = gen.Ticks.concat(a)
    assert np.all(np.diff(whole.ts) > 0)  # increasing across files
    assert gen.corpus(5, 50, 5)[1] == gen.corpus(5, 50, 5)[1]


def test_corpus_plants_clusters():
    ids, texts, planted = gen.corpus(3, 100, 10)
    assert len(ids) == len(texts) == len(set(ids.tolist()))
    assert set(planted.values()) == set(range(10))
    for doc, root in planted.items():
        # a near copy differs from its root by at most two words
        a, b = texts[doc].split(), texts[root].split()
        assert len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) <= 2


# --------------------------------------------------------------------- #
# oracles                                                                #
# --------------------------------------------------------------------- #
def test_ohlcv_oracle_small_case():
    t = gen.Ticks(np.array([10, 20, 310, 320], dtype=np.int64),
                  np.array(["A", "B", "A", "A"]),
                  np.array([1, 2, 3, 4], dtype=np.float32),
                  np.array([5, 6, 7, 8], dtype=np.float32),
                  np.array([0, 1, 2, 3], dtype=np.float32),
                  np.array([2, 3, 4, 5], dtype=np.float32),
                  np.array([1, 1, 2, 3], dtype=np.uint32))
    raw = gen.ohlcv_expected(t, 0, 400, ["A"])
    assert raw == {"results": {"A": {"t": [10, 310, 320],
                                     "o": [1.0, 3.0, 4.0],
                                     "h": [5.0, 7.0, 8.0],
                                     "l": [0.0, 2.0, 3.0],
                                     "c": [2.0, 4.0, 5.0],
                                     "v": [1, 2, 3]}},
                   "min_date": 10, "max_date": 320}
    bars = gen.ohlcv_expected(t, 0, 400, ["A"], every_ns=300)
    assert bars["results"]["A"] == {"t": [0, 300], "o": [1.0, 3.0],
                                    "h": [5.0, 8.0], "l": [0.0, 2.0],
                                    "c": [2.0, 5.0], "v": [1, 5]}
    assert gen.ohlcv_expected(t, 400, 0, ["A"]) == raw  # reversed range


def test_perturbed_bar_fails(ticks):
    traffic = run.ChartTraffic(1, 0, lambda: 99)
    checked = 0
    for _ in range(40):  # raw and resampled bars, plus /symbols
        spec = traffic()
        if spec["kind"] == "symbols":
            body = gen.symbols_expected(ticks)
            assert run.check_response(_rec(spec, body), ticks)
            assert not run.check_response(_rec(spec, body[1:]), ticks)
            continue
        body = gen.ohlcv_expected(ticks, spec["lo"], spec["hi"],
                                  spec["symbols"], spec["every"])
        assert run.check_response(_rec(spec, body), ticks)
        if not body["results"]:
            continue
        sym = next(iter(body["results"]))
        body["results"][sym]["c"][-1] += 0.5
        assert not run.check_response(_rec(spec, body), ticks)
        checked += 1
    assert checked >= 5


def test_perturbed_q_result_fails(ticks):
    traffic = run.QuantTraffic(1, 0)
    for _ in range(5):  # every body kind, ordered fold included
        spec = traffic()
        want = gen.q_expected(ticks, spec["name"], spec["lo"], spec["hi"])
        raw = [want] if spec["name"] == "max_high" else want
        assert run.check_response(_rec(spec, {"result": raw}), ticks)
        if spec["name"] == "running":
            bad = [want[0], want[1], want[2] + 0.25]
        elif spec["name"] == "max_high":
            bad = [want * (1 + 1e-6)]
        else:
            bad = want + 1 if isinstance(want, int) else want * (1 + 1e-6)
        assert not run.check_response(_rec(spec, {"result": bad}), ticks)


def test_q_tolerance_is_relative_1e9():
    assert gen.close_enough(1e6 * (1 + 5e-10), 1e6)
    assert not gen.close_enough(1e6 * (1 + 5e-9), 1e6)
    assert not gen.close_enough(3.0, 3)  # an int answer must be an int


def test_perturbed_cluster_label_fails():
    ids, _, planted = gen.corpus(3, 100, 10)
    rows = [[d, c] for d, c in planted.items()]
    assert gen.labels_match(rows, planted)
    moved = [[d, c + 1 if d == rows[0][0] else c] for d, c in rows]
    assert not gen.labels_match(moved, planted)
    assert not gen.labels_match(rows[1:], planted)
    assert not gen.labels_match(rows + [[int(ids[-1]) + 1, 0]], planted)


def test_torn_ingest_read_fails(ticks):
    """A read must equal the table as of a whole committed batch."""
    files = gen.lander_files(9, int(ticks.ts[-1]) + 1, 4, 400)
    full = gen.Ticks.concat([ticks, *files])
    # batches: history, then files 0-1 together, then files 2-3
    bounds = [int(ticks.ts[-1]), int(files[1].ts[-1]), int(files[3].ts[-1])]
    lo = int(files[0].ts[0])
    hi = int(files[3].ts[-1])
    syms = [str(s) for s in gen.SYMBOLS[:40]]
    spec = {"kind": "ohlcv", "lo": lo, "hi": hi, "symbols": syms,
            "every": None}
    for n in (len(ticks), len(ticks) + 800, len(full)):
        body = gen.ohlcv_expected(full.head(n), lo, hi, syms)
        assert run.read_is_batch_prefix(_rec(spec, body), full, bounds)
    # half of the second batch visible: files 0-1 plus file 2 only
    torn = gen.ohlcv_expected(full.head(len(ticks) + 1200), lo, hi, syms)
    assert not run.read_is_batch_prefix(_rec(spec, torn), full, bounds)


def test_tail_rule():
    assert run.tail([]) == (0.0, 50.0)
    value, p = run.tail(list(range(100)))
    assert p == 90.0 and value == pytest.approx(89.1)
    assert run.tail(list(range(12)))[1] == 50.0  # never below the median


def test_union_ms():
    from tracing import union_ms

    assert union_ms([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3000)
    assert union_ms([(0, 5)], 1, 2) == pytest.approx(1000)
    assert union_ms([], 0, 1) == 0.0


def test_trace_shares_show_uncovered_time():
    """A 100 ms round trip whose server span lasts 90 ms and holds 50 ms
    of layer calls: the shares must read 0.9 and 0.5, not 1."""
    r = run.Run("serve", 1, 1.0, True, "")
    r.ops = {"q": [100.0]}

    def span(sid, name, parent, start_ms, end_ms):
        return {"id": sid, "name": name, "parent": parent, "req": "r1",
                "phase": "run", "start": start_ms / 1e3,
                "end": end_ms / 1e3, "stage_intervals": []}

    stopped = {"spans": [span(1, "server", None, 0, 90),
                         span(2, "table.open", 1, 10, 20),
                         span(3, "ohlcv", 1, 30, 70),
                         span(4, "table.scan", 3, 35, 60)],
               "spark": {"gc_ms": 0, "spill_bytes": 0}}
    records = [{"rid": "r1", "timed": True, "ms": 100.0, "body": b"{}"}]
    r.layers_from_spans(stopped, records)
    assert r.layer["trace.server_share"] == pytest.approx(0.9)
    assert r.layer["trace.inner_share"] == pytest.approx(0.5)
    assert r.layer["server.self_ms"] == pytest.approx(50.0)
    assert r.layer["ohlcv.call_ms"] == pytest.approx(40.0)


# --------------------------------------------------------------------- #
# smoke runs: every workload end to end with the oracle on               #
# --------------------------------------------------------------------- #
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "2", "--trace", "0"],
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2
    assert {k for k in result["metrics"]} == {n for n, _ in run.E2E}
    assert all(m["value"] > 0 for m in result["metrics"].values())
