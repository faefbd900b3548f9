"""Find the sustainable ingest rate by stepping the lander's offered rate.

    python3 perfbench/capacity.py --every 1 --rows 16000 64000 128000
    python3 perfbench/capacity.py --every 0.25 0.125 0.0625 --rows 4000

Each step is one run of the ``ingest`` phase alone, as the ``pipeline``
workload runs it (its own SUT and set-up, the warm-up, the lander, the
chart reader, the oracle checks), at one file of ``--rows`` ticks every
``--every`` seconds; every pair of the two lists is a step.  A step is
sustainable while ``ingest_rows_s`` keeps up with the offered rate and the
backlog (files landed but not yet visible) stays flat from the first half
of the phase to the second.  ``run.LAND_EVERY_S`` and
``run.ROWS_PER_FILE`` are set to a fraction of the highest sustainable
file rate and row rate found this way.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def step(seed: int, seconds: float, every: float, rows: int) -> dict:
    run.LAND_EVERY_S, run.ROWS_PER_FILE = every, rows
    work = os.path.join(HERE, "_work", f"capacity-{os.getpid()}")
    os.makedirs(work)
    r = run.Run("capacity", seed, seconds, False, work)
    try:
        r.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    notes = {name: value for name, value, _, _ in r.report}
    half = len(r.backlog) // 2
    return {"offered": run.ROWS_PER_FILE / run.LAND_EVERY_S,
            "rows_s": notes["ingest_rows_s"],
            "lag_p50_ms": notes["ingest_lag_p50_ms"],
            "lag_tail_ms": notes["ingest_lag_tail_ms"],
            "backlog_1st": statistics.median(r.backlog[:half]),
            "backlog_2nd": statistics.median(r.backlog[half:]),
            "failed": r.failed, "attempted": r.attempted}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--every", type=float, nargs="+",
                    default=[run.LAND_EVERY_S])
    ap.add_argument("--rows", type=int, nargs="+",
                    default=[run.ROWS_PER_FILE])
    args = ap.parse_args()
    run.WORKLOADS["capacity"] = ("ingest",)
    run.HISTORY["capacity"] = run.HISTORY["pipeline"]
    print(run.host_shape(), f"seed={args.seed} seconds={args.seconds:g}")
    print(f"{'files/s':>7} {'offered':>9} {'rows_s':>9} {'lag_p50':>9} "
          f"{'lag_tail':>9} {'backlog 1st/2nd half':>21} {'failed':>9}")
    for every in args.every:
        for rows in args.rows:
            m = step(args.seed, args.seconds, every, rows)
            print(f"{1 / every:>7.2f} {m['offered']:>9.0f} "
                  f"{m['rows_s']:>9.0f} {m['lag_p50_ms']:>9.0f} "
                  f"{m['lag_tail_ms']:>9.0f} {m['backlog_1st']:>10.1f} {m['backlog_2nd']:>10.1f} "
                  f"{m['failed']:>5}/{m['attempted']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
