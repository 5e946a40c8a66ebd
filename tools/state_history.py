"""State-store cost over a long interval history, with no Spark.

Replays the scheduler's state traffic on a fresh StateStore: one
put_snapshots for N models, then per daily run one get_intervals and one
add_interval per model. Prints one JSON line per day with that day's state
seconds and the store's own counters (reads, committed writes, bytes
written), then one summary line.

    python tools/state_history.py --models 1000 --days 30
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqlmesh_spark.core.state import StateStore

DAY_MS = 86_400_000


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--models", type=int, default=1000)
    ap.add_argument("--days", type=int, default=30)
    args = ap.parse_args()
    path = tempfile.mkdtemp(prefix="state_history_")
    try:
        store = StateStore(path)
        names = [f"hist.m{i}" for i in range(args.models)]
        store.put_snapshots({(n, "v1"): {"name": n, "kind": "FULL"} for n in names})
        daily = []
        for day in range(args.days):
            base = (store.reads, store.writes, store.bytes_written)
            began = time.perf_counter()
            for n in names:
                store.get_intervals(n, "v1")
                store.add_interval(n, "v1", day * DAY_MS, (day + 1) * DAY_MS)
            daily.append(time.perf_counter() - began)
            print(json.dumps({
                "day": day + 1,
                "state_s": round(daily[-1], 4),
                "reads": store.reads - base[0],
                "writes": store.writes - base[1],
                "bytes_written": store.bytes_written - base[2],
            }), flush=True)
        dir_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        print(json.dumps({
            "models": args.models,
            "days": args.days,
            "max_day_s": round(max(daily), 4),
            "total_s": round(sum(daily), 3),
            "dir_bytes": dir_bytes,
        }))
    finally:
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
