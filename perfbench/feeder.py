"""Open-loop load generator for the ``ingest_steady`` workload.

Runs as its own process so that a slow ingest cannot slow the schedule:
file ``first + i`` is due at ``start + i / rate`` (wall-clock seconds)
and is renamed into the input directory as soon as it is written. At
exit it prints one JSON line per file: ``{"file", "name", "due",
"landed"}``.

    python3 perfbench/feeder.py --in-dir D --seed S --first 2 --count 20 \
        --rate 2 --packets 1000 --start <epoch seconds>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--packets", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    args = ap.parse_args()
    log = []
    for i in range(args.count):
        file_no = args.first + i
        due = args.start + i / args.rate
        table, _ = datagen.raw_message_table(args.seed, file_no, args.packets, due)
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = datagen.file_name(file_no)
        datagen.drop_file(table, args.in_dir, name)
        log.append({"file": file_no, "name": name, "due": due, "landed": time.time()})
    for rec in log:
        print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
