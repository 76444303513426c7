"""Open-loop load generator for the ``route_paced`` workload.

Runs as its own process. From ``--start`` (epoch seconds) it publishes
one file of ``--per-file`` messages every ``--interval`` seconds into
``--watch``: each file is written under ``--stage`` (same filesystem)
and then renamed into the watched directory, so the router never sees
a partial file. Every message carries its file's scheduled send time.
Files are built before the clock starts, so publishing is one write and
one rename. At the end it writes a JSON report with, per file, the
scheduled and the actual publish time, to ``--report``.

    python3 perfbench/paced_gen.py --seed 1 --watch in --stage stage \
        --report gen.json --start 1760000000.0 --files 100 \
        --interval 0.1 --per-file 500
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    a = ap.parse_args()

    os.makedirs(a.stage, exist_ok=True)
    due = [a.start + i * a.interval for i in range(a.files)]
    bodies = [
        ("\n".join(gen.paced_file_lines(a.seed, i, a.per_file,
                                        round(due[i] * 1e6))) + "\n").encode()
        for i in range(a.files)
    ]
    actual = []
    for i, body in enumerate(bodies):
        wait = due[i] - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"f{i:06d}.txt"
        tmp = os.path.join(a.stage, name)
        with open(tmp, "wb") as fh:
            fh.write(body)
        os.rename(tmp, os.path.join(a.watch, name))
        actual.append(time.time())
    with open(a.report, "w", encoding="utf-8") as fh:
        json.dump({"due": due, "actual": actual, "per_file": a.per_file}, fh)


if __name__ == "__main__":
    main()
