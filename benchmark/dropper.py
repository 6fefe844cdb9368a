"""Open-loop file dropper: one process, one thread.

Usage: ``python3 dropper.py SCHEDULE.json LOG.json``

SCHEDULE.json is ``{"start_at": <epoch s>, "drops": [[src, dst, due_offset_s], ...]}``.
Each pre-generated file is renamed from ``src`` (a staging dir) to
``dst`` (the stream's source dir) at ``start_at + due_offset_s``,
whatever the engine is doing: the offered load does not wait for the
consumer. A rename is atomic, so the file source never sees a partial
file. LOG.json records, per file, the due and the actual epoch times.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(schedule_path: str, log_path: str) -> int:
    with open(schedule_path) as f:
        sched = json.load(f)
    start_at = sched["start_at"]
    log = []
    for src, dst, due_off in sched["drops"]:
        due = start_at + due_off
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(src, dst)
        log.append({"file": os.path.basename(dst), "due": due, "actual": time.time()})
    with open(log_path + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(log_path + ".tmp", log_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
