"""Open-loop generator process for ``stream_score``.

    python3 publisher.py PLAN.json

``PLAN.json`` holds ``{"stage": dir, "watch": dir, "log": path, "files":
[[name, due], ...]}`` with absolute wall-clock due times. Each staged file
is published at its due time, however far the consumer has fallen behind:
written as a dot-prefixed temp file inside the watched directory (the file
source ignores such names), given a modification time strictly later than
the previous file's (the file source orders pending files by modification
time), then renamed into place. The log records when each file was due and
when it was published, so the run can report how late the generator ran.
"""

from __future__ import annotations

import json
import os
import sys
import time


def publish(plan: dict) -> list[dict]:
    staged = {}
    for name, _due in plan["files"]:
        with open(os.path.join(plan["stage"], name), "rb") as fh:
            staged[name] = fh.read()
    log, last_ns = [], 0
    for name, due in plan["files"]:
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(plan["watch"], f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(staged[name])
        last_ns = max(time.time_ns(), last_ns + 1_000)
        os.utime(tmp, ns=(last_ns, last_ns))
        os.rename(tmp, os.path.join(plan["watch"], name))
        log.append({"file": name, "due": due, "published": time.time()})
    return log


def main() -> int:
    with open(sys.argv[1]) as fh:
        plan = json.load(fh)
    log = publish(plan)
    with open(plan["log"], "w") as fh:
        json.dump(log, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
