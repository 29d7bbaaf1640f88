"""Open-loop event generator for the live phase of ``mood_stream``.

One single-threaded process. It reads pre-serialized events (one
``<file index>\\t<json>`` line each, per stream) and publishes file k of
every stream at ``t0 + k * period`` into the stream's topic directory,
whatever the consumer is doing. Times are on the monotonic clock, which
all processes of the host share and which never steps. Each file is
written under a hidden name and renamed into place, so the file source
never lists a partial file. At the end it writes a manifest: per file,
when it was due, when it was written and how many events it holds.

Usage: python3 gen_stream.py <staging dir> <topics dir> <period s> <t0> <manifest>
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict


def load(staging: str) -> dict[str, dict[int, list[str]]]:
    out: dict[str, dict[int, list[str]]] = {}
    for name in sorted(os.listdir(staging)):
        stream = name.split(".")[0]
        files: dict[int, list[str]] = defaultdict(list)
        with open(os.path.join(staging, name)) as fh:
            for line in fh:
                k, payload = line.rstrip("\n").split("\t", 1)
                files[int(k)].append(payload)
        out[stream] = files
    return out


def main(staging: str, topics: str, period: float, t0: float, manifest: str) -> None:
    events = load(staging)
    n_files = max(len(f) for f in events.values())
    for stream in events:
        os.makedirs(os.path.join(topics, stream), exist_ok=True)
    records = []
    for k in range(n_files):
        due = t0 + k * period
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        for stream, files in events.items():
            lines = files.get(k, [])
            d = os.path.join(topics, stream)
            name = f"{stream}-{k:06d}.json"
            tmp = os.path.join(d, f".{name}.tmp")
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, os.path.join(d, name))
            records.append({"file": name, "stream": stream, "k": k, "due": due,
                            "written": time.monotonic(), "events": len(lines)})
    with open(manifest, "w") as fh:
        json.dump({"t0": t0, "period": period, "files": records}, fh)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]), sys.argv[5])
