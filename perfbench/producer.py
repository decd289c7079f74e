"""Seeded event producer for the stream workload: the shape of the
reference's `producer.py`, writing files into a spool directory instead
of a Kafka topic. Each line is one event in `Streaming.wireEncode`'s
JSON format (the Kafka value):

    {"event_id":7,"ts":"2024-01-01T00:00:03.500Z","user_id":12,"event_type":"click","value":4.2}

Users are Zipf-skewed. A share of events arrive out of order (up to 30
minutes of event time late, inside the 1 h watermark), a share are
re-sent duplicates (at-least-once delivery), a few lines are corrupt,
and a share are stale: more than 3 h before the stream's first event,
past every watermark, so the engine must drop them. Stale events only
appear in the files written after the backlog, so they can never reach
the engine before its watermark has moved.

Files are written under a hidden name and renamed, so the file source
never reads a partial file. Every written file is appended to a
manifest (`<spool>/../manifest.jsonl`): index, first line, line count,
due time and write time (epoch ms).

Usage:
  producer.py <spool> <seed> warm <files> <events_per_file>
  producer.py <spool> <seed> stream <backlog_files> <events_per_file> <live_events_per_file> <files_per_s> <go_file>

`stream` writes the backlog at once, then waits for <go_file> (holding
the start time in epoch ms), then writes one file of <live_events_per_file>
every 1/<files_per_s> seconds, each due at start + k/<files_per_s>, until
<spool>/../stop exists. It then writes `<spool>/../done`.
"""
import json
import os
import sys
import time

import numpy as np

T0_MS = 1704067200000            # 2024-01-01T00:00:00Z, the stream's first event time
STEP_MS = 500                    # mean event-time gap between consecutive events
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
USERS = 1000


def iso(ms):
    s, frac = divmod(int(ms), 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{frac:03d}Z"


class Producer:
    def __init__(self, spool, seed):
        self.spool = spool
        self.rng = np.random.default_rng(seed)
        self.clock = T0_MS
        self.next_id = 0
        self.lines = 0
        self.files = 0
        self.recent = []
        self.stale = False
        os.makedirs(spool, exist_ok=True)
        self.manifest = open(os.path.join(os.path.dirname(spool), "manifest.jsonl"), "a")
        zipf = 1.0 / np.arange(1, USERS + 1) ** 1.1
        self.user_p = zipf / zipf.sum()

    def event(self):
        r = self.rng
        self.clock += int(r.exponential(STEP_MS)) + 1
        ts = self.clock
        u = r.random()
        if self.stale and u < 0.01:
            ts = T0_MS - 3 * 3_600_000 - int(r.integers(0, 3_600_000))
        elif u < 0.04:
            ts = self.clock - int(r.integers(0, 30 * 60_000))
        e = {"event_id": self.next_id, "ts": iso(ts), "user_id": int(r.choice(USERS, p=self.user_p)),
             "event_type": EVENT_TYPES[int(r.integers(0, len(EVENT_TYPES)))],
             "value": round(float(r.exponential(50.0)), 2)}
        self.next_id += 1
        return json.dumps(e, separators=(",", ":"))

    def batch(self, n):
        out = []
        for _ in range(n):
            u = self.rng.random()
            if self.recent and u < 0.01:
                out.append(self.recent[int(self.rng.integers(0, len(self.recent)))])
            elif u < 0.012:
                out.append('{"event_id":')
            else:
                line = self.event()
                self.recent = (self.recent + [line])[-100:]
                out.append(line)
        return out

    def write(self, n, due_ms):
        lines = self.batch(n)
        name = f"part-{self.files:06d}.json"
        tmp = os.path.join(self.spool, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.spool, name))
        rec = {"file": self.files, "first_line": self.lines, "lines": len(lines),
               "due_ms": due_ms, "written_ms": time.time() * 1000}
        self.manifest.write(json.dumps(rec) + "\n")
        self.manifest.flush()
        self.files += 1
        self.lines += len(lines)


def main(argv):
    spool, seed, mode = argv[0], int(argv[1]), argv[2]
    p = Producer(spool, seed)
    if mode == "warm":
        for _ in range(int(argv[3])):
            p.write(int(argv[4]), time.time() * 1000)
        return
    backlog, per_file, live_per_file = int(argv[3]), int(argv[4]), int(argv[5])
    rate, go = float(argv[6]), argv[7]
    for _ in range(backlog):
        p.write(per_file, time.time() * 1000)
    base = os.path.dirname(spool)
    open(os.path.join(base, "ready"), "w").close()
    while not os.path.exists(go):
        time.sleep(0.01)
    time.sleep(0.01)
    with open(go) as f:
        start = float(f.read())
    stop = os.path.join(base, "stop")
    p.stale = True
    k = 0
    while not os.path.exists(stop):
        due = start + k * 1000.0 / rate
        wait = due / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        p.write(live_per_file, due)
        k += 1
    with open(os.path.join(base, "done"), "w") as f:
        f.write(json.dumps({"files": p.files, "lines": p.lines}))


if __name__ == "__main__":
    main(sys.argv[1:])
