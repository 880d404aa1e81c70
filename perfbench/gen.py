#!/usr/bin/env python3
"""Seeded load generator for the streaming-pipeline benchmark.

Runs as its own single-threaded process. It writes wire-format JSON-lines
files (one event per line, the shape `ops.EventPipeline.fromRawJson`
parses) into a staging directory, then renames each one atomically into
the directory the pipeline watches. Alongside the inputs it writes
`expect.json`: what a correct pipeline must produce from them (sink row
count and id checksum, dead-letter counts per reason, the five reference
query answers, and the deduplicated per-window counts). The same seed gives
byte-identical inputs; `manifest.json` records their SHA-256.

Modes:
  stage  -- write every input set of the workload, rename the backlog sets
            into their watched directories, write manifest + expectations.
  live   -- after `stage`, wait for `<dir>/go` (epoch ms written by the
            benchmark), then rename the live files into the watched
            directory on a fixed schedule that never waits for the
            pipeline (open loop); record each rename's lateness.

Usage:
  gen.py stage --workload W --seed N --dir D [--seconds S]
  gen.py live --dir D
"""
import argparse
import heapq
import hashlib
import json
import os
import random
import sys
import time
import zlib
from decimal import Decimal, ROUND_HALF_UP

# --- workload shapes --------------------------------------------------------

EVENT_TYPES = ["view", "click", "purchase", "login", "search", "logout"]
TYPE_WEIGHTS = [40, 25, 8, 10, 12, 5]
REASONS = ["corrupt_json", "missing_required_field", "low_quality",
           "unparseable_timestamp"]
REQUIRED = ["id", "timestamp", "message", "user_id", "event_type"]
OPTIONAL = {
    "source": ["web", "ios", "android", "api", "partner"],
    "ip_address": None, "user_agent": ["Mozilla/5.0", "curl/8.4", "okhttp/4.12",
                                       "Safari/17.2", "Chrome/126.0"],
    "page": None, "referrer": ["google", "direct", "newsletter", "ads", ""],
    "product_id": None, "currency": ["USD", "EUR", "GBP", "JPY"],
    "device_id": None, "location": ["Berlin", "Lagos", "Lima", "Osaka", "Pune",
                                    "Austin", "Oslo"],
}
WORDS = ("alpha beta gamma delta order cart checkout item price shipped "
         "refund search result page click banner session login logout "
         "promo code applied wishlist review rating stock warehouse").split()

MS = 1000
DAY_MS = 86400 * MS
T_RECENT_DAY = 1706572800000      # 2024-01-30T00:00:00Z, Analytics.recentDay
T_RECENT_HALF = 1705276800000     # 2024-01-15T00:00:00Z, Analytics.recentHalf

# per workload: input sets as (name, n_files, events_per_file, kind, watched)
#  kind "backlog": event time spans several days, light disorder
#  kind "live":    event time follows a simulated clock near 2024-01-31
#  kind "stateful": 40 min of event time, up to 8 min of disorder (inside
#                   the 10 min watermark), 10 % duplicate ids
LIVE_RATE = 2000            # events per second offered by the live schedule
LIVE_INTERVAL_MS = 50       # one file every 50 ms
LIVE_FILE_EVENTS = LIVE_RATE * LIVE_INTERVAL_MS // 1000
WAIT_FOR_GO_S = 170         # the live schedule gives up if the benchmark never starts it


def input_sets(workload, seconds):
    if workload == "ingest_backlog":
        return [("backlog", 12, 5000, "backlog", True),
                ("warm", 2, 5000, "backlog", True),
                ("window", 6, 2000, "stateful", True)]
    if workload == "live_mixed":
        n_live = max(1, seconds * 1000 // LIVE_INTERVAL_MS)
        return [("warm", 4, 2500, "live", True),
                ("live", n_live, LIVE_FILE_EVENTS, "live", False),
                ("window", 6, 2000, "stateful", True)]
    raise SystemExit(f"unknown workload {workload!r}")


# --- event synthesis --------------------------------------------------------

_second_cache = {}


def iso(ms):
    sec = ms // MS
    head = _second_cache.get(sec)
    if head is None:
        head = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec))
        if len(_second_cache) > 100000:
            _second_cache.clear()
        _second_cache[sec] = head
    return "%s.%03dZ" % (head, ms % MS)


TYPE_TABLE = [t for t, w in zip(EVENT_TYPES, TYPE_WEIGHTS) for _ in range(w)]
OPTIONAL_ITEMS = list(OPTIONAL.items())


class Synth:
    def __init__(self, rng, prefix):
        self.rng = rng
        self.prefix = prefix
        self.n = 0
        # messages are slices of one seeded text: cheap, and of varied length
        self.text = " ".join(WORDS[int(rng.random() * len(WORDS))] for _ in range(20000))

    def valid(self, ts_ms):
        """A kept event; returns (event dict, value in cents)."""
        r = self.rng.random
        self.n += 1
        n_chars = 3 + int(300 ** r())   # mostly short, a long tail
        at = int(r() * (len(self.text) - n_chars))
        ev = {
            "id": "%s%07d" % (self.prefix, self.n),
            "timestamp": iso(ts_ms),
            "message": self.text[at:at + n_chars],
            "user_id": "user_%d" % int(20000 ** r()),
            "event_type": TYPE_TABLE[int(r() * len(TYPE_TABLE))],
        }
        roll = r()
        c = 0
        if roll < 0.03:
            ev["value"] = 0            # fails one +25 condition: still kept
        elif roll < 0.05:
            ev["user_id"] = "unknown"  # fails one +25 condition: still kept
        elif roll > 0.97:
            pass                       # value absent -> 0.0, still kept
        else:
            c = int(r() * 50000) + 1
            ev["value"] = c / 100
        for key, choices in OPTIONAL_ITEMS:
            if r() < 0.45:
                if choices is not None:
                    ev[key] = choices[int(r() * len(choices))]
                elif key == "ip_address":
                    ev[key] = "10.%d.%d.%d" % (int(r() * 256), int(r() * 256), int(r() * 256))
                else:
                    ev[key] = "%s-%d" % (key[:4], int(r() * 100000))
        return ev, c

    def reject(self, ts_ms, reason):
        r = self.rng
        ev, _ = self.valid(ts_ms)
        ev.setdefault("value", 1.0)
        if reason == "corrupt_json":
            line = dumps(ev)
            return line[:r.randint(5, len(line) - 2)]
        if reason == "missing_required_field":
            key = r.choice(REQUIRED)
            if r.random() < 0.5:
                del ev[key]
            else:
                ev[key] = None
        elif reason == "low_quality":
            # score 25 < 50: user_id, message and value fail; timestamp passes
            ev["user_id"] = r.choice(["unknown", ""])
            ev["message"] = ""
            ev["value"] = r.choice([0, -1.5])
        elif reason == "unparseable_timestamp":
            ev["timestamp"] = r.choice(["not-a-time-%d" % r.randrange(1000),
                                        "2024-13-45T99:00:00Z", "yesterday"])
        return dumps(ev)


dumps = json.JSONEncoder(separators=(",", ":")).encode


class Expect:
    """What a correct pipeline produces from the lines fed to it."""

    def __init__(self):
        self.lines = 0
        self.kept = []            # (id, ts_ms, user_id, type, value in cents)
        self.reasons = dict.fromkeys(REASONS, 0)

    def sink(self):
        ids = {k[0] for k in self.kept}
        return {"rows": len(self.kept),
                "id_crc_sum": sum(zlib.crc32(i.encode()) for i in ids),
                "dlq": dict(self.reasons)}


def round4(x):
    """Spark's round(double, 4): HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def avg(total_cents, n):
    # sum(decimal(12,2)) cast to double, divided by the count
    return round4((total_cents / 100) / n)


def queries(rows):
    """The five ops.Analytics reference answers over sink rows, with the
    benchmark's projection (event_id=id, ts=timestamp, props=message)."""
    recent = [r for r in rows if r[1] >= T_RECENT_DAY]
    half = [r for r in rows if r[1] >= T_RECENT_HALF]
    by_type = {}
    for r in recent:
        c, s, m = by_type.get(r[3], (0, 0, 0))
        by_type[r[3]] = (c + 1, s + r[4], max(m, r[1]))
    summary = sorted(([t, c, avg(s, c), m * MS] for t, (c, s, m) in by_type.items()),
                     key=lambda x: (-x[1], x[0]))
    top = heapq.nsmallest(100, rows, key=lambda r: (-r[1], r[0]))
    return {
        "eventSummary": summary,
        "verificationCount": [[sum(1 for r in recent if r[3] == "view")]],
        "healthCheck": [[len(half), len({r[2] for r in half}),
                         len({r[3] for r in half}),
                         max(r[1] for r in half) * MS if half else None]],
        "dashboardMetrics": [[len(rows), len(recent),
                              avg(sum(r[4] for r in rows), len(rows)) if rows else None]],
        "recentEvents": [[r[0], r[1] * MS, r[3], r[4] / 100] for r in top],
    }


def windows(rows, window_ms=60000, watermark_ms=600000):
    """Per-(window, type) count and value sum of deduplicated kept rows,
    plus the window start below which every window must have been emitted
    once the drain's final watermark has advanced past its end."""
    seen = {}
    for r in rows:
        seen.setdefault(r[0], r)
    acc = {}
    for _id, ts, _u, typ, v in seen.values():
        key = (ts - ts % window_ms, typ)
        n, s = acc.get(key, (0, 0))
        acc[key] = (n + 1, s + v)
    max_ts = max(r[1] for r in seen.values())
    return {"rows": [[w * MS, t, n, s / 100] for (w, t), (n, s) in sorted(acc.items())],
            "emitted_before_us": (max_ts - watermark_ms - window_ms) * MS}


def gen_set(rng, prefix, n_files, per_file, kind):
    """Returns (files as lists of lines, Expect)."""
    synth = Synth(rng, prefix)
    exp = Expect()
    kept = exp.kept
    files = []
    if kind == "backlog":
        t0 = T_RECENT_DAY - 3 * DAY_MS
        step = 5 * DAY_MS // (n_files * per_file)
    elif kind == "live":
        t0 = T_RECENT_DAY + DAY_MS + rng.randrange(3600) * MS
        step = 200
    else:
        # 40 minutes of event time whatever the size, so most windows close
        t0 = T_RECENT_DAY + rng.randrange(3600) * MS
        step = 40 * 60000 // (n_files * per_file)
    i = 0
    recent = []
    rand = rng.random
    for _f in range(n_files):
        lines = []
        for _e in range(per_file):
            base = t0 + i * step
            i += 1
            roll = rand()
            if kind == "stateful" and recent and roll < 0.10:
                line, row = recent[int(rand() * len(recent))]  # exact duplicate
                lines.append(line)
                kept.append(row)
                continue
            if roll > 0.94:
                reason = REASONS[int((roll - 0.94) / 0.015) % 4]
                lines.append(synth.reject(base, reason))
                exp.reasons[reason] += 1
                continue
            if kind == "stateful":
                ts = base - (int(rand() * 8 * 60000) if rand() < 0.3 else 0)
            elif kind == "backlog":
                ts = base - int(rand() * 120000)
                if rand() < 0.02:
                    ts = T_RECENT_HALF - 5 * DAY_MS + int(rand() * DAY_MS)
            else:
                ts = base if rand() < 0.95 else base - DAY_MS - int(rand() * DAY_MS)
            ev, c = synth.valid(ts)
            line = dumps(ev)
            row = (ev["id"], ts, ev["user_id"], ev["event_type"], c)
            lines.append(line)
            kept.append(row)
            if kind == "stateful":
                recent.append((line, row))
                if len(recent) > 500:
                    recent.pop(0)
        files.append(lines)
    exp.lines = i
    return files, exp


def stage(args):
    root = os.path.abspath(args.dir)
    rng = random.Random(args.seed)
    digest = hashlib.sha256()
    manifest = {"workload": args.workload, "seed": args.seed, "sets": {}}
    expect = {}
    now = time.time()
    for name, n_files, per_file, kind, watched in input_sets(args.workload, args.seconds):
        prefix = "%s%x-" % (name[0], args.seed & 0xFFFFFFF)
        files, exp = gen_set(rng, prefix, n_files, per_file, kind)
        staging = os.path.join(root, "staging", name)
        target = os.path.join(root, "in", name)
        os.makedirs(staging, exist_ok=True)
        os.makedirs(target, exist_ok=True)
        names = []
        for k, lines in enumerate(files):
            fname = "part-%05d.json" % k
            data = ("\n".join(lines) + "\n").encode()
            digest.update(data)
            path = os.path.join(staging, fname)
            with open(path, "wb") as fh:
                fh.write(data)
            # strictly increasing mtimes: the file source takes the oldest first
            os.utime(path, (now - n_files + k, now - n_files + k))
            names.append(fname)
            if watched:
                os.rename(path, os.path.join(target, fname))
        entry = {"files": names, "events": exp.lines,
                 "dir": os.path.relpath(target, root),
                 "staging": os.path.relpath(staging, root)}
        if name == "live":
            entry["interval_ms"] = LIVE_INTERVAL_MS
        manifest["sets"][name] = entry
        e = {"sink": exp.sink()}
        if kind != "stateful":
            e["queries"] = queries(exp.kept)
        else:
            e["windows"] = windows(exp.kept)
        expect[name] = e
    manifest["input_sha256"] = digest.hexdigest()
    with open(os.path.join(root, "expect.json"), "w") as fh:
        json.dump(expect, fh)
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)


def live(args):
    """Open-loop schedule: file k is due at go + k * interval, whatever the
    pipeline is doing. Records when each rename actually happened."""
    root = os.path.abspath(args.dir)
    with open(os.path.join(root, "manifest.json")) as fh:
        entry = json.load(fh)["sets"]["live"]
    go_path = os.path.join(root, "go")
    stop_path = os.path.join(root, "stop")
    deadline = time.time() + WAIT_FOR_GO_S
    while not os.path.exists(go_path):
        if time.time() > deadline or os.path.exists(stop_path):
            return 3
        time.sleep(0.005)
    time.sleep(0.01)
    with open(go_path) as fh:
        go_ms = int(fh.read().strip())
    staging = os.path.join(root, entry["staging"])
    target = os.path.join(root, entry["dir"])
    done = []
    for k, fname in enumerate(entry["files"]):
        due_ms = go_ms + k * entry["interval_ms"]
        while True:
            left = due_ms / 1000 - time.time()
            if left <= 0:
                break
            time.sleep(min(left, 0.02))
        if os.path.exists(stop_path):
            break
        os.rename(os.path.join(staging, fname), os.path.join(target, fname))
        done.append([fname, due_ms, int(time.time() * 1000)])
    with open(os.path.join(root, "live_log.json.tmp"), "w") as fh:
        json.dump(done, fh)
    os.rename(os.path.join(root, "live_log.json.tmp"), os.path.join(root, "live_log.json"))
    return 0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["stage", "live"])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--dir", required=True)
    args = p.parse_args()
    return stage(args) if args.mode == "stage" else live(args)


if __name__ == "__main__":
    sys.exit(main() or 0)
