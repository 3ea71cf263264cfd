"""Seeded landing-zone generator for the `etl_batch` workload.

It writes raw weather payloads as the fetcher lands them: one JSON
document per line, one file per observation day, in the envelope that
`graft.sources.Sources.bronzeSchema` reads. A `current` payload exists
for almost every (location, day, ten-minute slot); some slots and whole
hours are missing. Mixed in are `history` backfill payloads (10 %),
API error documents, malformed lines, rows dated after the cut-off and
re-deliveries of the same observation.

The catch-up batch carries late rows for slots the full batch missed
(in the last three days), re-deliveries of rows already stored, and a
little more noise.

Because the generator knows every valid row, it also writes the exact
counts the pipeline must produce: bronze, silver and gold rows after
each batch and the `hours_present` of every (day, location).

Usage: python3 gen_inputs.py <out_dir> <seed> [days] [locations]
"""
import datetime as dt
import json
import os
import sys

import numpy as np

CONDITIONS = ["Sunny", "Partly cloudy", "Cloudy", "Overcast", "Mist",
              "Patchy rain possible", "Light rain", "Moderate rain",
              "Heavy rain", "Thundery outbreaks possible"]
START = dt.datetime(2024, 3, 1)
SLOTS = 144
LOCATION_BASE = 3088000


def _payload(method, loc, obs_id, ts, temp, cond, precip):
    return json.dumps({
        "created_at": ts.strftime("%Y-%m-%d %H:%M:%S"),
        "fetch_method": method,
        "location": {"id": loc, "name": f"Loc{loc}",
                     "lat": round(-6.0 - (loc % 100) / 100.0, 2),
                     "lon": round(106.0 + (loc % 100) / 50.0, 2)},
        "current": {"obs_id": obs_id, "time": ts.strftime("%Y-%m-%d %H:%M:%S"),
                    "temp_c": temp, "condition": cond, "precip_mm": precip},
    }, separators=(",", ":"))


def _error(rng):
    code = int(rng.choice([1006, 2007, 2008, 9999]))
    return json.dumps({"error": {"code": code, "message": "API error"}})


def _malformed(line):
    return line[: len(line) // 2]


class Batch:
    """Lines of one landing zone plus the valid (loc, ts) keys it carries."""

    def __init__(self):
        self.files = {}   # file name -> list of lines
        self.valid = []   # (loc, ts) of every decodable, non-error, in-cutoff row

    def add(self, fname, line, key=None):
        self.files.setdefault(fname, []).append(line)
        if key is not None:
            self.valid.append(key)

    def write(self, d):
        os.makedirs(d, exist_ok=True)
        size = 0
        for fname, lines in sorted(self.files.items()):
            body = ("\n".join(lines) + "\n").encode("utf-8")
            with open(os.path.join(d, fname), "wb") as f:
                f.write(body)
            size += len(body)
        return size


def generate(seed, days=26, locations=27):
    """Return (full Batch, catch-up Batch, now) for one seed."""
    rng = np.random.default_rng(seed)
    locs = [LOCATION_BASE + 11 * k for k in range(locations)]
    now = START + dt.timedelta(days=days) - dt.timedelta(seconds=1)
    full, late = Batch(), Batch()
    obs_id = 0
    missed = []   # (loc, ts) slots absent from the full batch

    def obs(ts):
        temp = round(float(rng.integers(1800, 3400)) / 100.0, 2)
        cond = CONDITIONS[int(rng.integers(0, len(CONDITIONS)))]
        precip = round(float(rng.integers(0, 500)) / 100.0, 2) if rng.random() < 0.3 else 0.0
        return temp, cond, precip

    for day in range(days):
        d0 = START + dt.timedelta(days=day)
        fname = f"landed-{d0:%Y%m%d}.json"
        for loc in locs:
            dropped_hours = set(np.flatnonzero(rng.random(24) < 0.03).tolist())
            for slot in range(SLOTS):
                ts = d0 + dt.timedelta(minutes=10 * slot + int(rng.integers(0, 10)),
                                       seconds=int(rng.integers(0, 60)))
                if slot // 6 in dropped_hours or rng.random() < 0.03:
                    missed.append((loc, ts))
                    continue
                obs_id += 1
                method = "history" if rng.random() < 0.10 else "current"
                line = _payload(method, loc, obs_id, ts, *obs(ts))
                r = rng.random()
                if r < 0.002:
                    full.add(fname, _malformed(line))
                    continue
                full.add(fname, line, (loc, ts))
                if r < 0.012:   # re-delivery of the same observation
                    obs_id += 1
                    full.add(fname, _payload(method, loc, obs_id, ts, *obs(ts)), (loc, ts))
            for _ in range(int(rng.integers(0, 3))):
                full.add(fname, _error(rng))
        # rows dated after the cut-off land with the last day's file
    last = f"landed-{START + dt.timedelta(days=days - 1):%Y%m%d}.json"
    for k in range(locations * 4):
        obs_id += 1
        ts = now + dt.timedelta(minutes=int(rng.integers(1, 600)))
        full.add(last, _payload("history", locs[k % locations], obs_id, ts, *obs(ts)))

    # catch-up: late rows for missed slots in the last three days, plus
    # re-deliveries of stored rows (dropped by the anti-join) and noise
    recent = START + dt.timedelta(days=max(0, days - 3))
    for loc, ts in missed:
        if ts >= recent and rng.random() < 0.7:
            obs_id += 1
            method = "history" if rng.random() < 0.5 else "current"
            late.add("late.json", _payload(method, loc, obs_id, ts, *obs(ts)), (loc, ts))
    stored = [k for k in full.valid if k[1] >= recent]
    for i in rng.choice(len(stored), size=min(len(stored), 200), replace=False):
        loc, ts = stored[int(i)]
        obs_id += 1
        late.add("late.json", _payload("current", loc, obs_id, ts, *obs(ts)))
    for _ in range(5):
        late.add("late.json", _error(rng))
    late.add("late.json", _malformed(_payload("current", locs[0], obs_id + 1, now, 20.0, "Mist", 0.0)))
    return full, late, now, locs


def expected(full, late):
    """Exact row counts the reference pipeline must produce."""
    full_keys = set(full.valid)
    fresh_late = [k for k in late.valid if k not in full_keys]

    def gold(keys):
        hours = {}
        for loc, ts in keys:
            hours.setdefault((ts.strftime("%Y-%m-%d"), loc), set()).add(ts.hour)
        return {f"{d}|{loc}": len(h) for (d, loc), h in sorted(hours.items())}

    all_keys = full_keys | set(fresh_late)
    return {
        "full": {"bronze": len(full.valid), "silver": len(full_keys),
                 "gold": len(gold(full_keys))},
        "catchup": {"bronze": len(full.valid) + len(fresh_late),
                    "silver": len(all_keys), "gold": len(gold(all_keys))},
        "hours_present": gold(all_keys),
    }


def write(out_dir, seed, days=26, locations=27):
    """Write landing/, catchup/, dim.json and expected.json under out_dir."""
    full, late, now, locs = generate(seed, days, locations)
    full_bytes = full.write(os.path.join(out_dir, "landing"))
    late_bytes = late.write(os.path.join(out_dir, "catchup"))
    with open(os.path.join(out_dir, "dim.json"), "w") as f:
        for loc in locs:
            f.write(json.dumps({"c_custkey": loc, "c_name": f"Loc{loc}"}) + "\n")
    exp = expected(full, late)
    exp.update({"now": now.strftime("%Y-%m-%d %H:%M:%S"),
                "landed_bytes": full_bytes, "catchup_bytes": late_bytes,
                "landed_lines": sum(len(v) for v in full.files.values()),
                "catchup_lines": sum(len(v) for v in late.files.values())})
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(exp, f, sort_keys=True)
    return exp


if __name__ == "__main__":
    args = sys.argv[1:]
    print(json.dumps({k: v for k, v in write(args[0], int(args[1]),
                                             *[int(a) for a in args[2:]]).items()
                      if k != "hours_present"}))
