#!/usr/bin/env python
"""Interleaved settings A/B for the CDC replay — old (round-3) vs new
(round-4+) configuration, same code, same pre-generated change log.

Usage:
    python scripts/ab_settings.py [cores] [events] [reps]
    # defaults: 8 cores, 30M events, 3 reps per variant

Method (the only reliable one on this noisy shared VM — see
BENCH/BASELINE.md "Noise discipline"): variants alternate within one
window (old, new, old, new, ...) so a contention burst hits both; each
rep is a fresh child process (`bench.py --cdc-child`) over the SAME
tmpfs change log (generated once up front at full parallelism);
/proc/stat steal%% is sampled around every rep. Report best-of and
best-at-<1%%-steal per variant.

The settings knobs are env overrides the engine already honors:
  old: zstd shuffle + zstd parquet, 10k Arrow IPC batches
  new: lz4 shuffle + snappy parquet, 64k Arrow IPC batches
(The fold's squash floor, 64k in round 3, is a constant of 512k rows now
and no longer varies between the variants.)
(The round-5 checked-in artifact BENCH/r5_ab_settings.json was captured
against a full round-3 checkout rather than env knobs — same knobs plus
that round's warmup; both methods agreed: new wins at 2 and 8 cores.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VARIANTS = {
    "old": {
        "SPARK_GRAFT_SHUFFLE_CODEC": "zstd",
        "SPARK_GRAFT_PARQUET_CODEC": "zstd",
        "SPARK_GRAFT_ARROW_BATCH": "10000",
    },
    "new": {},  # engine defaults
}


def _cpu():
    with open("/proc/stat") as f:
        p = f.readline().split()
    v = [int(x) for x in p[1:9]]
    return sum(v), v[7]  # total, steal


def _rep(variant: str, cores: int, events: int) -> dict:
    env = dict(os.environ)
    env.update(VARIANTS[variant])
    t0, s0 = _cpu()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--cdc-child",
         str(cores), str(events)],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=900,
    )
    t1, s1 = _cpu()
    steal = round(100.0 * (s1 - s0) / max(1, t1 - t0), 2)
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
    res = json.loads(line)
    res.update({"variant": variant, "steal_pct": steal})
    return res


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    events = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    os.environ.setdefault(
        "SPARK_GRAFT_SHARED_LOG_DIR",
        os.path.join(shm or "/tmp", "ab_settings_logs"),
    )
    os.makedirs(os.environ["SPARK_GRAFT_SHARED_LOG_DIR"], exist_ok=True)
    # generate the shared log once at full parallelism (both variants read it)
    subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--gen-child",
         str(os.cpu_count() or 8), str(events)],
        capture_output=True, text=True, cwd=REPO, env=dict(os.environ),
    )
    history: dict[str, list[dict]] = {v: [] for v in VARIANTS}
    for rep in range(reps):
        for variant in VARIANTS:
            r = _rep(variant, cores, events)
            history[variant].append(r)
            print(f"AB {variant} c{cores} rep{rep + 1} steal={r['steal_pct']} "
                  f"sec={r.get('sec', float('nan')):.2f}", flush=True)
    summary = {"cores": cores, "events": events}
    for variant, rs in history.items():
        best = min(rs, key=lambda r: r.get("sec", 1e9))
        quiet = [r for r in rs if r["steal_pct"] < 1.0]
        summary[variant] = {
            "reps_sec": [round(r.get("sec", float("nan")), 2) for r in rs],
            "reps_steal": [r["steal_pct"] for r in rs],
            "best_sec": round(best.get("sec", float("nan")), 2),
            "best_low_steal_sec": (
                round(min(quiet, key=lambda r: r["sec"])["sec"], 2) if quiet else None
            ),
        }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
