"""Input of the always-on workload, and the open-loop feeder that
delivers it.

``generate`` (the default) writes every CSV file the run will feed —
warm-up files, phase A files, the phase B bursts — plus
``manifest.json`` with each file's row count and its expected
``big_flows`` alert rows:

    python3 perfbench/gen_flows.py --seed 1 --out DIR --a-files N

``feed`` is the load generator: a separate single-threaded process
that moves phase A files into the watched directory one per period,
then each phase B burst at once, each file by write-then-rename, on a
schedule that does not slow when the engine does. It logs every
file's due time and write time (wall clock, JSON lines):

    python3 perfbench/gen_flows.py feed --src DIR --dst TCP_DIR \\
        --log LOG --start-at EPOCH_S

Traffic dimensions (fixed; see README.md): 1024 server ports, event
time advancing 60× faster than wall time, 2 rows per phase A file
every 80 ms (N files: the run's measured seconds / 80 ms), and a
phase B of three 10-file × 40-row bursts, 5 s apart.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

VERSION = 3
PORTS = 1024
WARMUP_FILES, WARMUP_ROWS = 10, 4
A_ROWS = 2
PERIOD_S = 0.08
B_BURSTS, B_FILES, B_ROWS = 3, 10, 40
B_GAP_S = 4.0  # the first burst is due this long after the last phase A file
B_EVERY_S = 5.0  # and each next burst this long after the previous one
SPEEDUP = 60  # event seconds per wall second
ALERT_BYTES = 150_000  # big_flows: client + server bytes above this
EPOCH_US = 1_500_000_000_000_000

COLS = [
    "seq", "capture_begin", "port_server", "ip4_client",
    "traffic_bytes_client", "traffic_bytes_server",
    "rtt_count_client", "rtt_count_server",
    "rtt_sum_client", "rtt_sum_server",
]


def plan(a_files: int) -> list[tuple[str, int]]:
    """(phase, rows) per file, in sequence-number order; phase B files
    are labelled B0, B1, … by burst."""
    return (
        [("warmup", WARMUP_ROWS)] * WARMUP_FILES
        + [("A", A_ROWS)] * a_files
        + [(f"B{k}", B_ROWS) for k in range(B_BURSTS) for _ in range(B_FILES)]
    )


def file_name(seq: int) -> str:
    return f"f-{seq:06d}.csv"


def generate(seed: int, out: str, a_files: int) -> None:
    import numpy as np

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    span_us = int(PERIOD_S * SPEEDUP * 1_000_000)  # event time per file
    files = []
    for seq, (phase, n) in enumerate(plan(a_files)):
        t = EPOCH_US + seq * span_us + np.sort(rng.integers(0, span_us, n))
        tc = rng.integers(0, 100_000, n)
        ts = rng.integers(0, 100_000, n)
        # every file holds at least one alert row (its first)
        tc[0], ts[0] = 90_000 + tc[0] % 10_000, 90_000 + ts[0] % 10_000
        rows = np.stack([
            np.full(n, seq), t, rng.integers(0, PORTS, n),
            rng.integers(0, 1 << 31, n), tc, ts,
            rng.integers(0, 10, n), rng.integers(0, 10, n),
            rng.integers(0, 1_000_000, n), rng.integers(0, 1_000_000, n),
        ], axis=1)
        with open(os.path.join(out, file_name(seq)), "w") as fh:
            for r in rows.tolist():
                fh.write(",".join(map(str, r)) + "\n")
        alerts = [
            [int(r[0]), int(r[1]), int(r[2]), int(r[4] + r[5])]
            for r in rows.tolist() if r[4] + r[5] > ALERT_BYTES
        ]
        files.append({"seq": seq, "phase": phase, "rows": n, "alerts": alerts})
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(files, fh)


def feed(src: str, dst: str, log: str, start_at: float) -> None:
    with open(os.path.join(src, "manifest.json")) as fh:
        files = [f for f in json.load(fh) if f["phase"] != "warmup"]
    tmp = dst.rstrip("/") + ".incoming"
    os.makedirs(tmp, exist_ok=True)
    a_files = [f for f in files if f["phase"] == "A"]
    # one step per phase A file, then one step per burst: its files are
    # all written first and renamed back to back, so a directory
    # listing sees all of them or none
    steps = [(start_at + i * PERIOD_S, [f]) for i, f in enumerate(a_files)]
    b_due = start_at + len(a_files) * PERIOD_S + B_GAP_S
    for k in range(B_BURSTS):
        burst = [f for f in files if f["phase"] == f"B{k}"]
        steps.append((b_due + k * B_EVERY_S, burst))
    with open(log, "w") as out:
        for due, group in steps:
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            names = [file_name(f["seq"]) for f in group]
            for name in names:
                shutil.copyfile(os.path.join(src, name), os.path.join(tmp, name))
            for name in names:
                os.rename(os.path.join(tmp, name), os.path.join(dst, name))
            written = time.time()
            for f in group:
                out.write(json.dumps({"seq": f["seq"], "due": due, "written": written}) + "\n")
            out.flush()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", nargs="?", default="generate", choices=("generate", "feed"))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--src")
    ap.add_argument("--dst")
    ap.add_argument("--log")
    ap.add_argument("--a-files", type=int)
    ap.add_argument("--start-at", type=float)
    a = ap.parse_args()
    if a.mode == "generate":
        generate(a.seed, a.out, a.a_files)
    else:
        feed(a.src, a.dst, a.log, a.start_at)
