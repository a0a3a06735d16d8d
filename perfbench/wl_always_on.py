"""Workload ``always_on_top_tcp``: the always-on mode.

A four-function program is deployed with
``runner.deploy_program_streaming``: ``tcp`` tails a CSV directory,
``flows`` is stateless, ``top_tcp`` is the blog aggregate (its
check-all commit runs in ``streaming.commit``'s worker mode) and
``big_flows`` is a stateless threshold alert on ``flows``. Each
non-source function is its own streaming query with a parquet spool
in front of its children.

Phase A is an open loop: the feeder process (gen_flows.py feed) drops
one file per period at a rate the engine keeps up with. Phase B drops
bursts of files at once. An op is one input file.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime

import common as C
import gen_flows as G
import wl_blog

FNS = ("flows", "big_flows", "top_tcp")
DRAIN_TIMEOUT_S = 60


def program_text(tcp_dir: str) -> str:
    cols = ",\n    ".join(f"{c} u64?" for c in G.COLS)
    return (
        f'DEFINE tcp AS READ FROM FILE "{tcp_dir}" AS CSV (\n    {cols}\n);\n'
        "DEFINE flows AS SELECT "
        + ", ".join(G.COLS)
        + ", traffic_bytes_client + traffic_bytes_server AS bytes FROM tcp;\n"
        + wl_blog.TOP_TCP_RAQL.replace("FROM tcp", "FROM flows")
        + "DEFINE big_flows AS SELECT seq, capture_begin, port_server, bytes\n"
        f"  FROM flows WHERE bytes > {G.ALERT_BYTES};\n"
    )


def _progress(q) -> list[dict]:
    """The query's micro-batches that read input, as progress dicts."""
    batches = [json.loads(p.json) for p in q.recentProgress]
    return [b for b in batches if b["numInputRows"] > 0]


def _end_ts(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def _wait_rows(q, rows: int, timeout_s: float) -> bool:
    """Wait until query ``q`` has read ``rows`` rows in all."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in _progress(q)) >= rows:
            return True
        time.sleep(0.05)
    return False


def _commit_times(spool: str) -> dict[str, float]:
    """Parquet file basename → commit time (mtime of the sink log entry
    of the micro-batch that first listed it)."""
    meta = os.path.join(spool, "_spark_metadata")
    entries = []
    for e in os.listdir(meta):
        if e.split(".")[0].isdigit():
            entries.append((int(e.split(".")[0]), e))
    out: dict[str, float] = {}
    for _, e in sorted(entries):
        path = os.path.join(meta, e)
        t = os.stat(path).st_mtime
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                name = os.path.basename(json.loads(line)["path"])
                out.setdefault(name, t)
    return out


def _fold_ends(progress: list[dict], cum_rows: list[int]) -> list[float]:
    """End time of the top_tcp micro-batch that folded each file, by
    matching cumulative input rows against cumulative file sizes."""
    ends, acc, k = [], 0, 0
    batches = sorted(progress, key=lambda p: p["batchId"])
    for need in cum_rows:
        while k < len(batches) and acc + batches[k]["numInputRows"] < need:
            acc += batches[k]["numInputRows"]
            k += 1
        ends.append(_end_ts(batches[k]) if k < len(batches) else float("nan"))
    return ends


def _layer(progress: list[dict], fn: str) -> dict[str, float]:
    def p50(key: str) -> float:
        return C.median([p["durationMs"].get(key, 0) for p in progress])

    over = [
        p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
        for p in progress
    ]
    return {
        f"mb.{fn}.batches": len(progress),
        f"mb.{fn}.rows_in": sum(p["numInputRows"] for p in progress),
        f"mb.{fn}.add_batch_ms_p50": p50("addBatch"),
        f"mb.{fn}.overhead_ms_p50": C.median(over),
        f"mb.{fn}.wal_commit_ms_p50": p50("walCommit"),
        f"mb.{fn}.commit_offsets_ms_p50": p50("commitOffsets"),
        f"mb.{fn}.latest_offset_ms_p50": p50("latestOffset"),
    }


def _reap(proc: subprocess.Popen, timeout_s: float) -> float:
    """Wait for ``proc`` (killing it after ``timeout_s``); its CPU
    seconds."""
    deadline = time.time() + timeout_s
    while True:
        pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            break
        if time.time() > deadline:
            proc.kill()
            pid, status, ru = os.wait4(proc.pid, 0)
            break
        time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    return ru.ru_utime + ru.ru_stime


def _spool_size(spool: str) -> tuple[int, float]:
    files = [f for f in os.listdir(spool) if f.endswith(".parquet")]
    mb = sum(os.path.getsize(os.path.join(spool, f)) for f in files) / (1 << 20)
    return len(files), mb


def run(r: C.Run) -> tuple[bool, int, int, dict[str, float]]:
    a_files = round(r.seconds / G.PERIOD_S)  # phase A lasts the run's seconds
    src = r.input(f"flows{a_files}", G.VERSION, "gen_flows.py", ["--a-files", str(a_files)])
    with open(os.path.join(src, "manifest.json")) as fh:
        manifest = json.load(fh)
    root = os.path.join(C.WORK, "always_on")
    shutil.rmtree(root, ignore_errors=True)
    tcp_dir = os.path.join(root, "tcp")
    os.makedirs(tcp_dir)

    tr = r.tracer
    with tr.span("session.start"):
        spark = C.start_spark("bench_always_on_top_tcp")
    from ramen_spark.plans.raql import compile_program
    from ramen_spark.runner import deploy_program_streaming

    prog = compile_program(program_text(tcp_dir), name="always_on")
    with tr.span("runner.deploy"):
        deployed = deploy_program_streaming(
            spark, prog, os.path.join(root, "work"), {},
            order_cols={"top_tcp": ["capture_begin"]},
        )
    queries = {fn: deployed[fn][1] for fn in FNS}
    spools = {fn: deployed[fn][2] for fn in FNS}

    warm = [f for f in manifest if f["phase"] == "warmup"]
    fed = [f for f in manifest if f["phase"] != "warmup"]
    with tr.span("warmup"):
        for f in warm:
            shutil.copyfile(os.path.join(src, G.file_name(f["seq"])),
                            os.path.join(tcp_dir, G.file_name(f["seq"])))
        warm_rows = sum(f["rows"] for f in warm)
        ok = all(_wait_rows(queries[fn], warm_rows, DRAIN_TIMEOUT_S) for fn in FNS)
    if not ok:
        raise RuntimeError("warm-up files were not consumed")
    r.end_setup()

    log_path = os.path.join(root, "feed.jsonl")
    cpu0 = r.tree.cpu_s()
    t_start = time.time()
    feeder = subprocess.Popen([
        sys.executable, os.path.join(C.BENCH_DIR, "gen_flows.py"), "feed",
        "--src", src, "--dst", tcp_dir, "--log", log_path,
        "--start-at", str(t_start + 0.5),
    ])
    r.tree.exclude.add(feeder.pid)
    total_rows = sum(f["rows"] for f in manifest)
    feeder_cpu = _reap(feeder, a_files * G.PERIOD_S + G.B_GAP_S + G.B_BURSTS * G.B_EVERY_S + 30)
    drained = all(_wait_rows(queries[fn], total_rows, DRAIN_TIMEOUT_S) for fn in FNS)
    # the reaped feeder's CPU lands in this process's cutime: take it out
    cpu = r.tree.cpu_s() - cpu0 - feeder_cpu
    peak_mb = r.end_measure()
    C.log(f"fed and drained in {time.time() - t_start:.1f}s")
    progress = {fn: _progress(queries[fn]) for fn in FNS}
    for q in queries.values():
        q.stop()

    with open(log_path) as fh:
        sent = {e["seq"]: e for e in map(json.loads, fh)}
    attempted = len(fed)
    failed = sum(1 for f in fed if f["seq"] not in sent) + (0 if drained else 1)
    late = max(e["written"] - e["due"] for e in sent.values())
    if late > 0.2:
        C.log(f"the feeder ran up to {late:.2f}s late: this run's latencies are suspect")

    # latencies per fed file
    commits = _commit_times(spools["big_flows"])
    from pyspark.sql import functions as F

    alert_rows = (
        spark.read.parquet(spools["big_flows"])
        .withColumn("_file", F.input_file_name()).collect()
    )
    emit_at: dict[int, float] = {}
    for row in alert_rows:
        t = commits[os.path.basename(row["_file"])]
        emit_at[row["seq"]] = max(emit_at.get(row["seq"], 0.0), t)
    cum, acc = [], 0
    for f in manifest:
        acc += f["rows"]
        cum.append(acc)
    fold_end = _fold_ends(progress["top_tcp"], cum)
    emit, fold, done = [], [], []
    for f in fed:
        e = sent.get(f["seq"])
        if e is None:
            continue
        lag = fold_end[f["seq"]] - e["due"]
        fold.append(lag)
        if f["alerts"] and f["seq"] in emit_at:
            emit.append(emit_at[f["seq"]] - e["due"])
            done.append(max(lag, emit[-1]))
        else:
            done.append(lag)
    a_fed = [f for f in fed if f["phase"] == "A"]
    a_lag = [fold_end[f["seq"]] - sent[f["seq"]]["due"] for f in a_fed if f["seq"] in sent]
    half = len(a_lag) // 2
    C.log(f"phase A fold lag p50: first half {C.median(a_lag[:half]):.2f}s, "
          f"second half {C.median(a_lag[half:]):.2f}s (equal when the backlog does not grow)")
    a_last = fold_end[a_fed[-1]["seq"]]
    a_rows = sum(f["rows"] for f in a_fed)
    rows_per_s = a_rows / (a_last - sent[a_fed[0]["seq"]]["due"])
    # phase B: rows of all bursts / the summed time, per burst, from its
    # due time until top_tcp had folded its last file
    b_rows = b_time = 0.0
    for k in range(G.B_BURSTS):
        burst = [f for f in fed if f["phase"] == f"B{k}"]
        b_rows += sum(f["rows"] for f in burst)
        b_time += fold_end[burst[-1]["seq"]] - sent[burst[0]["seq"]]["due"]

    # output checks: big_flows equals the expected alert rows exactly;
    # every committed top_tcp row equals the batch row of its group
    got_alerts = sorted(
        (x["seq"], x["capture_begin"], x["port_server"], x["bytes"]) for x in alert_rows
    )
    want_alerts = sorted(tuple(a) for f in manifest for a in f["alerts"])
    with tr.span("check.batch"):
        batch = {
            wl_blog.group_key(x["capture_begin"], x["port_server"]): x.asDict()
            for x in prog.materialize(spark, register_views=False)["top_tcp"].collect()
        }
    committed = [x.asDict() for x in spark.read.parquet(spools["top_tcp"]).collect()]
    def matches(x: dict) -> bool:
        k = wl_blog.group_key(x["capture_begin"], x["port_server"])
        return k in batch and wl_blog.same_rows([x], [batch[k]])

    top_ok = bool(committed) and all(matches(x) for x in committed)
    correct = failed == 0 and got_alerts == want_alerts and top_ok
    if not correct:
        C.log(f"check: failed={failed} alerts_equal={got_alerts == want_alerts} "
              f"top_tcp_equal={top_ok} ({len(committed)} committed rows)")

    v = {
        "setup_s": r.setup_s,
        "op_p50_s": C.median(done),
        "rows_per_s": rows_per_s,
        "emit_p50_s": C.median(emit),
        "emit_p90_s": C.percentile(emit, 0.9),
        "fold_lag_p50_s": C.median(fold),
        "drain_rows_per_s": b_rows / b_time,
        "cpu_s_per_op": cpu / max(1, attempted),
        "peak_rss_mb": peak_mb,
    }
    if r.trace:
        for fn in FNS:
            v.update(_layer(progress[fn], fn))
            v[f"spool.{fn}.files"], v[f"spool.{fn}.mb"] = _spool_size(spools[fn])
        top = progress["top_tcp"]
        add_s = sum(p["durationMs"].get("addBatch", 0) for p in top) / 1000.0
        states = [p["stateOperators"][0] for p in top]
        v.update({
            "session.start_s": tr.p50("session.start"),
            "warmup_s": tr.p50("warmup"),
            "runner.deploy_s": tr.p50("runner.deploy"),
            "commit.fold_rows_per_s": sum(p["numInputRows"] for p in top) / add_s,
            "commit.state_mb": max(s["memoryUsedBytes"] for s in states) / (1 << 20),
            "commit.state_commit_ms_p50": C.median([s["commitTimeMs"] for s in states]),
            "commit.rows_out": len(committed),
            "gen.late_max_s": late,
            "trace.op_p50_s": v["op_p50_s"],
            "trace.overhead_s_per_op": tr.cost_s / max(1, attempted),
        })
    C.stop_spark(spark)
    r.finish()
    return correct, attempted, failed, v
