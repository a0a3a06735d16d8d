"""Workload ``blog_top_tcp``: the reference's own published benchmark.

Closed loop, one client: each op compiles the blog's ``top_tcp`` RaQL
text (verbatim) plus an 80-column CSV reader, materializes the program
and counts the result, over 400 k rows in one gzip stream. The work is
single-reader decompress and parse, then the RaQL batch aggregate; the
fold engine, spools and dedup are not on this path.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import common as C
import gen_blog

WARMUP_OPS = 3

# site/blog/2019-02.php "Ramen vs KSQL", verbatim
TOP_TCP_RAQL = """
DEFINE top_tcp AS
  SELECT
    min capture_begin AS capture_begin,
    port_server,
    SUM(traffic_bytes_client + traffic_bytes_server) AS traffic,
    SUM(rtt_count_client + rtt_count_server) AS rtt_count,
    CASE WHEN rtt_count > 0 THEN
           SUM(rtt_sum_client + rtt_sum_server) / rtt_count
    END AS avg_rtt
  FROM tcp
  WHERE ip4_client IS NOT NULL
  GROUP BY port_server, capture_begin // 60_000_000
  COMMIT AFTER
    in.capture_begin > out.capture_begin + 80_000_000;
"""


def reader_raql(path: str) -> str:
    """The tcp CSV reader with all 80 columns declared, so every column
    is parsed as the reference's reader did."""
    fields = [
        "capture_begin u64?", "port_server u32?", "ip4_client u32?",
        "traffic_bytes_client u64?", "traffic_bytes_server u64?",
        "rtt_count_client u64?", "rtt_count_server u64?",
        "rtt_sum_client u64?", "rtt_sum_server u64?",
    ] + [f"filler_{i} u64?" for i in range(gen_blog.N_FILLER)]
    cols = ",\n    ".join(fields)
    return f'DEFINE tcp AS READ FROM FILE "{path}" AS CSV (\n    {cols}\n);\n'


def group_key(capture_begin, port) -> tuple[int, int]:
    """top_tcp's group: (server port, capture minute)."""
    return int(port), int(capture_begin) // 60_000_000


def same_rows(got: list[dict], want: list[dict]) -> bool:
    """top_tcp rows equal per (port, minute) group: integers exactly,
    the average to 1e-9 relative."""
    g = {group_key(r["capture_begin"], r["port_server"]): r for r in got}
    w = {group_key(r["capture_begin"], r["port_server"]): r for r in want}
    if g.keys() != w.keys():
        return False
    for k, a in g.items():
        b = w[k]
        for c in ("capture_begin", "port_server", "traffic", "rtt_count"):
            if int(a[c]) != int(b[c]):
                return False
        x, y = a["avg_rtt"], b["avg_rtt"]
        if (x is None) != (y is None):
            return False
        if x is not None and abs(float(x) - float(y)) > 1e-9 * max(1.0, abs(float(y))):
            return False
    return True


def run(r: C.Run) -> tuple[bool, int, int, dict[str, float]]:
    import pyarrow.parquet as pq

    data = r.input("blog", gen_blog.VERSION, "gen_blog.py")
    csv = os.path.join(data, "tcp", "part-00000.csv.gz")
    want = pq.read_table(os.path.join(data, "expected.parquet")).to_pylist()

    tr = r.tracer
    with tr.span("session.start"):
        spark = C.start_spark("bench_blog_top_tcp")
    from ramen_spark.plans.raql import compile_program

    text = reader_raql(csv) + TOP_TCP_RAQL
    ex = C.ExecStats(spark) if r.trace else None
    exec_ops: list[dict] = []

    def op(i: int):
        with tr.span("op", i):
            prog = compile_program(text, name="ramen_vs_ksql")
            with tr.span("program.materialize", i):
                out = prog.materialize(spark, register_views=False)["top_tcp"]
            with tr.span("exec.run", i):
                n = out.count()
        return n, out

    with tr.span("warmup"):
        for i in range(WARMUP_OPS):
            op(-1 - i)
    r.end_setup()

    lat: list[float] = []
    attempted = failed = 0
    last = None
    cpu0 = r.tree.cpu_s()
    t_start = time.perf_counter()
    deadline = t_start + r.seconds
    while time.perf_counter() < deadline:
        attempted += 1
        t0 = time.perf_counter()
        try:
            with ex.op(f"op{attempted}", exec_ops) if ex else nullcontext():
                n, last = op(attempted)
        except Exception as e:  # a failed op counts against the run
            C.log(f"op {attempted} failed: {e!r}")
            failed += 1
            continue
        lat.append(time.perf_counter() - t0)
        if n != len(want):
            C.log(f"op {attempted}: {n} groups, expected {len(want)}")
            failed += 1
    wall = time.perf_counter() - t_start
    cpu = r.tree.cpu_s() - cpu0
    C.log("op latencies (s): " + " ".join(f"{x:.3f}" for x in lat))
    peak_mb = r.end_measure()

    correct = failed == 0 and last is not None and same_rows(
        [row.asDict() for row in last.collect()], want)

    ok = attempted - failed
    rows_per_s = gen_blog.N_ROWS * ok / wall
    p50 = C.median(lat)
    v = {
        "setup_s": r.setup_s,
        "op_p50_s": p50,
        "rows_per_s": rows_per_s,
        # closed loop: an op is due when sent and its result is
        # emitted, folded and drained when it returns
        "emit_p50_s": p50,
        "emit_p90_s": C.percentile(lat, 0.9),
        "fold_lag_p50_s": p50,
        "drain_rows_per_s": rows_per_s,
        "cpu_s_per_op": cpu / max(1, attempted),
        "peak_rss_mb": peak_mb,
    }
    if r.trace:
        # the reader alone: a program holding only the CSV function
        scan = compile_program(reader_raql(csv), name="csv_scan")
        for i in range(2):
            with tr.span("sources.csv_scan", i):
                scan.materialize(spark, register_views=False)["tcp"].count()
        v.update(C.exec_metrics(exec_ops))
        v.update({
            "session.start_s": tr.p50("session.start"),
            "warmup_s": tr.p50("warmup"),
            "program.materialize_s": tr.p50("program.materialize"),
            "sources.csv_scan_s": tr.p50("sources.csv_scan"),
            "exec.run_s": tr.p50("exec.run"),
            "trace.op_p50_s": p50,
            "trace.overhead_s_per_op": (tr.cost_s + ex.cost_s) / max(1, attempted),
        })
    C.stop_spark(spark)
    r.finish()
    return correct, attempted, failed, v
