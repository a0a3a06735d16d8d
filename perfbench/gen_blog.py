"""Generate the blog benchmark's input: 400 k TCP flow records × 80
columns (9 real columns + 71 numeric fillers, so per-row parse cost
matches the reference's ~80-column CSV) in ONE gzip stream, which is
not splittable and so mirrors the reference's single sequential
reader. Flow records span 20 minutes of capture time over 1024 server
ports. The same shape as the repo's baseline reproduction, drawn from
``--seed`` instead of a fixed hash.

Also writes ``expected.parquet``: the ``top_tcp`` result computed by
DuckDB over the same CSV, the reference the benchmark checks against.

    python3 perfbench/gen_blog.py --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import gzip
import os

VERSION = 1
N_ROWS = 400_000
N_FILLER = 71
PORTS = 1024
REAL_COLS = [
    "capture_begin",  # microseconds
    "port_server",
    "ip4_client",
    "traffic_bytes_client",
    "traffic_bytes_server",
    "rtt_count_client",
    "rtt_count_server",
    "rtt_sum_client",
    "rtt_sum_server",
]
COLS = REAL_COLS + [f"filler_{i}" for i in range(N_FILLER)]
CHUNK = 50_000

# the DuckDB reference for the blog's top_tcp: one output row per
# (port, minute) group — every group's rows arrive before its commit,
# since the commit fires 80 s after the group's first row
EXPECTED_SQL = """
SELECT min(capture_begin) AS capture_begin, port_server,
       sum(traffic_bytes_client + traffic_bytes_server) AS traffic,
       sum(rtt_count_client + rtt_count_server) AS rtt_count,
       CASE WHEN sum(rtt_count_client + rtt_count_server) > 0
            THEN sum(rtt_sum_client + rtt_sum_server)::DOUBLE
                 / sum(rtt_count_client + rtt_count_server) END AS avg_rtt
FROM read_csv('{path}', header=false, columns={columns})
WHERE ip4_client IS NOT NULL
GROUP BY port_server, capture_begin // 60000000
"""


def generate(seed: int, out: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.csv as pacsv

    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "tcp"), exist_ok=True)
    path = os.path.join(out, "tcp", "part-00000.csv.gz")
    opts = pacsv.WriteOptions(include_header=False)
    with gzip.open(path, "wb", compresslevel=1) as fh:
        for lo in range(0, N_ROWS, CHUNK):
            n = min(CHUNK, N_ROWS - lo)
            ids = np.arange(lo, lo + n, dtype=np.int64)
            ip = rng.integers(0, 1 << 31, n)
            cols = {
                "capture_begin": 1_500_000_000_000_000 + ids * 3_000,
                "port_server": rng.integers(0, PORTS, n),
                "ip4_client": pa.array(ip, mask=(ids % 50 == 0)),
                "traffic_bytes_client": rng.integers(0, 100_000, n),
                "traffic_bytes_server": rng.integers(0, 100_000, n),
                "rtt_count_client": rng.integers(0, 10, n),
                "rtt_count_server": rng.integers(0, 10, n),
                "rtt_sum_client": rng.integers(0, 1_000_000, n),
                "rtt_sum_server": rng.integers(0, 1_000_000, n),
            }
            filler = rng.integers(0, 1_000_000, (N_FILLER, n))
            for i in range(N_FILLER):
                cols[f"filler_{i}"] = filler[i]
            pacsv.write_csv(pa.table(cols), fh, write_options=opts)
    expected(path, os.path.join(out, "expected.parquet"))


def expected(csv_path: str, out_path: str) -> None:
    import duckdb

    columns = "{" + ", ".join(f"'{c}': 'BIGINT'" for c in COLS) + "}"
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        f"COPY ({EXPECTED_SQL.format(path=csv_path, columns=columns)}) "
        f"TO '{out_path}' (FORMAT PARQUET)"
    )
    con.close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
