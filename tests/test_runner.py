"""deploy_program (runner.py): the `ramen run` + archivist + reader
wiring in one call — compile a RaQL program with PERSIST FOR and
FACTORS, deploy it, and serve it through the Graphite/JSON-RPC
surface with retention enforced."""

from __future__ import annotations

import pytest

from ramen_spark.api import metrics_find, render
from ramen_spark.plans.raql import compile_program
from ramen_spark.runner import deploy_program
from ramen_spark.sources.archive import DT_SECONDS

DAY = float(DT_SECONDS)
DAY0 = 100 * DAY


def test_deploy_archives_serves_and_retains(spark, tmp_path):
    text = """
DEFINE PERSIST FOR 5d traffic AS
  SELECT start, stop, iface, sum bytes AS bytes
  FROM src
  GROUP BY iface, start // 3600
  COMMIT AFTER in.start > out.stop
  FACTORS iface;
"""
    prog = compile_program(text, name="net")
    rows = [
        (DAY0 + d * DAY + h * 3600.0, DAY0 + d * DAY + (h + 1) * 3600.0,
         iface, float(100 * d + h))
        for d in range(10)
        for h in (0, 6)
        for iface in ("eth0", "eth1")
    ]
    src = spark.createDataFrame(
        rows, "start double, stop double, iface string, bytes double"
    )
    dfs, cat = deploy_program(
        spark, prog, str(tmp_path), externals={"src": src},
        now_seconds=DAY0 + 10 * DAY,
    )

    # archived with factor partitioning, retention drops old days:
    # horizon = now - 5d → days 0-4 gone, 5-9 kept
    import os

    root = tmp_path / "net" / "traffic"
    dts = sorted(p for p in os.listdir(root) if p.startswith("dt="))
    assert len(dts) == 5
    assert min(int(p.split("=")[1]) for p in dts) >= 105
    assert any("iface=eth0" in str(p) for p in (root / dts[0]).iterdir())

    # the serving surface picks the table up with zero extra wiring
    assert cat.tables() == {"net/traffic": ""}
    got = metrics_find(spark, cat, "net.traffic.*")
    assert [m["text"] for m in got] == ["eth0", "eth1"]
    out = render(
        spark, cat, ["net.traffic.eth0.bytes"],
        since=DAY0 + 5 * DAY, until=DAY0 + 6 * DAY, max_data_points=24,
    )
    vals = [v for v, _ in out[0]["datapoints"] if v is not None]
    # day 5 hourly sums at h=0 and h=6: 500 and 506
    assert vals == [500.0, 506.0]


def test_deploy_skips_non_persistent(spark, tmp_path):
    prog = compile_program(
        "DEFINE f AS SELECT a, b FROM src;", name="p"
    )
    src = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    dfs, cat = deploy_program(
        spark, prog, str(tmp_path), externals={"src": src}
    )
    assert cat.tables() == {}
    assert dfs["f"].count() == 1


def test_archive_stream_lands_partitioned(spark, tmp_path):
    """archive_stream: a live stream lands in the same day+factor
    partition layout batch archives use; replay and the serving
    surface read it unchanged."""
    from pyspark.sql import functions as F

    from ramen_spark.sources.archive import archive_stream, replay

    rows = [
        (DAY0 + d * DAY + 10.0, iface, float(d))
        for d in range(4)
        for iface in ("eth0", "eth1")
    ]
    src = tmp_path / "src"
    spark.createDataFrame(
        rows, "start double, iface string, bytes double"
    ).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(
        "start double, iface string, bytes double"
    ).parquet(str(src))
    q = archive_stream(
        stream, str(tmp_path / "arch"), str(tmp_path / "ckpt"),
        time_col="start", factors=["iface"],
    )
    q.processAllAvailable()
    q.stop()

    import os

    root = tmp_path / "arch"
    dts = sorted(p for p in os.listdir(root) if p.startswith("dt="))
    assert len(dts) == 4
    assert any("iface=eth1" in str(p) for p in (root / dts[0]).iterdir())
    sl = replay(spark, str(root), DAY0 + DAY, DAY0 + 3 * DAY, time_col="start")
    assert sorted(r["bytes"] for r in sl.collect()) == [1.0, 1.0, 2.0, 2.0]


def test_deploy_program_streaming_chain(spark, tmp_path):
    """The always-on mode: each function of a two-function RaQL
    program runs as its own streaming query with its own parquet spool
    (per-function queries = the reference's one-worker-per-function
    model), the fold reading the source through the inlined stateless
    ``big``; results match the batch materialization of the SAME
    program."""
    from pyspark.sql import functions as F

    from ramen_spark.runner import deploy_program_streaming

    text = """
DEFINE big AS
  SELECT ts, user, value
  FROM src
  WHERE value >= 10;

DEFINE per_user AS
  SELECT user, sum value AS total, count value AS n
  FROM big
  GROUP BY user
  COMMIT AFTER count value >= 3;
"""
    prog = compile_program(text, name="p")
    rows = [
        (float(i), ["u1", "u2"][i % 2], float(5 + i)) for i in range(20)
    ]
    src_dir = tmp_path / "srcdata"
    src_batch = spark.createDataFrame(rows, "ts double, user string, value double")
    src_batch.coalesce(1).write.parquet(str(src_dir))

    stream = spark.readStream.schema(src_batch.schema).parquet(str(src_dir))
    deployed = deploy_program_streaming(
        spark, prog, str(tmp_path / "work"), {"src": stream}
    )
    try:
        for name in ("big", "per_user"):
            deployed[name][1].processAllAvailable()
        got = sorted(
            (r["user"], r["total"], r["n"])
            for r in spark.read.parquet(deployed["per_user"][2]).collect()
        )
    finally:
        for _, q, _ in deployed.values():
            q.stop()

    exp_dfs = prog.materialize(
        spark, externals={"src": src_batch}, register_views=False
    )
    exp = sorted(
        (r["user"], r["total"], r["n"]) for r in exp_dfs["per_user"].collect()
    )
    assert got == exp and len(got) > 0


def test_count_spec_runs_fully_streaming(spark, tmp_path):
    """CAPSTONE: the reference's own count.ramen — DISTINCT counting,
    nullable predicates, check-all commit on manufacturer change —
    deployed as LIVE STREAMS (deploy_program_streaming: CSV tail →
    worker-mode stateful query → parquet spool), checked against the
    count.test present tuples."""
    import os

    from ramen_spark.runner import deploy_program_streaming

    FUNC = "/root/reference/tests/func"
    if not os.path.isdir(FUNC):
        pytest.skip("reference checkout absent")
    from tests.test_func_corpus import _fixture

    cars_schema = _fixture(spark, "cars").schema
    cars_stream = (
        spark.readStream.schema(cars_schema)
        .format("csv")
        .option("sep", ",")
        .option("pathGlobFilter", "cars.csv")
        .load(os.path.join(FUNC, "fixtures"))
    )
    prog = compile_program(
        open(os.path.join(FUNC, "count.ramen")).read(), name="count",
        base_dir=FUNC,
    )
    deployed = deploy_program_streaming(
        spark, prog, str(tmp_path / "work"),
        {"fixtures/cars/csv": cars_stream},
        order_cols={"f": []},  # arrival order within the one batch
    )
    try:
        deployed["f"][1].processAllAvailable()
        rows = {
            r["manufacturer"]: r
            for r in spark.read.parquet(deployed["f"][2]).collect()
        }
    finally:
        for _, q, _ in deployed.values():
            if q is not None:
                q.stop()

    am = rows["aston martin"]
    assert (am["num_lines"], am["num_models"], am["num_power_cars"],
            am["num_eco_cars"], am["num_eco_cars_nullable"]) == (8, 3, 8, 1, 1)
    mm = rows["Mitsubishi Motors Co"]
    assert (mm["num_lines"], mm["num_models"], mm["num_power_cars"],
            mm["num_eco_cars"], mm["num_eco_cars_nullable"]) == (39, 9, 0, 32, None)


def test_deploy_streaming_yield_clock_is_live(spark, tmp_path):
    """YIELD/EVERY functions run as REAL rate streams in the always-on
    mode (no injection needed): the clock drives the previous-chained
    recurrence live, and a downstream function consumes the spool."""
    import time

    from ramen_spark.runner import deploy_program_streaming

    text = """
DEFINE gen AS
  YIELD 1 + (previous.x |? 0) AS x
  EVERY 0.05s;

DEFINE doubled AS
  SELECT x, x * 2 AS y
  FROM gen;
"""
    prog = compile_program(text, name="clockp")
    deployed = deploy_program_streaming(
        spark, prog, str(tmp_path / "work"), {}
    )
    try:
        # POLL the spool — never processAllAvailable() on a live rate
        # stream: the clock produces a new tick every 0.05 s, so if a
        # micro-batch ever takes longer than the tick interval the
        # stream is permanently backlogged and processAllAvailable
        # livelocks (observed: 260+ batches, test hung). The chained
        # queries make progress on their own triggers; the spool fills
        # without being flushed from here.
        deadline = time.time() + 60
        rows = []
        spool = deployed["doubled"][2]
        schema = deployed["doubled"][0].schema
        while time.time() < deadline:
            time.sleep(2)
            try:
                rows = spark.read.schema(schema).parquet(spool).collect()
            except Exception:
                rows = []  # spool dir not created yet
            if len(rows) >= 5:
                break
        assert len(rows) >= 5
        xs = sorted(r["x"] for r in rows)
        # the previous-chain counts 1, 2, 3, … and y doubles it
        assert xs[:3] == [1, 2, 3]
        assert all(r["y"] == 2 * r["x"] for r in rows)
    finally:
        for _, q, _ in deployed.values():
            if q is not None:
                q.stop()


# ---------------------------------------------------------------------------
# state partitions of the always-on queries
# ---------------------------------------------------------------------------

# ``win`` is check-all (worker mode, cond0 heap); its aggregate
# conjunct also sends batch materialize to the COMMIT engine, which
# run-to-completion grouping would bypass. ``total`` folds with no
# GROUP BY, ``per_k`` per group.
STATE_PROG = """
DEFINE win AS
  SELECT min ts AS t0, max ts AS t1, k, count 1 AS n, sum v AS s
  FROM src
  GROUP BY k
  COMMIT AFTER in.ts > out.t0 + 6 AND count 1 >= 2;

DEFINE total AS
  SELECT min ts AS t0, count 1 AS n, sum v AS s
  FROM src
  COMMIT AFTER sum 1 >= 4;

DEFINE per_k AS
  SELECT k, min ts AS t0, count 1 AS n, sum v AS s
  FROM src
  GROUP BY k
  COMMIT AFTER sum 1 >= 3;
"""


def _state_rows(lo: int, hi: int) -> list[tuple]:
    # unique ts: the batch and worker folds agree only without ties
    return [(float(i), "abc"[i * 7 % 3], float(i % 5)) for i in range(lo, hi)]


def _state_partitions(q) -> int:
    return q.recentProgress[-1].stateOperators[0].numShufflePartitions


def _sorted_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _expected(spark, prog, src_dir) -> dict[str, list[tuple]]:
    batch = prog.materialize(
        spark, externals={"src": spark.read.parquet(src_dir)},
        register_views=False,
    )
    return {fn: _sorted_rows(batch[fn]) for fn in prog.functions}


def test_constant_key_folds_start_with_one_state_partition(spark, tmp_path):
    """Check-all worker mode and the no-GROUP-BY fold keep their state
    under one constant key, so their queries start with one state
    partition; a keyed per-group fold keeps the session's count. The
    session conf is the same after the deploy, and every spool equals
    the batch materialization."""
    from ramen_spark.runner import deploy_program_streaming

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    prog = compile_program(STATE_PROG, name="parts")
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(_state_rows(0, 40), "ts double, k string, v double") \
        .coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema("ts double, k string, v double").parquet(src_dir)
    deployed = deploy_program_streaming(
        spark, prog, str(tmp_path / "work"), {"src": stream}
    )
    try:
        assert spark.conf.get(key) == before
        got, parts = {}, {}
        for fn in ("win", "total", "per_k"):
            q = deployed[fn][1]
            q.processAllAvailable()
            parts[fn] = _state_partitions(q)
            got[fn] = _sorted_rows(spark.read.parquet(deployed[fn][2]))
    finally:
        for _, q, _ in deployed.values():
            q.stop()
    assert parts == {"win": 1, "total": 1, "per_k": int(before)}
    exp = _expected(spark, prog, src_dir)
    assert all(exp.values()) and got == exp


def test_existing_checkpoint_keeps_its_state_partitions(spark, tmp_path):
    """A worker-mode checkpoint created with the session's count (as
    every deploy did before constant-key queries took one partition)
    restarts through the runner with that count, and its state carries
    over: the output over both input files equals batch."""
    import os

    from ramen_spark.plans.raql import compile_commit_streaming
    from ramen_spark.runner import deploy_program_streaming

    schema = "ts double, k string, v double"
    prog = compile_program(STATE_PROG.split("DEFINE total")[0], name="old")
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(_state_rows(0, 20), schema).coalesce(1) \
        .write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    work = str(tmp_path / "work")
    q = (
        compile_commit_streaming(prog.functions["win"].op, stream, order_cols=["ts"])
        .writeStream.format("parquet")
        .option("path", os.path.join(work, "old", "win"))
        .option("checkpointLocation", os.path.join(work, "_ckpt", "old", "win"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        count = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert _state_partitions(q) == count
    finally:
        q.stop()

    spark.createDataFrame(_state_rows(20, 40), schema).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    deployed = deploy_program_streaming(spark, prog, work, {"src": stream})
    q = deployed["win"][1]
    try:
        q.processAllAvailable()
        assert q.recentProgress[-1].numInputRows == 20
        assert _state_partitions(q) == count
        got = _sorted_rows(spark.read.parquet(deployed["win"][2]))
    finally:
        q.stop()
    exp = _expected(spark, prog, src_dir)["win"]
    # a window that opened in the first file commits in the second
    assert any(t0 < 20 <= t1 for t0, t1, *_ in exp)
    assert got == exp


# ---------------------------------------------------------------------------
# inlined stateless parents
# ---------------------------------------------------------------------------

# ``clean`` and ``wide`` are stateless, so ``win`` and ``alert`` read
# the source through them; ``noisy`` draws RANDOM and ``sorted`` holds
# a SORT LAST buffer, so their children read their spools.
INLINE_PROG = """
DEFINE clean AS
  SELECT ts, k, v, v * 2 AS v2
  FROM src
  WHERE v >= 1;

DEFINE wide AS
  SELECT ts, k, v, v + v2 AS v3
  FROM clean;

DEFINE win AS
  SELECT min ts AS t0, max ts AS t1, k, count 1 AS n, sum v3 AS s
  FROM wide
  GROUP BY k
  COMMIT AFTER in.ts > out.t0 + 6 AND count 1 >= 2;

DEFINE alert AS
  SELECT ts, k, v3 FROM wide WHERE v3 > 9;

DEFINE noisy AS
  SELECT ts, k, v, random AS r FROM src;

DEFINE noisy_child AS
  SELECT ts, r FROM noisy WHERE v > 2;

DEFINE sorted AS
  SELECT ts, k, v FROM src SORT LAST 3 BY ts;

DEFINE sorted_child AS
  SELECT ts, v * 10 AS v10 FROM sorted;
"""


def test_stateless_parents_are_inlined(spark, tmp_path):
    """A child of a stateless function reads the nearest durable
    stream: the fold and the alert read the source directory through
    ``clean`` and ``wide``, while the children of a RANDOM function
    and of a SORT LAST function read their parents' spools. Every
    function still fills its own spool, equal to batch."""
    import os

    from ramen_spark.runner import deploy_program_streaming

    prog = compile_program(INLINE_PROG, name="inl")
    src_dir = str(tmp_path / "src")
    schema = "ts double, k string, v double"
    spark.createDataFrame(_state_rows(0, 40), schema).coalesce(1) \
        .write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    deployed = deploy_program_streaming(
        spark, prog, str(tmp_path / "work"), {"src": stream}
    )
    try:
        got, reads = {}, {}
        for fn in prog._topo_order():
            _, q, spool = deployed[fn]
            q.processAllAvailable()
            reads[fn] = q.lastProgress["sources"][0]["description"]
            got[fn] = _sorted_rows(spark.read.parquet(spool))
    finally:
        for _, q, _ in deployed.values():
            q.stop()

    def reads_dir(fn, path):
        return reads[fn].rstrip("]").endswith(os.path.abspath(path))

    assert reads_dir("win", src_dir) and reads_dir("alert", src_dir)
    assert reads_dir("noisy_child", deployed["noisy"][2])
    assert reads_dir("sorted_child", deployed["sorted"][2])
    # one RANDOM draw per row: the child's values are the spool's
    noisy = {(ts, r) for ts, _, _, r in got["noisy"]}
    assert got["noisy_child"] and set(got["noisy_child"]) <= noisy
    exp = _expected(spark, prog, src_dir)
    for fn in ("noisy", "noisy_child"):
        got[fn] = [row[:-1] for row in got[fn]]
        exp[fn] = [row[:-1] for row in exp[fn]]
    assert all(exp.values()) and got == exp


def test_spool_reading_checkpoint_keeps_its_spool(spark, tmp_path):
    """A child whose checkpoint was started reading a stateless
    parent's spool keeps reading it after a redeploy: restarted on the
    source, its file-source log would accept the source directory and
    re-read every file. The output over both input files has no
    duplicated row and equals batch."""
    import os

    from ramen_spark.plans.raql import compile_operation
    from ramen_spark.runner import deploy_program_streaming

    schema = "ts double, k string, v double"
    prog = compile_program(INLINE_PROG.split("DEFINE win")[0] + """
DEFINE alert AS
  SELECT ts, k, v3 FROM wide WHERE v3 > 9;
""", name="old")
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(_state_rows(0, 20), schema).coalesce(1) \
        .write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    work = str(tmp_path / "work")

    # the deploy's wiring before stateless parents were inlined: each
    # function reads its parent's spool
    src = stream
    for fn in ("clean", "wide", "alert"):
        spool = os.path.join(work, "old", fn)
        compiled = compile_operation(prog.functions[fn].op, src)
        q = (
            compiled.writeStream.format("parquet")
            .option("path", spool)
            .option("checkpointLocation", os.path.join(work, "_ckpt", "old", fn))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        src = (
            spark.readStream.schema(compiled.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(spool)
        )

    spark.createDataFrame(_state_rows(20, 40), schema).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    deployed = deploy_program_streaming(spark, prog, work, {"src": stream})
    try:
        for fn in ("clean", "wide", "alert"):
            deployed[fn][1].processAllAvailable()
        got = _sorted_rows(spark.read.parquet(deployed["alert"][2]))
    finally:
        for _, q, _ in deployed.values():
            q.stop()
    assert len(set(got)) == len(got)
    assert got == _expected(spark, prog, src_dir)["alert"] and got


def test_live_csv_tail_reads_long_and_null_cells(spark, tmp_path):
    """The live CSV tail's small parser buffer refills: a cell much
    longer than the buffer and a NULL cell stream in as batch
    materialize reads them."""
    from ramen_spark.runner import _CSV_BUFFER_CHARS, deploy_program_streaming

    long = "x" * 100_000
    assert len(long) > _CSV_BUFFER_CHARS
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "data.csv").write_text(
        f"1,a,1.5\n2,{long},\n3,,2.5\n4,{long[:17]},3.5\n"
    )
    prog = compile_program(f"""
DEFINE raw AS
  READ FROM FILE "{csv_dir / 'data.csv'}" AS CSV (
    n u32, s string?, f float?
  );

DEFINE rows AS
  SELECT n, s, f FROM raw;
""", name="csvp")
    deployed = deploy_program_streaming(spark, prog, str(tmp_path / "work"), {})
    q = deployed["rows"][1]
    try:
        q.processAllAvailable()
        got = _sorted_rows(spark.read.parquet(deployed["rows"][2]))
    finally:
        q.stop()
    exp = _sorted_rows(prog.materialize(spark, register_views=False)["rows"])
    assert got == exp
    assert [len(s or "") for _, s, _ in got] == [1, 100_000, 0, 17]
