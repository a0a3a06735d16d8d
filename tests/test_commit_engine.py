"""General COMMIT/FLUSH engine semantics (operators.aggregate) —
parity with the reference's windowing model (SURVEY §2.2 COMMIT row;
runtime src/CodeGenLib_Skeletons.ml:620-695):

- COMMIT AFTER + FLUSH: emit when cond holds, reset group.
- COMMIT AFTER + KEEP: emit, retain state (running totals).
- COMMIT BEFORE: emit the PRE-update aggregate, reseed with the
  current tuple.
- ``previous`` (= local_last): the group's last committed output is
  visible to conditions/finalizers.
"""

from __future__ import annotations

import pytest

from ramen_spark.operators.aggregate import commit_aggregate


@pytest.fixture(scope="module")
def stream(spark):
    # (key, seq, x): two keys, 6 tuples each, x = seq
    rows = [(k, i, float(i)) for k in ("a", "b") for i in range(6)]
    return spark.createDataFrame(rows, "k string, seq long, x double")


def _run(stream, **kw):
    base = dict(
        key_cols=["k"],
        order_col="seq",
        init_state=lambda: {"n": 0, "sum": 0.0},
        output_schema="k string, n long, sum double",
    )
    base.update(kw)

    def update(st, row):
        st["n"] += 1
        st["sum"] += row["x"]

    base.setdefault("update", update)
    base.setdefault(
        "finalize", lambda st, row, prev: {"k": row["k"], "n": st["n"], "sum": st["sum"]}
    )
    return commit_aggregate(stream, **base)


def test_commit_after_every_3_flush(stream):
    # commit when the group holds 3 tuples, flush → 2 windows per key
    out = _run(stream, commit_cond=lambda st, row, prev: st["n"] >= 3)
    rows = {(r["k"], r["sum"]) for r in out.collect()}
    # windows: seq 0,1,2 (sum 3) and 3,4,5 (sum 12) per key
    assert rows == {("a", 3.0), ("a", 12.0), ("b", 3.0), ("b", 12.0)}


def test_commit_after_keep_running_totals(stream):
    # KEEP: state never reset → running totals at every 2nd tuple
    out = _run(stream, commit_cond=lambda st, row, prev: st["n"] % 2 == 0, flush=False)
    a = sorted(r["sum"] for r in out.collect() if r["k"] == "a")
    # after seq1: 0+1=1; seq3: +2+3=6; seq5: +4+5=15
    assert a == [1.0, 6.0, 15.0]


def test_commit_before_emits_pre_update(stream):
    # BEFORE with cond 'group full (3)' → emits the 3-tuple aggregate
    # when the 4th arrives, group reseeded with the 4th
    out = _run(
        stream,
        commit_before=True,
        commit_cond=lambda st, row, prev: st["n"] >= 3,
    )
    a = sorted(r["sum"] for r in out.collect() if r["k"] == "a")
    # first emit on arrival of seq3: sum(0,1,2)=3; then seq 3,4,5
    # accumulate; no further arrival → window (3,4,5) never emits
    assert a == [3.0]


def test_previous_visible_to_condition(stream):
    # commit when sum exceeds previous committed sum by > 5 (previous
    # starts NULL → treat as 0)
    def cond(st, row, prev):
        prev_sum = prev["sum"] if prev else 0.0
        return st["sum"] - prev_sum > 5

    out = _run(stream, commit_cond=cond, flush=False)
    a = [r["sum"] for r in sorted(out.collect(), key=lambda r: r["sum"]) if r["k"] == "a"]
    # running sums: 0,1,3,6,10,15 → emit at 6 (Δ6>5) then 15 (Δ9>5)
    assert a == [6.0, 15.0]


def test_single_global_group(spark):
    rows = [(i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "seq long, x double")
    out = commit_aggregate(
        df,
        key_cols=[],
        order_col="seq",
        init_state=lambda: {"n": 0, "sum": 0.0},
        update=lambda st, row: (st.__setitem__("n", st["n"] + 1), st.__setitem__("sum", st["sum"] + row["x"]))[0],
        finalize=lambda st, row, prev: {"n": st["n"], "sum": st["sum"]},
        commit_cond=lambda st, row, prev: st["n"] >= 10,
        output_schema="n long, sum double",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["sum"] == 45.0


def test_tumbling_fast_path_equals_general_engine(spark):
    """The native tumbling lowering (compile_operation's plain
    ``GROUP BY k, t // 10``) and the general COMMIT engine agree on
    full windows — the lowering contract of SURVEY §4 (custom work
    item 3)."""
    from ramen_spark.plans.raql import compile_operation

    rows = [(("a", "b")[i % 2], float(i), 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, t double, v double")

    fast = compile_operation(
        "select k, t // 10 as time_bucket, sum v as s, count 1 as n "
        "group by k, t // 10",
        df,
    )
    fast_rows = {(r["k"], int(r["time_bucket"]), r["s"], r["n"]) for r in fast.collect()}

    def update(st, row):
        st.setdefault("rows", []).append(row)

    def fin(st, row, prev):
        b = int(st["rows"][0]["t"] // 10)
        return {"k": row["k"], "time_bucket": b, "s": sum(r["v"] for r in st["rows"]),
                "n": len(st["rows"])}

    # emit when the next tuple crosses the bucket boundary (COMMIT
    # BEFORE in.t >= bucket_end) — plus drain-at-end for the last open
    # window, which the general engine models as end-of-stream flush:
    # here every bucket fills completely so BEFORE-at-boundary covers
    # all but the final bucket per key; assert containment.
    gen = commit_aggregate(
        df,
        key_cols=["k"],
        order_col="t",
        init_state=dict,
        update=update,
        finalize=fin,
        commit_cond=lambda st, row, prev: bool(st.get("rows")) and row["t"] // 10 > st["rows"][0]["t"] // 10,
        commit_before=True,
        output_schema="k string, time_bucket long, s double, n long",
    )
    gen_rows = {(r["k"], r["time_bucket"], r["s"], r["n"]) for r in gen.collect()}
    assert gen_rows <= fast_rows
    # everything except the last open window per key is emitted
    assert len(gen_rows) == len(fast_rows) - 2


def test_count_commit_lowers_and_matches_fold(spark):
    """The count-window Catalyst lowering (plans.raql
    _try_lower_count_commit) must emit exactly the tuples the Python
    fold emits, for `count x`, `sum 1`, and `>` boundary forms —
    including null counted operands (nulls never advance the window)."""
    from ramen_spark.plans.raql import compile_commit_operation

    rows = []
    for k in ("a", "b"):
        for i in range(7):
            # v null on every 3rd row for key 'a': count v skips those
            v = None if (k == "a" and i % 3 == 2) else float(i)
            rows.append((k, i, v))
    df = spark.createDataFrame(rows, "k string, seq int, v double")

    def run(text, schema):
        out = compile_commit_operation(text, df, output_schema=schema,
                                       order_cols=["seq"])
        return sorted(
            tuple(r[c] for c in out.columns) for r in out.collect()
        ), out

    # count v >= 2: key a has 5 non-null v (windows of 2 → 2 complete),
    # key b has 7 (3 complete windows)
    got, out = run(
        "select k, sum v as s, count v as n group by k commit after count v >= 2",
        "k string, s double, n long",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan  # lowered
    # fold by hand: a non-null v = [0,1,3,4,6] → (0+1),(3+4); b = 0..6 →
    # (0+1),(2+3),(4+5)
    assert got == [("a", 1.0, 2), ("a", 7.0, 2), ("b", 1.0, 2),
                   ("b", 5.0, 2), ("b", 9.0, 2)]

    # sum 1 >= 3 counts every row incl. null-v ones
    got, _ = run(
        "select k, count v as n, last seq as lseq group by k "
        "commit after sum 1 >= 3",
        "k string, n long, lseq int",
    )
    # a: rows 0-2 (v null at 2 → n=2), rows 3-5 (null at 5 → n=2);
    # b: 0-2, 3-5 all non-null
    assert got == [("a", 2, 2), ("a", 2, 5), ("b", 3, 2), ("b", 3, 5)]

    # `>` boundary: commit after sum 1 > 2 == windows of 3
    got3, _ = run(
        "select k, count v as n group by k commit after sum 1 > 2",
        "k string, n long",
    )
    assert got3 == [("a", 2, ), ("a", 2,), ("b", 3,), ("b", 3,)]

    # a stateless WHERE filters before the lowered windows, although the
    # check-all fold would run it inside (`count v` reads in.v): the
    # rows it rejects re-check only groups whose count did not move
    got, out = run(
        "select k, sum v as s, count v as n where seq <> 1 "
        "group by k commit after count v >= 2",
        "k string, s double, n long",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "Window" in plan, plan
    # a: non-null v minus seq 1 = [0,3,4,6]; b: [0,2,3,4,5,6]
    assert got == [("a", 3.0, 2), ("a", 10.0, 2), ("b", 2.0, 2),
                   ("b", 7.0, 2), ("b", 11.0, 2)]


def test_count_commit_ineligible_falls_back(spark):
    """Shapes the lowering can't express (previous-namespace refs,
    KEEP, row-stateful selects) still run on the general fold."""
    from ramen_spark.plans.raql import compile_commit_operation

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(6)], "k string, seq int, v double"
    )
    out = compile_commit_operation(
        "select k, lag 1 v as pv, sum v as s group by k "
        "commit after count v >= 3",
        df,
        output_schema="k string, pv double, s double",
        order_cols=["seq"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the check-all fold (one ordered pass), not lowered
    assert "MapInPandas" in plan and "Window" not in plan
    got = sorted((r["pv"], r["s"]) for r in out.collect())
    assert got == [(1.0, 3.0), (4.0, 12.0)]


def test_commit_fold_kmv_distinct_matches_batch(spark):
    """KMV DISTINCT as a fold accumulator (round-10 AGGS addition):
    the COMMIT fold's running estimate must land on the batch grouped
    rewrite / operators.sketch.kmv_distinct value — including the
    saturated regime (k=16 < 40 distinct), NULL skipping, the
    nested-in-expression form the batch fast path rejects, and string
    arguments (md5 string-cast parity with the Catalyst form).
    COMMIT AND KEEP AFTER true emits the running aggregate per row;
    the group's last emission is the full-input state."""
    from ramen_spark.operators.sketch import kmv_distinct
    from ramen_spark.plans.raql import compile_commit_operation

    rows = [
        ("a" if i % 3 else "b", i, i % 40)
        for i in range(300)
    ] + [("b", 1000, None)]
    df = spark.createDataFrame(rows, "k string, seq int, u long")

    def last_per_group(out, val_col):
        best = {}
        for r in out.collect():
            if r["k"] not in best or r["n"] > best[r["k"]][1]:
                best[r["k"]] = (r[val_col], r["n"])
        return {k: v[0] for k, v in best.items()}, {
            k: v[1] for k, v in best.items()
        }

    out = compile_commit_operation(
        "select k, kmv 16 distinct u as au, count 1 as n "
        "group by k commit and keep after true",
        df, output_schema="k string, au bigint, n bigint",
        order_cols=["seq"],
    )
    got, ns = last_per_group(out, "au")
    exp = {
        r["k"]: r["est_distinct"]
        for r in kmv_distinct(df, ["k"], "u", 16).collect()
    }
    assert got == exp
    assert ns == {"a": 200, "b": 101}

    # nested form: the estimate composes inside an expression
    out2 = compile_commit_operation(
        "select k, (kmv 16 distinct u) * 2 as au2, count 1 as n "
        "group by k commit and keep after true",
        df, output_schema="k string, au2 bigint, n bigint",
        order_cols=["seq"],
    )
    got2, _ = last_per_group(out2, "au2")
    assert got2 == {k: v * 2 for k, v in exp.items()}

    # string values hash identically to the Catalyst md5 form
    sdf = spark.createDataFrame(
        [("a", i, f"u{i % 25}") for i in range(100)],
        "k string, seq int, s string",
    )
    out3 = compile_commit_operation(
        "select k, kmv 8 distinct s as au, count 1 as n group by k "
        "commit and keep after true",
        sdf, output_schema="k string, au bigint, n bigint",
        order_cols=["seq"],
    )
    got3, _ = last_per_group(out3, "au")
    exp3 = {
        r["k"]: r["est_distinct"]
        for r in kmv_distinct(sdf, ["k"], "s", 8).collect()
    }
    assert got3 == exp3
