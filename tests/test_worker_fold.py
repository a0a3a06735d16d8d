"""Differential tests of the check-all worker fold (operators.aggregate.
WorkerFold) with and without its ``cond0`` heap.

The fold is driven directly, one micro-batch at a time, with the group
hashtable pickled between batches exactly as the streaming state store
holds it — no Spark streaming query. For each check-all commit shape,
over seeded bursty inputs at several batch splits:

- heap output equals scan output (``cond0=None``), in order;
- both equal the batch engine (``compile_commit_operation``, which
  runs the same fold in one ordered pass) as a multiset.
"""

from __future__ import annotations

import copy
import math
import random

import pytest

from ramen_spark.operators.aggregate import _schema_names, decode_rows, int_columns
from ramen_spark.plans.raql import compile_commit_operation, compile_commit_streaming
from ramen_spark.streaming import commit as C

SCHEMA = "seq long, k string, t long, x double, v double"


def _stream(seed: int, n: int = 240, keys: int = 12) -> list[tuple]:
    """Bursty input: runs of rows with event time ``t`` advancing in
    small integer steps (ties at every boundary), jittered backwards so
    a group's ``min t`` is sometimes lowered; ``x``/``v`` carry NULLs."""
    rng = random.Random(seed)
    rows, t = [], 0
    for seq in range(n):
        if rng.random() < 0.15:
            t += rng.randint(5, 25)  # a burst boundary
        t += rng.randint(0, 2)
        tt = max(0, t - rng.randint(0, 6)) if rng.random() < 0.2 else t
        x = None if rng.random() < 0.1 else float(rng.randint(0, 40))
        v = None if rng.random() < 0.1 else round(rng.uniform(-5, 5), 3)
        rows.append((seq, f"k{rng.randrange(keys)}", tt, x, v))
    return rows


def _compiled(spark, monkeypatch, text: str, rows: list[tuple]):
    """The WorkerFold compile_commit_streaming builds for ``text``, and
    the input rows as the worker sees them (computed key columns
    included, NULL-normalized like its pandas batches)."""
    captured = {}

    def capture(df, **kw):
        captured.update(kw, df=df)

    monkeypatch.setattr(C, "streaming_commit_worker", capture)
    src = spark.createDataFrame(rows, SCHEMA)
    compile_commit_streaming(text, src, order_cols=["seq"])
    assert captured, "expected the worker (check-all) path"
    df = captured["df"]
    in_rows = decode_rows([df.toPandas()], "seq", int_columns(df.schema))
    names = _schema_names(captured["output_schema"])
    return captured["fold"], in_rows, names, src


def _fold(wf, rows: list[dict], split: int, heap: bool):
    """Fold ``rows`` in micro-batches of ``split`` rows through one
    WorkerFold, round-tripping the hashtable through the state codec."""
    fold = copy.copy(wf)
    if not heap:
        fold.cond0 = None
    raw, out = None, []
    for i in range(0, len(rows), split):
        groups = C._dec(raw) if raw is not None else {}
        out += fold(groups, [dict(r) for r in rows[i:i + split]])
        raw = C._enc(groups)
    return out, C._dec(raw)


def _batch(text: str, src) -> list[tuple]:
    """The batch engine's output for ``text`` as a sorted multiset."""
    return sorted(
        (tuple(_norm(v) for v in r) for r in compile_commit_operation(
            text, src, order_cols=["seq"]
        ).collect()),
        key=repr,
    )


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _tuples(out: list[dict], names: list[str]) -> list[tuple]:
    return [tuple(_norm(r.get(n)) for n in names) for r in out]


SPLITS = (1, 7, 40, 10_000)

SHAPES = [
    # blog top_tcp: in.x > out.x + c over a computed minute key
    (
        "blog",
        "select min t as t, k, sum v as s, count 1 as n "
        "group by k, t // 30 commit after in.t > out.t + 40",
        ">",
    ),
    # tumbling.ramen f2
    (
        "tumbling_before",
        "select min (t // 10) as start, start + 1 as stop, k, sum v as s "
        "group by k commit before in.t // 10 >= out.stop",
        ">=",
    ),
    # mirrored: out side on the left
    (
        "mirrored_le",
        "select min (t // 10) as start, start + 1 as stop, k, count 1 as n "
        "group by k commit before out.stop <= in.t // 10",
        ">=",
    ),
    (
        "mirrored_lt",
        "select min t as t, k, count 1 as n "
        "group by k commit after out.t + 30 < in.t",
        ">",
    ),
    # descending heap: in < out
    (
        "desc_lt",
        "select max t as t, k, count 1 as n "
        "group by k commit after in.t < out.t - 3",
        "<",
    ),
    (
        "desc_le_const",
        "select max x as mx, k, count 1 as n "
        "group by k commit after 20 <= out.mx and in.x = 0",
        "<=",
    ),
    # an aggregate conjunct rejects popped groups: they fire later
    (
        "and_aggregate",
        "select min t as t, k, count 1 as n "
        "group by k commit after in.t > out.t + 15 and count 1 >= 4",
        ">",
    ),
    # KEEP: no flush, a committed group stays live and keyed
    (
        "keep",
        "select min t as t, k, sum v as s "
        "group by k commit and keep after in.t >= out.t + 50",
        ">=",
    ),
    # NULLs on both sides: in.x and max x (all-NULL groups never key)
    (
        "nulls",
        "select max x as mx, k, count 1 as n "
        "group by k commit after in.x > out.mx + 5",
        ">",
    ),
    # WHERE-rejected rows still trigger every group, and a group they
    # create holds no rows, so it leaves the hashtable again
    (
        "where",
        "select min t as t, k, count 1 as n where x > 10 "
        "group by k commit after in.t > out.t + 20",
        ">",
    ),
    # no cond0 term: the scan (count.ramen)
    (
        "scan_ne",
        "select k, count 1 as n group by k commit after in.k <> out.k",
        None,
    ),
    # pure-`in` conditions: every live group commits at each input row
    # the condition accepts; the condition is its own cond0 term
    # (cond(in) > False), so a row it rejects checks no group
    (
        "in_after",
        "select min t as t, k, count 1 as n, sum v as s "
        "group by k commit after in.v > 4",
        ">",
    ),
    (
        "in_mod",
        "select min t as t, k, count 1 as n group by k commit after in.seq % 17 = 0",
        ">",
    ),
    # the own row's BEFORE check consumes its trigger: the freshly
    # seeded group must not commit again at its next row
    (
        "in_before",
        "select min t as t, k, count 1 as n group by k commit before in.v < -4",
        ">",
    ),
    (
        "in_where",
        "select min t as t, k, count 1 as n where x > 10 "
        "group by k commit after in.v > 3",
        ">",
    ),
    (
        "in_keep",
        "select k, sum v as s, count 1 as n "
        "group by k commit and keep after in.x >= 38",
        ">",
    ),
]


@pytest.mark.parametrize("shape", SHAPES, ids=[s[0] for s in SHAPES])
def test_worker_heap_equals_scan_and_batch(spark, monkeypatch, shape):
    name, text, op = shape
    for seed in (3, 4):
        rows = _stream(seed)
        wf, in_rows, names, src = _compiled(spark, monkeypatch, text, rows)
        cond0 = wf.cond0
        if op is None:
            assert cond0 is None
        else:
            assert cond0 is not None and cond0.op == op
        batch = None
        if seed == 3:  # one batch-engine run per shape keeps the test fast
            batch = _batch(text, src)
            assert batch, f"{name}: the input commits nothing"
        for split in SPLITS:
            heap, _ = _fold(wf, in_rows, split, heap=True)
            scan, _ = _fold(wf, in_rows, split, heap=False)
            assert heap, (name, seed, split)
            assert _tuples(heap, names) == _tuples(scan, names), (name, seed, split)
            if batch is not None:
                assert sorted(_tuples(heap, names), key=repr) == batch, (name, seed, split)


def test_worker_heap_nan_keys_equal_scan(spark, monkeypatch):
    """NaN on either side never satisfies the term: NaN in-keys pop
    nothing, NaN out-keys are never indexed — as the scan's condition
    calls decide."""
    text = (
        "select max x as mx, min t as t, k, count 1 as n "
        "group by k commit after in.x > out.mx + 5"
    )
    wf, in_rows, names, _ = _compiled(spark, monkeypatch, text, _stream(5))
    rng = random.Random(5)
    for r in in_rows:
        if rng.random() < 0.15:
            r["x"] = float("nan")
    for split in SPLITS:
        heap, _ = _fold(wf, in_rows, split, heap=True)
        scan, _ = _fold(wf, in_rows, split, heap=False)
        assert heap and _tuples(heap, names) == _tuples(scan, names), split


def test_worker_cond0_rejects_stateful_and_volatile_sides(spark, monkeypatch):
    rows = _stream(6, n=20)
    for text in (
        # aggregate on the in side
        "select min t as t, k group by k commit after sum t > out.t + 5 and in.k <> out.k",
        # RANDOM in the select list
        "select min t as t, k, random as r group by k commit after in.t > out.t + 5",
        # the out side reads previous
        "select min t as t, k group by k commit after in.t > previous.t + 5",
    ):
        wf, *_ = _compiled(spark, monkeypatch, text, rows)
        assert wf.cond0 is None, text


def test_worker_state_holds_only_live_groups(spark, monkeypatch):
    """Flushed groups leave the hashtable: after a multi-minute fold of
    the blog shape the decoded state holds only live groups."""
    text = (
        "select min t as t, k, sum v as s group by k, t // 60 "
        "commit after in.t > out.t + 80"
    )
    rng = random.Random(8)
    rows = [
        (i, f"p{rng.randrange(40)}", i, 1.0, 1.0)
        for i in range(600)  # ten event-time minutes
    ]
    wf, in_rows, names, _ = _compiled(spark, monkeypatch, text, rows)
    assert wf.keep_flushed is False
    out, groups = _fold(wf, in_rows, 25, heap=True)
    live = sum(1 for g in groups.values() if g["st"]["__n"] > 0)
    assert len(groups) <= live < 120
    assert len(out) > 200


def test_worker_previous_survives_flush(spark, monkeypatch):
    """An operation reading ``previous.`` keeps its flushed groups, so
    a group's second commit still sees its first."""
    text = (
        "select min t as t, k, count 1 as n, previous.n as pn "
        "group by k commit after in.t > out.t + 20"
    )
    rows = _stream(9, n=200, keys=3)
    wf, in_rows, names, src = _compiled(spark, monkeypatch, text, rows)
    assert wf.keep_flushed is True
    heap, _ = _fold(wf, in_rows, 9, heap=True)
    scan, _ = _fold(wf, in_rows, 9, heap=False)
    assert _tuples(heap, names) == _tuples(scan, names)
    assert any(r["pn"] is not None for r in heap)
    assert sorted(_tuples(heap, names), key=repr) == _batch(text, src)


TIE_SHAPES = [
    s for s in SHAPES
    if s[0] in ("blog", "tumbling_before", "where", "in_after", "in_before")
]


@pytest.mark.parametrize("shape", TIE_SHAPES, ids=[s[0] for s in TIE_SHAPES])
def test_worker_equals_batch_with_order_ties(spark, monkeypatch, shape):
    """Three rows share each order value: the batch pass breaks ties by
    input position, the order a one-micro-batch worker folds them in."""
    _, text, _ = shape
    rows = [(i // 3, *r[1:]) for i, r in enumerate(_stream(3))]
    wf, in_rows, names, src = _compiled(spark, monkeypatch, text, rows)
    worker, _ = _fold(wf, in_rows, 10_000, heap=True)
    assert worker
    assert sorted(_tuples(worker, names), key=repr) == _batch(text, src)


def test_batch_fold_carries_groups_across_arrow_batches(spark):
    """The batch pass folds Arrow batches of 7 rows with one group
    hashtable: the output equals the default (one-batch) run."""
    text = SHAPES[0][1]  # blog: windows span many batches
    src = spark.createDataFrame(_stream(3), SCHEMA)
    whole = _batch(text, src)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        small = _batch(text, src)
    finally:
        spark.conf.set(conf, old)
    assert whole and small == whole


@pytest.mark.xfail(
    strict=True,
    reason="_needs_fold_engine sends an in/out condition with no time-"
    "bucket GROUP BY key to run-to-completion grouping: materialize "
    "emits one row per key where the fold commits 12 windows",
)
def test_materialize_equals_fold_without_bucket_key(spark):
    rng = random.Random(12)
    rows = [(i, f"k{rng.randrange(3)}", i, 1.0, float(i)) for i in range(40)]
    src = spark.createDataFrame(rows, SCHEMA).withColumnRenamed("t", "ts")
    text = (
        "SELECT min ts AS t0, max ts AS t1, k, count 1 AS n, sum v AS s "
        "FROM src GROUP BY k COMMIT AFTER in.ts > out.t0 + 6"
    )
    from ramen_spark.plans.raql import compile_program

    prog = compile_program(f"DEFINE f AS {text};", name="p")
    mat = prog.materialize(spark, externals={"src": src}, register_views=False)
    got = sorted(tuple(r) for r in mat["f"].collect())
    assert got == _batch(text, src)
