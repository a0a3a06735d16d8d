"""Integral values read the same in the batch and streaming COMMIT
folds: every fold decodes its pandas input with
``operators.aggregate.decode_rows``, which restores the Python ints
that PySpark's Arrow transfer turns into float64 when a nullable
integral column holds a NULL. Each case runs one parquet file through
``compile_commit_operation`` and, as one micro-batch, through
``compile_commit_streaming`` into a memory sink."""

from __future__ import annotations

import pytest

from ramen_spark.plans.raql import (
    _plan_commit,
    compile_commit_operation,
    compile_commit_streaming,
)
from ramen_spark.streaming.windows import run_to_memory

SCHEMA = "seq long, k string, x bigint"
FIRST_LAST = 'string(first x) || "/" || string(last x) as fl'

# per-group fold (BEFORE never lowers to Catalyst) and check-all worker
SHAPES = [
    ("per_group", f"select k, {FIRST_LAST} group by k commit before sum 1 >= 3", False),
    ("check_all", f"select k, {FIRST_LAST} group by k commit after in.seq % 4 = 2", True),
]


def _batch_and_stream(spark, tmp_path, text, rows, name):
    path = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    batch = spark.read.parquet(path)
    b_out = compile_commit_operation(text, batch, order_cols=["seq"])
    stream = spark.readStream.schema(batch.schema).parquet(path)
    s_out = run_to_memory(
        compile_commit_streaming(text, stream, order_cols=["seq"]), name
    )
    return (
        sorted(tuple(r) for r in b_out.collect()),
        sorted(tuple(r) for r in s_out.collect()),
    )


@pytest.mark.parametrize("shape", SHAPES, ids=[s[0] for s in SHAPES])
def test_streaming_formats_nullable_ints_like_batch(spark, tmp_path, shape):
    name, text, check_all = shape
    rows = [
        (0, "a", 160), (1, "a", None), (2, "a", 7), (3, "a", 9),
        (4, "b", 5), (5, "b", None), (6, "b", 6), (7, "b", 8),
    ]
    src = spark.createDataFrame(rows, SCHEMA)
    assert _plan_commit(text, src, None)[5] is check_all
    batch, stream = _batch_and_stream(spark, tmp_path, text, rows, f"ints_{name}")
    assert ("a", "160/7") in batch
    assert stream == batch


@pytest.mark.xfail(
    strict=True,
    reason="PySpark hands a nullable integral column to pandas as "
    "float64, so a value beyond 2^53 is rounded before the fold sees it",
)
@pytest.mark.parametrize("engine", ["batch", "streaming"])
def test_nullable_long_beyond_2_53_is_exact(spark, tmp_path, engine):
    big = 2**53 + 1
    text = "select k, max x as m group by k commit before sum 1 >= 3"
    rows = [(0, "a", big), (1, "a", None), (2, "a", 5), (3, "a", 0)]
    batch, stream = _batch_and_stream(
        spark, tmp_path, text, rows, f"big_long_{engine}"
    )
    assert (batch if engine == "batch" else stream) == [("a", big)]
