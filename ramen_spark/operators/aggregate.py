"""RaQL's ``Aggregate`` operation, Spark-first.

The reference's one-size-fits-all operation (SURVEY §2.1-2.2; runtime
loop src/CodeGenLib_Skeletons.ml:433-960) is: per input tuple —
where → group lookup → update group state → evaluate COMMIT condition →
emit output tuple → FLUSH or KEEP the group.

Two implementations:

1. **Native fast path** (``tumbling_aggregate``): the overwhelmingly
   common commit shape ``GROUP BY key, time//dt + COMMIT AFTER
   in.time > out.time + slack`` is exactly a tumbling event-time
   window. We lower it to ``groupBy(key, floor(time/dt))`` — pure
   Catalyst: map-side partial aggregation, one shuffle on
   (key, bucket), AQE-sized reducers. This is the plan that survives
   100 TB; it is what bench.py measures.

2. **General engine** (``commit_aggregate``): arbitrary commit
   conditions over (current input, group state, group's previous
   output) — semantics Catalyst can't express (emission interleaved
   with accumulation, KEEP vs FLUSH, COMMIT BEFORE re-seeding the
   group). Implemented as an ordered fold per group key via
   ``applyInPandas``: one shuffle on the group key, then a sequential
   scan within each group (this is inherent — the reference is a
   single-threaded loop; we get distribution ACROSS groups for free).
   ``global_last``-style cross-group state requires a single group and
   is documented as the sequential corner.

Reference parity notes:
- COMMIT AFTER (default true → emit per input): src/RamenOperation.ml:857.
- COMMIT BEFORE emits the pre-update aggregate, then restarts the
  group seeded with the current tuple: src/CodeGenLib_Skeletons.ml:620-695.
- FLUSH destroys group state after commit; KEEP retains it
  (src/raql_flush_method.type).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

# ---------------------------------------------------------------------------
# fast path: tumbling event-time window
# ---------------------------------------------------------------------------


def time_bucket(time_col: Column, width_seconds: float) -> Column:
    """``time // dt`` — the reference's idiomatic window key
    (e.g. the KSQL-benchmark query groups on
    ``capture_begin // 60_000_000`` — site/blog/2019-02.php)."""
    return F.floor(time_col.cast("double") / F.lit(width_seconds))


def tumbling_aggregate(
    df: DataFrame,
    keys: list[str | Column],
    time_col: str | Column,
    width_seconds: float,
    aggs: list[Column],
    where: Column | None = None,
) -> DataFrame:
    """GROUP BY keys + time//dt — the native lowering of
    ``COMMIT AFTER in.time > out.time + dt`` tumbling windows.

    Catalyst gives partial (map-side) aggregation before the single
    shuffle on (keys, bucket); filters passed via ``where`` are pushed
    into the scan.
    """
    time_col = F.col(time_col) if isinstance(time_col, str) else time_col
    if where is not None:
        df = df.filter(where)
    bucket = time_bucket(time_col, width_seconds).alias("time_bucket")
    key_cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.groupBy(*key_cols, bucket).agg(*aggs)


# ---------------------------------------------------------------------------
# general engine: ordered fold with COMMIT/FLUSH semantics
# ---------------------------------------------------------------------------

State = dict[str, Any]
Row = dict[str, Any]


def _schema_names(ddl: str) -> list[str]:
    """Top-level field names of a DDL schema string (commas inside
    struct<...>/array<...> don't split)."""
    names, depth, cur = [], 0, ""
    for ch in ddl:
        if ch == "," and depth == 0:
            names.append(cur.strip().split(" ")[0].split(":")[0])
            cur = ""
            continue
        if ch == "<":
            depth += 1
        if ch == ">":
            depth -= 1
        cur += ch
    if cur.strip():
        names.append(cur.strip().split(" ")[0].split(":")[0])
    return names


def int_columns(schema) -> list[str]:
    """Names of the integral (byte/short/int/long) fields of a Spark
    schema."""
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ByteType, ShortType, IntegerType, LongType))
    ]


def decode_rows(
    pdfs: Iterable[pd.DataFrame],
    order_col: str | list[str] | None,
    int_cols: list[str],
) -> list[Row]:
    """The fold's view of its pandas input, shared by every fold entry
    point: one dict per row in ``order_col`` order (stable; None or
    ``[]`` keeps arrival order), NULL as None, integral columns as
    Python ints.

    NULLABLE integral columns arrive float64 after the Arrow transfer
    (pandas has no nullable int64 on this path): 160 → 160.0 — which
    corrupts anything that FORMATS the value (string concat '||',
    md5-hash aggregates like KMV DISTINCT). ``int_cols`` (from the
    Spark schema, which knows the true type) restores them; a value
    beyond 2^53 is already rounded by the float64 hop."""
    pdf = pd.concat(pdfs, ignore_index=True)
    if order_col:
        pdf = pdf.sort_values(order_col, kind="stable")
    rows = pdf.astype(object).where(pdf.notna(), None).to_dict("records")
    ints = [c for c in int_cols if c in pdf.columns and pdf[c].dtype.kind == "f"]
    if ints:
        for r in rows:
            for c in ints:
                if r[c] is not None:
                    r[c] = int(r[c])
    return rows


def encode_rows(out_rows: list[Row], cols: list[str]) -> pd.DataFrame:
    """Committed tuples as a pandas batch of the declared output
    ``cols``: finalize keeps private (_-prefixed) fields for commit
    conditions / previous, and the projection drops them."""
    if out_rows:
        return pd.DataFrame(out_rows).reindex(columns=cols)
    return pd.DataFrame({c: pd.Series(dtype="object") for c in cols})


def commit_aggregate(
    df: DataFrame,
    key_cols: list[str],
    order_col: str | list[str],
    init_state: Callable[[], State],
    update: Callable[[State, Row], None],
    finalize: Callable[[State, Row, Row | None], Row],
    commit_cond: Callable[[State, Row, Row | None], bool],
    output_schema: str,
    commit_before: bool = False,
    flush: bool = True,
    where: Callable[[State, Row, Row | None], bool] | None = None,
    trigger_df: DataFrame | None = None,
    trigger_in_cols: list[str] | None = None,
) -> DataFrame:
    """General COMMIT engine (batch).

    Per group (shuffled once on ``key_cols``), rows are folded in
    ``order_col`` order:

    - AFTER (default): update state with the row, evaluate
      ``commit_cond(state, row, previous_out)``; on True emit
      ``finalize(state, row, previous_out)`` and (if ``flush``) reset
      state.
    - BEFORE: evaluate the condition first; on True emit the
      *pre-update* aggregate, reset the group, then accumulate the
      current row into the fresh state
      (src/CodeGenLib_Skeletons.ml:620-646 semantics).

    ``previous_out`` is the group's last committed output (RaQL's
    ``previous`` / ``local_last`` namespace, src/raql_variable.type).

    ``where``: stateful filter evaluated per row INSIDE the fold (RaQL
    allows stateful functions in WHERE — tests/func/basic_aggr.ramen
    f2); rows it rejects advance WHERE state but neither update the
    group nor trigger commits.

    ``trigger_df``: the GLOBAL trigger relation of the reference's
    ``check_commit_for_all`` path — a commit condition reading the
    input tuple, at which EVERY live group must (re-)evaluate its
    commit (src/CodeGen_Helpers.ml:52,
    src/CodeGenLib_Skeletons.ml:810-868). It holds, for EVERY input
    row, the global order value ``__trig_ord`` and the condition's
    in-columns (``trigger_in_cols``, as ``__tc_<col>``). Each group
    evaluates ``commit_cond(state, trigger_row, previous)`` against
    its own candidate at each of them, in order, including its own
    rows: post-update in AFTER mode; in BEFORE mode the own row's
    pre-update check is the plain one and its trigger is consumed
    silently.

    The trigger relation stays distributed: it is replicated per group
    key (crossJoin with the distinct keys — the reference documents
    check-all as the slow path meant for few-group aggregations, so the
    fan-out is |triggers|×|groups| with both factors expected small)
    and cogrouped into the fold, never materialized on the driver.
    Other groups' triggers are placed by comparing ``__trig_ord`` with
    the row's order value, so with ties in the order column this fold
    and the streaming ``WorkerFold`` (which walks rows one at a time,
    tied rows in arrival order) can commit different windows
    (documented divergence; strict-xfail cases in
    tests/test_worker_fold.py).

    Rows reach the fold through ``decode_rows``: a nullable integral
    value beyond 2^53 is rounded by PySpark's float64 pandas hop
    (documented divergence, shared with streaming.commit).

    This is the slow general path by design — Python per row, but one
    shuffle total and parallel across groups. Lower to
    ``tumbling_aggregate`` whenever the commit shape allows.
    """
    first_order = order_col if isinstance(order_col, str) else order_col[0]
    in_cols = trigger_in_cols or []
    int_cols = int_columns(df.schema)
    cols = _schema_names(output_schema)

    def fold_with(rows: list[Row], trows: list) -> pd.DataFrame:
        out_rows: list[Row] = []
        state = init_state()
        previous: Row | None = None

        def emit(row):
            nonlocal state, previous
            out = finalize(state, row, previous)
            out_rows.append(out)
            previous = out
            if flush:
                state = init_state()

        tri = 0

        def fire_triggers(upto, inclusive: bool) -> None:
            # check-all mode: evaluate the commit condition for THIS
            # group against each global input row in order.
            # state['__trig'] marks cross-group evaluation: the
            # candidate must build from the group's own last row
            nonlocal tri
            while tri < len(trows) and (
                trows[tri][0] <= upto if inclusive else trows[tri][0] < upto
            ):
                trow = trows[tri][1]
                tri += 1
                if state.get("__n", 0) > 0:
                    state["__trig"] = True
                    try:
                        fire = commit_cond(state, trow, previous)
                    finally:
                        state.pop("__trig", None)
                    if fire:
                        emit(state.get("__last_row"))

        for row in rows:
            state["__prev_out"] = previous  # previous namespace for update
            if trows:
                # triggers before this row (rows of OTHER groups)
                fire_triggers(row[first_order], inclusive=False)
            if where is not None and not where(state, row, previous):
                continue
            if commit_before:
                if trows:
                    # the self trigger is evaluated right here (BEFORE
                    # semantics); consume its global entry silently
                    while tri < len(trows) and trows[tri][0] <= row[first_order]:
                        tri += 1
                if commit_cond(state, row, previous):
                    # the emitted candidate predates the incoming row:
                    # its non-aggregate fields read the LAST aggregated
                    # row (reference commit-before, commit_before.ramen)
                    fin_row = state.get("__last_row", row)
                    out = finalize(state, fin_row, previous)
                    out_rows.append(out)
                    previous = out
                    state = init_state()
                    state["__prev_out"] = previous
                update(state, row)
            else:
                update(state, row)
                if trows:
                    # the group's own row is also a global trigger,
                    # checked post-update (reference aggregate_one order)
                    fire_triggers(row[first_order], inclusive=True)
                elif commit_cond(state, row, previous):
                    emit(row)
        if trows:
            fire_triggers(float("inf"), inclusive=True)
        return encode_rows(out_rows, cols)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return fold_with(decode_rows([pdf], order_col, int_cols), [])

    if trigger_df is None:
        if key_cols:
            # groupBy+applyInPandas = exactly one shuffle on the key
            return df.groupBy(*key_cols).applyInPandas(fold, schema=output_schema)
        # single global group (reference: no GROUP BY ⇒ one group) —
        # inherently sequential, matches the reference's execution model
        return df.groupBy(F.lit(1).alias("_g")).applyInPandas(
            fold, schema=output_schema
        )

    trig_int_cols = int_columns(trigger_df.schema)

    def fold_cogrouped(pdf: pd.DataFrame, tpdf: pd.DataFrame) -> pd.DataFrame:
        # this group's replica of the global trigger relation
        trows = [
            (r["__trig_ord"], {c: r[f"__tc_{c}"] for c in in_cols})
            for r in decode_rows([tpdf], ["__trig_ord"], trig_int_cols)
        ]
        return fold_with(decode_rows([pdf], order_col, int_cols), trows)

    # check-all-groups: cogroup the data with the trigger relation so
    # every group's fold task receives the global triggers via the same
    # shuffle — no driver-side materialization
    if key_cols:
        # fresh exprIds on the key projection — both cogroup sides
        # descend from the same source relation
        keys_df = df.select(*[F.col(k).alias(k) for k in key_cols]).distinct()
        trig = trigger_df.crossJoin(F.broadcast(keys_df))
        grouped = df.groupBy(*key_cols).cogroup(trig.groupBy(*key_cols))
    else:
        g = F.lit(1).alias("_g")
        grouped = df.groupBy(g).cogroup(trigger_df.groupBy(g))
    return grouped.applyInPandas(fold_cogrouped, schema=output_schema)
