"""The general COMMIT/FLUSH engine in streaming form.

Batch oracle: operators.aggregate. The same (init/update/finalize/
commit_cond) callbacks run incrementally under
``applyInPandasWithState``, in two modes that run the batch engine's
own fold steps:

- per group key (``streaming_commit_aggregate``): state holds the
  running aggregate plus the last committed output (RaQL's
  ``previous``); each micro-batch folds its rows through
  ``fold_group``, the step batch ``commit_aggregate`` runs;
- worker mode (``streaming_commit_worker``), for check-all conditions:
  one state entry holds the whole group hashtable and each
  micro-batch runs the one ``WorkerFold`` batch ``commit_worker`` also
  runs (a cond0 heap for ``f(in) OP g(out)`` terms and for pure-``in``
  conditions, a scan of the live groups otherwise).

State lives in the state store (RocksDB per session.py) — bounded by
live groups, exactly like the reference's group hashtable
(src/CodeGenLib_Skeletons.ml:717-760). Keyed per-group state is
partitioned across executors; the worker mode (and a fold with no
GROUP BY) keeps one constant key, so the runner starts its query with
one state partition.

Caveat (documented): ordering is guaranteed WITHIN a micro-batch by
the explicit sort; cross-batch reordering beyond the watermark is the
same trade every streaming engine makes. The batch engine is the
semantic oracle (SURVEY §7 'hard parts').

Both modes decode their pandas batches with the batch engine's
``decode_rows`` (order, NULLs, integral columns restored from the
Spark schema) and encode with its ``encode_rows``, so a value reads
the same in both engines — including the documented divergence: a
nullable integral value beyond 2^53 is rounded by PySpark's float64
pandas hop.
"""

from __future__ import annotations

import base64
import pickle
from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ramen_spark.operators.aggregate import (
    Row,
    State,
    WorkerFold,
    _schema_names,
    decode_rows,
    encode_rows,
    fold_group,
    int_columns,
)


def _enc(obj) -> str:
    return base64.b64encode(pickle.dumps(obj)).decode("ascii")


def _dec(raw: str):
    return pickle.loads(base64.b64decode(raw))


def streaming_commit_aggregate(
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
) -> DataFrame:
    """Streaming twin of commit_aggregate with identical callbacks.

    State is pickled (base64 in a string state column) so ANY Python
    fold state — including plans.raql._Fold's accumulator/row-state
    dicts — survives micro-batches without a fixed struct schema; swap
    for a typed state schema when the state shape is static and hot.

    ``where``: stateful filter evaluated per row inside the fold —
    rejected rows advance WHERE state but neither update the group nor
    trigger commits (batch commit_aggregate parity).

    ``order_col`` None ⇒ ARRIVAL order within each micro-batch (the
    reference's worker loop consumes its ringbuf in arrival order).
    """
    int_cols, cols = int_columns(df.schema), _schema_names(output_schema)

    def process(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            st_raw, prev_raw = state.get
            st = _dec(st_raw)
            previous = _dec(prev_raw) if prev_raw else None
        else:
            st, previous = init_state(), None

        st, previous, out_rows = fold_group(
            st, previous, decode_rows(pdfs, order_col, int_cols),
            init_state, update, finalize, commit_cond,
            commit_before, flush, where,
        )
        state.update((_enc(st), _enc(previous) if previous else None))
        if out_rows:
            yield encode_rows(out_rows, cols)

    from pyspark.sql import functions as F

    # no GROUP BY ⇒ one global group, as in the batch engine; the
    # constant key must be a materialized column (streaming
    # applyInPandasWithState rejects expression grouping keys)
    if key_cols:
        grouped = df.groupBy(*key_cols)
    else:
        grouped = df.withColumn("_g", F.lit(1)).groupBy("_g")
    return grouped.applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType="st string, prev string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_commit_worker(
    df: DataFrame,
    fold: WorkerFold,
    order_col: str | list[str] | None,
    output_schema: str,
) -> DataFrame:
    """The reference's worker loop in streaming form: ONE state-store
    entry holds the whole group hashtable, rows fold in global order.

    This exists for ``check_commit_for_all`` commit conditions —
    conditions over the incoming tuple that must be re-evaluated for
    EVERY live group on every input (COMMIT AFTER in.m <> out.m,
    count.ramen; COMMIT BEFORE in.start >= out.stop, tumbling.ramen —
    src/CodeGen_Helpers.ml:52, src/CodeGenLib_Skeletons.ml:810-868).
    Cross-group visibility is inherent to the semantics, so the stream
    serializes through one task — exactly the reference's
    one-worker-per-function model; functions WITHOUT check-all
    conditions take the per-group-partitioned
    ``streaming_commit_aggregate`` (the scale path) instead.

    Each micro-batch runs ``fold``, the same ``WorkerFold`` batch
    ``commit_worker`` runs (trigger semantics there; plans.raql
    ``_worker_fold`` builds it for both engines). When the condition
    has a ``cond0`` term (``in.x > out.x + c``, ``in.start >=
    out.stop`` and their mirrored or ``<`` forms, alone or as an AND
    conjunct, or a condition reading only the input row) a row checks
    only the groups a heap keyed by the term's out-side says may fire;
    otherwise (``in.m <> out.m``) it scans every live group. Flushed
    groups leave the hashtable unless ``fold.keep_flushed``.

    The constant key ``_w`` means the state is one entry in one
    partition: ``runner.deploy_program_streaming`` starts this query
    with one state partition instead of the session's
    ``spark.sql.shuffle.partitions``. A checkpoint created with
    another count keeps it (Spark restores the count from the offset
    log).

    ``order_col`` None ⇒ arrival order within each micro-batch.
    """
    int_cols, cols = int_columns(df.schema), _schema_names(output_schema)

    def process(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        groups: dict[tuple, dict] = _dec(state.get[0]) if state.exists else {}
        out_rows = fold(groups, decode_rows(pdfs, order_col, int_cols))
        state.update((_enc(groups), None))
        if out_rows:
            yield encode_rows(out_rows, cols)

    from pyspark.sql import functions as F

    return df.withColumn("_w", F.lit(1)).groupBy("_w").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType="st string, prev string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
