"""The general COMMIT/FLUSH engine in streaming form.

Batch oracle: operators.aggregate.commit_aggregate. Here the same
(init/update/finalize/commit_cond) callbacks run incrementally under
``applyInPandasWithState``: per group key, state holds the running
aggregate plus the last committed output (RaQL's ``previous``); each
micro-batch folds its rows in event-order and emits the committed
tuples. State lives in the state store (RocksDB per session.py) —
bounded by live groups, exactly like the reference's group hashtable
(src/CodeGenLib_Skeletons.ml:717-760). Keyed per-group state is
partitioned across executors; the worker mode (and a fold with no
GROUP BY) keeps one constant key, so the runner starts its query with
one state partition.

Caveat (documented): ordering is guaranteed WITHIN a micro-batch by
the explicit sort; cross-batch reordering beyond the watermark is the
same trade every streaming engine makes. The batch engine is the
semantic oracle (SURVEY §7 'hard parts').

Both folds here decode their pandas batches with the batch engine's
``decode_rows`` (order, NULLs, integral columns restored from the
Spark schema) and encode with its ``encode_rows``, so a value reads
the same in both engines — including the documented divergence: a
nullable integral value beyond 2^53 is rounded by PySpark's float64
pandas hop.
"""

from __future__ import annotations

import base64
import heapq
import itertools
import operator
import pickle
from collections.abc import Callable, Iterable
from typing import Any, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ramen_spark.operators.aggregate import (
    _schema_names,
    decode_rows,
    encode_rows,
    int_columns,
)

State = dict[str, Any]
Row = dict[str, Any]


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

        out_rows: list[Row] = []
        for row in decode_rows(pdfs, order_col, int_cols):
            if isinstance(st, dict):
                st["__prev_out"] = previous  # previous namespace for update
            if where is not None and not where(st, row, previous):
                continue
            if commit_before:
                if commit_cond(st, row, previous):
                    # the emitted candidate predates the incoming row
                    # (batch engine parity: last aggregated row)
                    fin_row = (
                        st.get("__last_row", row) if isinstance(st, dict) else row
                    )
                    out = finalize(st, fin_row, previous)
                    out_rows.append(out)
                    previous = out
                    st = init_state()
                    if isinstance(st, dict):
                        st["__prev_out"] = previous
                update(st, row)
            else:
                update(st, row)
                if commit_cond(st, row, previous):
                    out = finalize(st, row, previous)
                    out_rows.append(out)
                    previous = out
                    if flush:
                        st = init_state()

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


class Cond0(NamedTuple):
    """The reference's ``cond0`` term of a check-all commit condition
    (src/CodeGenLib_Skeletons.ml:505-527): one comparison
    ``in_key(row) OP out_key(state, previous)`` that must hold for the
    whole condition to hold, so groups ordered by their out-key need
    checking only while the term holds.

    ``in_key`` reads only the input row (and params/literals);
    ``out_key`` reads only the group's trigger-path candidate output.
    ``op`` is ``>``, ``>=``, ``<`` or ``<=`` with the input on the
    left."""

    in_key: Callable[[Row], Any]
    out_key: Callable[[State, Row | None], Any]
    op: str


_CMP = {">": operator.gt, ">=": operator.ge, "<": operator.lt, "<=": operator.le}


class _Desc:
    """Heap key in reverse order (a max-heap for ``in < out`` terms)."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return other.v < self.v

    def __eq__(self, other):
        return self.v == other.v


class WorkerFold:
    """One micro-batch of the reference's worker loop over the whole
    group hashtable ``groups`` (gkey → {"st": state, "prev": last
    committed output}, in group-creation order): folds ``rows`` in
    order, mutates ``groups`` and returns the committed tuples.

    Trigger semantics mirror operators.aggregate.commit_aggregate's
    cogrouped batch path tuple-for-tuple:

    - every input row (including WHERE-rejected ones) is a trigger:
      each live group (``__n`` > 0) evaluates the condition with
      ``state['__trig']`` set (candidate built from the group's last
      aggregated row) and commits/flushes on True, in group-creation
      order;
    - in AFTER mode the row's own group checks post-update via the
      same trigger path; in BEFORE mode the own check runs pre-update
      on the plain condition and the own trigger is consumed silently.

    Which live groups a row checks: with a ``cond0`` term, only those
    popped from a heap keyed by their out-key while the term holds
    (O(log groups) per row; the reference's heap,
    src/CodeGenLib_Skeletons.ml:620-646,810-868); the heap is rebuilt
    at each batch start, so the state format carries no index. Without
    one (``in.m <> out.m``), every live group. Either way each commit
    comes from the same ``commit_cond``/``finalize`` calls.

    A group whose state holds no rows (flushed, or created by a
    WHERE-rejected row) leaves the hashtable, as the reference's FLUSH
    does (src/CodeGenLib_Skeletons.ml:678-695), unless
    ``keep_flushed``: the operation reads its last output (previous
    namespaces), keeps state (KEEP), or keeps other per-group state.

    Rows fold one at a time, tied rows in arrival order, so with ties
    in the order column this fold and the batch ``commit_aggregate``
    (which places other groups' triggers by comparing order values)
    can commit different windows (documented divergence).
    """

    def __init__(
        self,
        key_cols: list[str],
        init_state: Callable[[], State],
        update: Callable[[State, Row], None],
        finalize: Callable[[State, Row, Row | None], Row],
        commit_cond: Callable[[State, Row, Row | None], bool],
        commit_before: bool = False,
        flush: bool = True,
        where: Callable[[State, Row, Row | None], bool] | None = None,
        cond0: Cond0 | None = None,
        keep_flushed: bool = True,
    ):
        self.key_cols = key_cols
        self.init_state = init_state
        self.update = update
        self.finalize = finalize
        self.commit_cond = commit_cond
        self.commit_before = commit_before
        self.flush = flush
        self.where = where
        self.cond0 = cond0
        self.keep_flushed = keep_flushed

    def __call__(self, groups: dict[tuple, dict], rows: list[Row]) -> list[Row]:
        init_state, update = self.init_state, self.update
        finalize, commit_cond = self.finalize, self.commit_cond
        cond0 = self.cond0
        out_rows: list[Row] = []
        # cond0 index: heap of (key, creation seq, version, gkey, raw
        # key); an entry is current iff its version is the group's
        seq = {gk: i for i, gk in enumerate(groups)}
        next_seq = itertools.count(len(seq))
        version: dict[tuple, int] = {}
        next_version = itertools.count()
        heap: list[tuple] = []
        if cond0 is not None:
            holds = _CMP[cond0.op]
            desc = cond0.op in ("<", "<=")

        def rekey(gkey: tuple, g: dict) -> None:
            v = version[gkey] = next(next_version)
            st = g["st"]
            if st.get("__n", 0) <= 0:
                return
            k = cond0.out_key(st, g["prev"])
            if k is None or k != k:  # NULL or NaN: the term never holds
                return
            heapq.heappush(heap, (_Desc(k) if desc else k, seq[gkey], v, gkey, k))

        def drop_if_idle(gkey: tuple, g: dict) -> bool:
            if self.keep_flushed or g["st"].get("__n", 0) > 0:
                return False
            del groups[gkey]
            version.pop(gkey, None)
            return True

        def emit(gkey: tuple, g: dict, row: Row | None) -> None:
            out = finalize(g["st"], row, g["prev"])
            out_rows.append(out)
            g["prev"] = out
            if self.flush:
                g["st"] = init_state()
            if not drop_if_idle(gkey, g) and cond0 is not None:
                rekey(gkey, g)

        def trigger(gkey: tuple, g: dict, row: Row) -> bool:
            st = g["st"]
            st["__trig"] = True
            try:
                fire = commit_cond(st, row, g["prev"])
            finally:
                st.pop("__trig", None)
            if fire:
                emit(gkey, g, st.get("__last_row"))
            return fire

        if cond0 is not None:
            for gkey, g in groups.items():
                rekey(gkey, g)

        for row in rows:
            gkey = tuple(row[k] for k in self.key_cols)
            g = groups.get(gkey)
            if g is None:
                g = groups[gkey] = {"st": init_state(), "prev": None}
                seq[gkey] = next(next_seq)
            st = g["st"]
            st["__prev_out"] = g["prev"]
            accepted = self.where is None or self.where(st, row, g["prev"])
            if accepted:
                if self.commit_before and commit_cond(st, row, g["prev"]):
                    out = finalize(st, st.get("__last_row", row), g["prev"])
                    out_rows.append(out)
                    g["prev"] = out
                    g["st"] = st = init_state()
                    st["__prev_out"] = g["prev"]
                update(st, row)
                if cond0 is not None:
                    rekey(gkey, g)
            else:
                drop_if_idle(gkey, g)
            # this row triggers every live group's commit check; a
            # BEFORE-mode own check already ran above (silent
            # consumption of the own trigger, batch parity)
            skip_own = gkey if accepted and self.commit_before else None
            if cond0 is None:
                for k2, g2 in list(groups.items()):
                    if k2 != skip_own and g2["st"].get("__n", 0) > 0:
                        trigger(k2, g2, row)
                continue
            if not heap:
                continue
            fv = cond0.in_key(row)
            if fv is None or fv != fv:
                continue
            due = []
            while heap and holds(fv, heap[0][4]):
                e = heapq.heappop(heap)
                if version.get(e[3]) == e[2]:
                    due.append(e)
            due.sort(key=lambda e: e[1])
            for e in due:
                k2 = e[3]
                if k2 == skip_own or not trigger(k2, groups[k2], row):
                    heapq.heappush(heap, e)
        return out_rows


def streaming_commit_worker(
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
    cond0: Cond0 | None = None,
    keep_flushed: bool = True,
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

    Each micro-batch runs ``WorkerFold`` (trigger semantics there).
    When the condition has a ``cond0`` term (``in.x > out.x + c``,
    ``in.start >= out.stop`` and their mirrored or ``<`` forms, alone
    or as an AND conjunct) a row checks only the groups a heap keyed
    by the term's out-side says may fire; otherwise (``in.m <> out.m``)
    it scans every live group. Flushed groups leave the hashtable
    unless ``keep_flushed``.

    The constant key ``_w`` means the state is one entry in one
    partition: ``runner.deploy_program_streaming`` starts this query
    with one state partition instead of the session's
    ``spark.sql.shuffle.partitions``. A checkpoint created with
    another count keeps it (Spark restores the count from the offset
    log).

    ``order_col`` None ⇒ arrival order within each micro-batch.
    """
    int_cols, cols = int_columns(df.schema), _schema_names(output_schema)
    fold = WorkerFold(
        key_cols, init_state, update, finalize, commit_cond,
        commit_before=commit_before, flush=flush, where=where,
        cond0=cond0, keep_flushed=keep_flushed,
    )

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
