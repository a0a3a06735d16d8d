"""RaQL's ``Aggregate`` operation, Spark-first.

The reference's one-size-fits-all operation (SURVEY §2.1-2.2; runtime
loop src/CodeGenLib_Skeletons.ml:433-960) is: per input tuple —
where → group lookup → update group state → evaluate COMMIT condition →
emit output tuple → FLUSH or KEEP the group.

The tumbling shape ``GROUP BY key, time//dt + COMMIT AFTER in.time >
out.time + slack`` needs no fold: ``plans.raql.compile_operation``
lowers it to a plain Catalyst ``groupBy`` (map-side partial
aggregation, one shuffle on (key, bucket)). Everything else folds
here, with emission interleaved with accumulation, KEEP vs FLUSH and
COMMIT BEFORE re-seeding the group:

1. **Per-group fold** (``commit_aggregate``, one step ``fold_group``
   shared with streaming.commit's per-group engine): conditions that
   read only the group's own state fold each group separately via
   ``applyInPandas`` — one shuffle on the group key, then a sequential
   scan within each group, parallel across groups.
2. **Check-all fold** (``WorkerFold``, run by ``commit_worker`` in
   batch and streaming.commit's worker mode in streaming): a condition
   reading the input tuple re-checks every live group at each input,
   so the whole input folds in one ordered pass through one group
   hashtable — the reference's worker loop.

Reference parity notes:
- COMMIT AFTER (default true → emit per input): src/RamenOperation.ml:857.
- COMMIT BEFORE emits the pre-update aggregate, then restarts the
  group seeded with the current tuple: src/CodeGenLib_Skeletons.ml:620-695.
- FLUSH destroys group state after commit; KEEP retains it
  (src/raql_flush_method.type).
"""

from __future__ import annotations

import heapq
import itertools
import operator
from collections.abc import Callable, Iterable
from typing import Any, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

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


def fold_group(
    st: State,
    previous: Row | None,
    rows: Iterable[Row],
    init_state: Callable[[], State],
    update: Callable[[State, Row], None],
    finalize: Callable[[State, Row, Row | None], Row],
    commit_cond: Callable[[State, Row, Row | None], bool],
    commit_before: bool = False,
    flush: bool = True,
    where: Callable[[State, Row, Row | None], bool] | None = None,
) -> tuple[State, Row | None, list[Row]]:
    """One group's ordered fold, the step both per-group engines run:
    folds ``rows`` into the group's state ``st`` given ``previous``
    (its last committed output, RaQL's ``previous`` / ``local_last``
    namespace) and returns the new state, the new previous and the
    committed tuples.

    - AFTER (default): update state with the row, evaluate
      ``commit_cond(state, row, previous)``; on True emit
      ``finalize(state, row, previous)`` and (if ``flush``) reset
      state.
    - BEFORE: evaluate the condition first; on True emit the
      *pre-update* aggregate, reset the group, then accumulate the
      current row into the fresh state
      (src/CodeGenLib_Skeletons.ml:620-646 semantics).
    - ``where``: stateful filter evaluated per row INSIDE the fold
      (RaQL allows stateful functions in WHERE — tests/func/
      basic_aggr.ramen f2); rows it rejects advance WHERE state but
      neither update the group nor trigger commits."""
    out_rows: list[Row] = []
    for row in rows:
        st["__prev_out"] = previous  # previous namespace for update
        if where is not None and not where(st, row, previous):
            continue
        if commit_before:
            if commit_cond(st, row, previous):
                # the emitted candidate predates the incoming row: its
                # non-aggregate fields read the LAST aggregated row
                # (reference commit-before, commit_before.ramen)
                out = finalize(st, st.get("__last_row", row), previous)
                out_rows.append(out)
                previous = out
                st = init_state()
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
    return st, previous, out_rows


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
) -> DataFrame:
    """General COMMIT engine (batch), one fold per group: shuffled once
    on ``key_cols``, each group's rows fold in ``order_col`` order
    through ``fold_group`` (AFTER/BEFORE/FLUSH/WHERE semantics there).

    Conditions that read the input tuple (the reference's
    ``check_commit_for_all``) re-check every live group at each input;
    they do not fold per group but through the one ``WorkerFold`` that
    batch (``commit_worker``) and the always-on worker share.

    Rows reach the fold through ``decode_rows``: a nullable integral
    value beyond 2^53 is rounded by PySpark's float64 pandas hop
    (documented divergence, shared with streaming.commit).

    Python per row, but one shuffle total and parallel across groups.
    """
    int_cols, cols = int_columns(df.schema), _schema_names(output_schema)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        _, _, out_rows = fold_group(
            init_state(), None, decode_rows([pdf], order_col, int_cols),
            init_state, update, finalize, commit_cond,
            commit_before, flush, where,
        )
        return encode_rows(out_rows, cols)

    # groupBy+applyInPandas = exactly one shuffle on the key; no GROUP
    # BY ⇒ one global group (the reference's execution model)
    keys = key_cols or [F.lit(1).alias("_g")]
    return df.groupBy(*keys).applyInPandas(fold, schema=output_schema)


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
    """The reference's worker loop over the whole group hashtable
    ``groups`` (gkey → {"st": state, "prev": last committed output},
    in group-creation order): folds ``rows`` in order, mutates
    ``groups`` and returns the committed tuples. It serves check-all
    conditions in both engines: batch ``commit_worker`` calls it once
    per Arrow batch of one ordered pass, the always-on worker
    (streaming.commit) once per micro-batch; both carry ``groups``
    over between calls.

    Trigger semantics (src/CodeGenLib_Skeletons.ml:810-868):

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
    at each call, so the state format carries no index. Without one
    (``in.m <> out.m``), every live group. Either way each commit
    comes from the same ``commit_cond``/``finalize`` calls.

    A group whose state holds no rows (flushed, or created by a
    WHERE-rejected row) leaves the hashtable, as the reference's FLUSH
    does (src/CodeGenLib_Skeletons.ml:678-695), unless
    ``keep_flushed``: the operation reads its last output (previous
    namespaces), keeps state (KEEP), or keeps other per-group state.
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


def commit_worker(
    df: DataFrame, fold: WorkerFold, order_col: str | list[str], output_schema: str
) -> DataFrame:
    """Batch check-all COMMIT: the whole input in one ordered pass
    through ``fold``, the ``WorkerFold`` the always-on worker runs.

    Rows sort by ``order_col`` (NULLs last, as ``decode_rows`` sorts a
    micro-batch), then by their input position, taken before the
    single-partition exchange: tied rows fold in input order, which
    is the order the worker sees a one-micro-batch input in.
    ``mapInPandas`` keeps that order and folds each Arrow batch with
    one ``groups`` hashtable that carries over from batch to batch,
    as it does between micro-batches. Cross-group visibility is
    inherent to check-all conditions, so the fold runs in one task,
    the reference's one-worker-per-function model.
    """
    int_cols, cols = int_columns(df.schema), _schema_names(output_schema)

    def run(pdfs: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        groups: dict[tuple, dict] = {}
        for pdf in pdfs:
            out_rows = fold(groups, decode_rows([pdf], None, int_cols))
            if out_rows:
                yield encode_rows(out_rows, cols)

    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    order = [F.col(c).asc_nulls_last() for c in [*order_cols, "__pos"]]
    ordered = (
        df.withColumn("__pos", F.monotonically_increasing_id())
        .repartition(1)
        .sortWithinPartitions(*order)
        .drop("__pos")
    )
    return ordered.mapInPandas(run, schema=output_schema)
