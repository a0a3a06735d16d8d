"""Per-query physical metrics from Spark's SQL status store.

`bench.py` records wall time; this pulls the evidence BEHIND the wall
time — total shuffle bytes written and spill size of the most recent
SQL execution — so each benched query carries its shuffle volume in
`BENCH_r*.json` (the "what moves when" table in SCALE.md §2, but
measured per round instead of asserted).

Implementation note: goes through the SQLAppStatusStore via py4j
(the UI is disabled in this environment, so the REST API is not an
option). Everything is wrapped defensively — metrics are telemetry,
never worth failing a bench run over.
"""

from __future__ import annotations

import re

_UNIT = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
}

_SIZE_RE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")


def _parse_bytes(s: str) -> int:
    """Parse Spark's bytesToString output. Multi-task metrics render
    as 'stats...\\n<total> (min, med, max (stage: task))' — the total
    lives on the LAST line, so take that line's first size literal
    (single-line values have no newline and are used as-is)."""
    m = _SIZE_RE.search(s.split("\n")[-1] if "\n" in s else s)
    if not m:
        return 0
    return int(float(m.group(1)) * _UNIT[m.group(2)])


def drain_listener_bus(spark, timeout_ms: int = 5000) -> None:
    """Block until the async listener bus has delivered all queued
    events (or the timeout passes). Metric reads BEFORE the drain can
    attribute the tail of query N's task-end events to query N+1."""
    try:
        spark._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
    except Exception:  # pragma: no cover — telemetry only
        pass


def stage_cpu_snapshot(spark) -> dict[tuple[int, int], int] | None:
    """(stageId, attemptId) → executorCpuTime (ns) for every stage the
    app status store currently retains, or None when the store is
    unreadable. None and {} are DIFFERENT: a failed before-snapshot
    treated as empty would attribute every retained stage in the app
    (warmup, prior queries) to the next measured query — a silently
    inflated executor_cpu_ms that the regression ratchet then flags.
    Used in before/after pairs by :func:`cpu_time_since` — CPU time is
    the contention-immune twin of wall time (two back-to-back runs of
    an identical plan on a noisy shared box swing ×2 in wall at
    byte-identical shuffle/spill/memory; their executor CPU stays
    flat)."""
    out: dict[tuple[int, int], int] = {}
    try:
        drain_listener_bus(spark)
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        store = spark._jsc.sc().statusStore()
        # full-arity call — py4j sees no Scala default args:
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        lst = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        for i in range(lst.size()):
            sd = lst.apply(i)
            out[(sd.stageId(), sd.attemptId())] = int(sd.executorCpuTime())
    except Exception:  # pragma: no cover — telemetry only
        return None
    return out


def cpu_time_since(
    spark, before: dict[tuple[int, int], int]
) -> int | None:
    """Executor CPU (ns) of all stages that ran since ``before`` was
    snapshotted. Sums NEW stage attempts only (never subtracts), so
    eviction of old stages from the bounded store (default 1000
    retained) cannot go negative; a single query spanning >1000 stages
    would undercount its own evicted head — none of the benched
    queries approaches that. Returns None when EITHER snapshot is
    unreadable (callers omit the metric rather than record 0 — or,
    worse, the whole app's CPU against one query when the before
    snapshot failed)."""
    if before is None:
        return None
    after = stage_cpu_snapshot(spark)
    if not after:
        return None
    return sum(v for k, v in after.items() if k not in before)


def latest_execution_id(spark) -> int:
    """Most recent SQL execution id in the store, or -1."""
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        if execs.size() == 0:
            return -1
        return execs.apply(execs.size() - 1).executionId()
    except Exception:  # pragma: no cover — telemetry only
        return -1


def _status_store_metrics(
    spark, after_id: int | None, timeout_s: float, last_only: bool
) -> dict[str, int]:
    """The one status-store walk behind both readers below: wait until
    an execution newer than ``after_id`` (any, when None) appears, then
    sum shuffle and spill bytes and take the max operator peak over the
    newest execution (``last_only``) or over every newer one."""
    import time as _time

    try:
        store = spark._jsparkSession.sharedState().statusStore()
        deadline = _time.monotonic() + timeout_s
        while True:
            execs = store.executionsList()
            n = execs.size()
            if n > 0 and (
                after_id is None or execs.apply(n - 1).executionId() > after_id
            ):
                break
            if _time.monotonic() > deadline:
                return {}
            _time.sleep(0.05)
        if last_only:
            picked = [execs.apply(n - 1)]
        else:
            picked = [
                e for e in map(execs.apply, range(n)) if e.executionId() > after_id
            ]
        shuffle = spill = peak = 0
        for e in picked:
            names = {}
            mit = e.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                names[m.accumulatorId()] = m.name()
            it = store.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                nm = names.get(kv._1())
                if nm == "shuffle bytes written":
                    shuffle += _parse_bytes(kv._2())
                elif nm == "spill size":
                    spill += _parse_bytes(kv._2())
                elif nm == "peak memory":
                    # per-operator peak execution memory; the MAX single
                    # operator is the number that has to fit an executor
                    peak = max(peak, _parse_bytes(kv._2()))
        out = {"shuffle_bytes": shuffle, "spill_bytes": spill}
        if peak:
            out["peak_op_memory_bytes"] = peak
        return out
    except Exception:  # pragma: no cover — telemetry only
        return {}


def last_execution_metrics(
    spark, after_id: int | None = None, timeout_s: float = 2.0
) -> dict[str, int]:
    """{'shuffle_bytes': n, 'spill_bytes': n, 'peak_op_memory_bytes': n}
    of the most recent SQL execution on this session ({} if the store
    is unreadable; peak key only when the plan reports one — the max
    single operator's peak execution memory, i.e. what must fit an
    executor).

    The status store is fed by the ASYNC listener bus, so "most
    recent" can briefly still be the previous query (review finding:
    metrics of query N−1 would be attributed to query N). Callers that
    know the id before their query pass it as ``after_id``; we poll
    until a newer execution appears (or the timeout passes, returning
    {} rather than mis-attributing).

    Iterative queries (e.g. label propagation with per-round
    localCheckpoint) run several executions; this reports the FINAL
    action's execution only — the per-round work is not summed."""
    return _status_store_metrics(spark, after_id, timeout_s, last_only=True)


def executions_metrics_since(
    spark, after_id: int, timeout_s: float = 2.0
) -> dict[str, int]:
    """Like :func:`last_execution_metrics`, but SUMMED over every SQL
    execution with executionId > ``after_id`` (round 13, ADVICE r12):
    several query shapes now run part of their shuffle in
    construction-time jobs — localCheckpoint of a shared relation, a
    collected model table — which are separate executions that the
    final-action metric silently excludes, under-reporting those
    queries' physical footprint in A/B comparisons. peak stays a MAX
    across executions (it is a per-operator high-water mark, not a
    volume). Returns {} when the store is unreadable or nothing newer
    than ``after_id`` appears within the timeout."""
    return _status_store_metrics(spark, after_id, timeout_s, last_only=False)
