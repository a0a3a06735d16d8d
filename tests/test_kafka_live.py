"""Jar-free live Kafka source (sources/kafka_live.py — round-11
verdict #1): the tested wire client + TCP dial + RecordBatch decoder
composed into a polling micro-batch source with BatchStore-
checkpointed offsets, exercised END-TO-END against the loopback TCP
broker (a real reachable broker as far as every layer of the client
stack is concerned — executors dial it over actual sockets from their
own worker processes)."""

from __future__ import annotations

import pytest

from kafka_broker import BrokerServer, FakeBroker

from ramen_spark.sources.binary import encode_kafka_record_batch
from ramen_spark.sources.kafka_live import KafkaLiveSource


def _produce(host, port, topic, partition, recs, compression=None):
    from ramen_spark.sources.kafka_wire import connect_kafka

    client = connect_kafka(host, port, timeout_s=5.0)
    try:
        kwargs = {"compression": compression} if compression else {}
        return client.produce(
            topic, partition, encode_kafka_record_batch(recs, **kwargs)
        )
    finally:
        client.close()


def _rows(df):
    return sorted(
        (r["topic"], r["partition"], r["offset"], r["timestamp_ms"],
         bytes(r["key"]) if r["key"] is not None else None,
         bytes(r["value"]) if r["value"] is not None else None)
        for r in df.collect()
    )


def test_live_source_e2e_multibatch_multipartition(spark, tmp_path):
    """Produce multi-batch (incl. gzip) topics across two partitions;
    poll drains them through executor-side dials; a second poll after
    more produces returns ONLY the new records; the spool holds the
    full replayable log."""
    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        _produce(host, port, "events", 0,
                 [(1000 + i, f"k{i}".encode(), f"v{i}".encode())
                  for i in range(5)])
        _produce(host, port, "events", 0,
                 [(2000 + i, None, f"w{i}".encode()) for i in range(3)],
                 compression="gzip")
        _produce(host, port, "events", 1, [(3000, b"solo", None)])

        src = KafkaLiveSource(
            spark, host, port, [("events", 0), ("events", 1)],
            str(tmp_path / "kafka"),
        )
        batch1 = src.poll()
        got = _rows(batch1)
        assert len(got) == 9
        assert [(o, k, v) for t, p, o, _ts, k, v in got if p == 0] == [
            (i, f"k{i}".encode(), f"v{i}".encode()) for i in range(5)
        ] + [(5 + i, None, f"w{i}".encode()) for i in range(3)]
        assert [(o, k, v) for t, p, o, _ts, k, v in got if p == 1] == [
            (0, b"solo", None)
        ]
        assert src.committed_offsets() == {
            ("events", 0): 8, ("events", 1): 1,
        }

        # idle poll: no offset churn, no spool dirs minted
        assert src.poll().isEmpty()
        dirs_before = src._spool_dirs()

        _produce(host, port, "events", 1, [(4000, b"k9", b"late")])
        batch2 = src.poll()
        assert _rows(batch2) == [
            ("events", 1, 1, 4000, b"k9", b"late")
        ]
        assert src.committed_offsets()[("events", 1)] == 2
        assert len(src._spool_dirs()) == len(dirs_before) + 1

        # spool = the full durable log, duplicate-free
        assert len(_rows(src.spool())) == 10


def test_live_source_restart_resumes_from_checkpoint(spark, tmp_path):
    """A NEW source object over the same root (process restart) fetches
    nothing old — offsets resume from the committed snapshot."""
    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        _produce(host, port, "t", 0, [(1, b"a", b"1"), (2, b"b", b"2")])
        root = str(tmp_path / "kafka")
        src1 = KafkaLiveSource(spark, host, port, [("t", 0)], root)
        assert src1.poll().count() == 2

        src2 = KafkaLiveSource(spark, host, port, [("t", 0)], root)
        assert src2.poll().isEmpty()  # nothing new after restart
        _produce(host, port, "t", 0, [(3, b"c", b"3")])
        got = _rows(src2.poll())
        assert [o for _t, _p, o, _ts, _k, _v in got] == [2]
        assert len(_rows(src2.spool())) == 3


def test_live_source_crash_between_spool_and_commit(spark, tmp_path):
    """Crash AFTER the spool write but BEFORE the offset commit: the
    re-poll reaps the orphan batch dir and re-fetches — at-least-once
    against the broker, duplicate-free in the spool."""
    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        _produce(host, port, "t", 0, [(1, b"a", b"x"), (2, b"b", b"y")])
        root = str(tmp_path / "kafka")
        src = KafkaLiveSource(spark, host, port, [("t", 0)], root)

        real_publish = src.offsets_store.publish
        src.offsets_store.publish = lambda *a: (_ for _ in ()).throw(
            OSError("simulated crash before offset commit")
        )
        with pytest.raises(OSError, match="simulated crash"):
            src.poll()
        # the spool batch IS on disk (durable-first) but unacknowledged
        assert len(src._spool_dirs()) == 1
        src.offsets_store.publish = real_publish

        fresh = KafkaLiveSource(spark, host, port, [("t", 0)], root)
        assert fresh.poll().count() == 2  # re-fetched, not resumed
        assert len(_rows(fresh.spool())) == 2  # orphan reaped: no dups
        assert fresh.committed_offsets() == {("t", 0): 2}


def test_live_source_bounded_poll_and_starting_offsets(spark, tmp_path):
    """max_records bounds one poll (backlog drains across polls);
    starting_offsets skips history for unseen partitions."""
    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        _produce(host, port, "t", 0,
                 [(i, None, str(i).encode()) for i in range(10)])
        root = str(tmp_path / "kafka")
        src = KafkaLiveSource(
            spark, host, port, [("t", 0)], root, max_records=4
        )
        assert src.poll().count() == 4
        assert src.committed_offsets() == {("t", 0): 4}
        assert src.poll().count() == 4
        assert src.poll().count() == 2
        assert src.committed_offsets() == {("t", 0): 10}
        assert src.spool().count() == 10

        late = KafkaLiveSource(
            spark, host, port, [("t", 0)], str(tmp_path / "kafka2"),
            starting_offsets={("t", 0): 8},
        )
        got = _rows(late.poll())
        assert [o for _t, _p, o, _ts, _k, _v in got] == [8, 9]

    with pytest.raises(ValueError, match="assignment"):
        KafkaLiveSource(spark, "h", 1, [], str(tmp_path / "x"))
    with pytest.raises(ValueError, match="duplicate"):
        KafkaLiveSource(spark, "h", 1, [("t", 0), ("t", 0)],
                        str(tmp_path / "x"))


def test_live_source_feeds_shared_decoders(spark, tmp_path):
    """The live path and the offline log-segment lane share ONE
    decoder stack by construction: RowBinary-encoded values fetched
    live decode through the same decode_rowbinary the offline READ
    ... AS ROWBINARY lane uses."""
    from ramen_spark.sources.binary import decode_rowbinary, encode_rowbinary

    spec = [("metric", "String"), ("value", "Float64")]
    payloads = [
        encode_rowbinary([(f"m{i}", float(i) / 2)], spec) for i in range(6)
    ]
    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        _produce(host, port, "metrics", 0,
                 [(100 + i, None, payloads[i]) for i in range(6)])
        src = KafkaLiveSource(
            spark, host, port, [("metrics", 0)], str(tmp_path / "kafka")
        )
        batch = src.poll()
        decoded = decode_rowbinary(
            batch.select(batch["value"].alias("blob")), spec
        )
        got = {(r["metric"], r["value"]) for r in decoded.collect()}
        assert got == {(f"m{i}", i / 2) for i in range(6)}


def test_live_source_keeps_offsets_of_unassigned_partitions(spark, tmp_path):
    """Review finding: the offsets snapshot must MERGE with the full
    committed map — a partition dropped from the assignment list and
    later re-added resumes from its committed offset instead of
    re-fetching history into duplicate spool rows."""
    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        root = str(tmp_path / "kafka")
        _produce(host, port, "t", 0, [(1, b"a", b"1")])
        _produce(host, port, "t", 1, [(2, b"b", b"2"), (3, b"c", b"3")])
        both = KafkaLiveSource(spark, host, port, [("t", 0), ("t", 1)], root)
        assert both.poll().count() == 3

        only0 = KafkaLiveSource(spark, host, port, [("t", 0)], root)
        _produce(host, port, "t", 0, [(4, b"d", b"4")])
        assert only0.poll().count() == 1
        # (t,1)'s committed offset survived the narrowed assignment
        assert only0.committed_offsets() == {("t", 0): 2, ("t", 1): 2}

        again = KafkaLiveSource(spark, host, port, [("t", 0), ("t", 1)], root)
        _produce(host, port, "t", 1, [(5, b"e", b"5")])
        got = _rows(again.poll())
        assert [(p, o) for _t, p, o, _ts, _k, _v in got] == [(1, 2)]
        assert len(_rows(again.spool())) == 5  # no duplicates


def test_cli_kafka_tail_live(spark, tmp_path, capsys):
    """`ramen kafka-tail HOST PORT ROOT --partition t:0` — the live
    tail lifecycle over the jar-free source: first call drains, the
    second resumes from the checkpoint and prints only new records."""
    from ramen_spark.cli import main

    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        _produce(host, port, "t", 0, [(10, b"k", b"hello"), (11, None, b"bye")])
        root = str(tmp_path / "kafka")
        argv = ["kafka-tail", host, str(port), root, "--partition", "t:0"]
        assert main(argv) == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert [l.split("\t")[4] for l in out[:-1]] == ["hello", "bye"]
        assert "2 new records" in out[-1]

        _produce(host, port, "t", 0, [(12, b"k", b"again")])
        assert main(argv) == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert [l.split("\t")[4] for l in out[:-1]] == ["again"]

        assert main(["kafka-tail", host, str(port), root,
                     "--partition", "nocolon"]) == 2


def test_spool_compaction_merges_and_survives_crashes(spark, tmp_path):
    """compact_spool merges stable per-poll batch dirs into one span
    dir (an always-on cadence mints one dir per poll — listing cost),
    duplicate-free at EVERY crash point of the publish-then-shadow
    protocol: staging leftovers are invisible, a published span
    shadows the dirs it covers until cleanup, and later polls append
    past the span."""
    import os

    broker = FakeBroker()
    with BrokerServer(broker) as (host, port):
        root = str(tmp_path / "kafka")
        src = KafkaLiveSource(spark, host, port, [("t", 0)], root)
        for i in range(4):
            _produce(host, port, "t", 0, [(100 + i, None, str(i).encode())])
            assert src.poll().count() == 1
        assert len(src._spool_dirs()) == 4
        before = _rows(src.spool())

        # crash BEFORE publish: a dangling compacting-* staging dir
        # is invisible to readers and reaped by the next compact
        os.makedirs(os.path.join(root, "spool", "compacting-deadbeef"))
        assert len(src._spool_dirs()) == 4
        assert _rows(src.spool()) == before

        # the real compaction: every poll committed, so current
        # version is 4 and all four from-v0..3 dirs are stable (only
        # a dir AT the current version is a crashed-poll reap
        # candidate) — all 4 merge into one span
        assert src.compact_spool() == 4
        assert not os.path.isdir(
            os.path.join(root, "spool", "compacting-deadbeef")
        )
        dirs = src._spool_dirs()
        assert len(dirs) == 1 and "span-v0-v3-" in dirs[0]
        assert _rows(src.spool()) == before

        # crash AFTER publish, before cleanup: resurrect a covered
        # plain dir beside the span — it stays shadowed (no dup) and
        # the next compact reaps it
        span = dirs[0]
        spark.read.parquet(span).filter("offset = 0").write.parquet(
            os.path.join(root, "spool", "from-v1")
        )
        assert _rows(src.spool()) == before  # shadowed, not re-read
        assert src.compact_spool() == 0  # nothing new stable to merge
        assert not os.path.isdir(os.path.join(root, "spool", "from-v1"))

        # later polls append past the span; a second compact contains
        # the first span and the tail batch
        _produce(host, port, "t", 0, [(200, b"k", b"new")])
        assert src.poll().count() == 1
        assert len(_rows(src.spool())) == 5
        assert src.compact_spool() == 2  # span-v0-v3 + from-v4
        dirs2 = src._spool_dirs()
        assert len(dirs2) == 1 and "span-v0-v4-" in dirs2[0]
        assert len(_rows(src.spool())) == 5


def test_effective_spool_resolution_property():
    """Property: for ANY crash history the compaction protocol can
    produce — plain dirs 0..N, a chain of compactions each merging a
    prefix of the effective set into a containing span, each crashing
    at any point after its publish rename (covered dirs deleted or
    not, earlier spans deleted or not) — the effective dir set reads
    every version exactly once. Pure function, no Spark."""
    import random

    from ramen_spark.sources.kafka_live import _effective_spool

    rng = random.Random(7)
    for trial in range(300):
        n = rng.randint(1, 12)
        # surviving plains: some deleted by successful cleanups
        plains = {v: f"from-v{v}" for v in range(n)}
        spans = []  # published spans, newest last, each containing
        hi_prev = -1
        for ci in range(rng.randint(0, 4)):
            hi = rng.randint(hi_prev, n - 1) if hi_prev >= 0 else rng.randint(0, n - 1)
            spans.append((0, hi, f"span-v0-v{hi}-{ci:03d}"))
            # crashed-or-not cleanup: each covered plain/span survives
            # with p=1/2 (a successful compact deletes all of them)
            for v in list(plains):
                if v <= hi and rng.random() < 0.5:
                    del plains[v]
            spans = [
                s for s in spans[:-1] if not (s[1] <= hi and rng.random() < 0.5)
            ] + [spans[-1]]
            hi_prev = hi
        # duplicate-range crash twin occasionally
        if spans and rng.random() < 0.3:
            a, b, p = spans[-1]
            spans.append((a, b, p[:-3] + "zzz"))

        eff = _effective_spool(
            spans, [(v, p) for v, p in plains.items()]
        )
        # reconstruct which versions each effective dir contributes
        seen: dict[int, list[str]] = {}
        for p in eff:
            if p.startswith("from-v"):
                vs = [int(p[6:])]
            else:
                body = p[5:].split("-")
                vs = list(range(int(body[0][1:]), int(body[1][1:]) + 1))
            for v in vs:
                seen.setdefault(v, []).append(p)
        dups = {v: ps for v, ps in seen.items() if len(ps) > 1}
        assert not dups, (trial, dups, spans, plains)
        # completeness: every version 0..max published is present
        # exactly once (spans always start at 0 in this protocol)
        expect = set(range(n)) if spans or plains else set()
        # versions deleted from plains AND not covered by a surviving
        # span were lost only if every covering span was deleted —
        # the protocol never deletes a span before a containing span
        # is published, so versions under the NEWEST span are always
        # covered; check those
        if spans:
            newest_hi = max(b for _a, b, _p in spans)
            assert set(range(0, newest_hi + 1)) <= set(seen), (
                trial, sorted(seen), spans, plains,
            )
