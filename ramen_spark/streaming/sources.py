"""Streaming sources mirroring the reference's three operation kinds
(SURVEY §2.1): EVERY-clock, file tail, Kafka, LISTEN protocols.

The fixed protocol schemas (collectd / netflow v5 / graphite) are
engine-level schemas here — the reference decodes the wire formats in
C/OCaml (src/RamenCollectd.ml:24-90, src/RamenNetflow.ml:14-142,
src/RamenGraphiteSink.ml). The binary decode kernels live in
ramen_spark.sources.binary (mapInPandas over a packet byte column);
graphite's text protocol parses right here with builtin expressions.
The binary UDP *receiver* is ``UdpSpool``: socket thread → atomic
parquet spool → file stream (Spark's builtin socket source is TCP
text only); packets can equally route in via any file/Kafka binary
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def rate_clock(spark: SparkSession, seconds: float) -> DataFrame:
    """EVERY d / YIELD (src/CodeGenLib_Skeletons.ml:403-431): a tuple
    every d seconds — the rate source scaled to 1/d rows per second."""
    if seconds <= 1:
        # rate source takes integer rows/sec
        rps = max(int(round(1.0 / seconds)), 1)
        src = spark.readStream.format("rate").option("rowsPerSecond", str(rps)).load()
        return src.select(F.col("timestamp").alias("t"), F.col("value").alias("tick"))
    # slower than 1 Hz: 1 row/sec, keep every Nth
    n = int(round(seconds))
    src = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    return src.filter(F.col("value") % n == 0).select(
        F.col("timestamp").alias("t"), (F.col("value") / n).cast("long").alias("tick")
    )


def file_tail(
    spark: SparkSession,
    path_glob: str,
    schema: T.StructType,
    fmt: str = "csv",
    clean_source: str = "off",
    **options: str,
) -> DataFrame:
    """READ FROM FILES "glob" (src/raql_operation.type:54-138): tail a
    directory/glob as a stream. ``clean_source='delete'`` ≈ the
    reference's THEN DELETE."""
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("cleanSource", clean_source)
        .option("maxFilesPerTrigger", options.pop("maxFilesPerTrigger", "64"))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path_glob)


def kafka_source(
    spark: SparkSession, brokers: str, topic: str, starting: str = "earliest"
) -> DataFrame:
    """READ FROM KAFKA TOPIC (src/raql_operation.type:87-113) via the
    native Structured Streaming connector. Requires the
    spark-sql-kafka package on the classpath (not in this container —
    raises a clear error otherwise). Without the jar, use
    :func:`kafka_live_source` — the wire-client polling lane that
    needs only a TCP-reachable broker."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting)
        .load()
    )


def kafka_live_source(
    spark: SparkSession,
    host: str,
    port: int,
    assignments: list[tuple[str, int]],
    root_dir: str,
    **kwargs,
):
    """READ FROM KAFKA with NO connector jar: the micro-batch polling
    source built on the tested wire client (Produce/Fetch over raw TCP,
    offsets checkpointed in a BatchStore, records spooled to
    parquet executor-side) — ``sources/kafka_live.KafkaLiveSource``.
    The live twin of the offline log-segment lane; both decode through
    the same ``decode_kafka_segment``."""
    from ramen_spark.sources.kafka_live import KafkaLiveSource

    return KafkaLiveSource(spark, host, port, assignments, root_dir, **kwargs)


# Fixed protocol schemas (LISTEN FOR ..., src/raql_operation.type:139-145)

# collectd value list (src/RamenCollectd.ml:24-90)
COLLECTD_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("start", T.DoubleType(), False),
        T.StructField("plugin", T.StringType(), True),
        T.StructField("instance", T.StringType(), True),
        T.StructField("type_name", T.StringType(), True),
        T.StructField("type_instance", T.StringType(), True),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("value2", T.DoubleType(), True),
        T.StructField("value3", T.DoubleType(), True),
        T.StructField("value4", T.DoubleType(), True),
        T.StructField("value5", T.DoubleType(), True),
    ]
)

# NetFlow v5 record (src/RamenNetflow.ml:14-142)
NETFLOW_V5_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("start", T.DoubleType(), False),
        T.StructField("stop", T.DoubleType(), False),
        T.StructField("seqnum", T.LongType(), False),
        T.StructField("engine_type", T.IntegerType(), False),
        T.StructField("engine_id", T.IntegerType(), False),
        T.StructField("sampling_type", T.IntegerType(), False),
        T.StructField("sampling_rate", T.IntegerType(), False),
        T.StructField("src", T.LongType(), False),  # ipv4 as long
        T.StructField("dst", T.LongType(), False),
        T.StructField("next_hop", T.LongType(), False),
        T.StructField("src_port", T.IntegerType(), False),
        T.StructField("dst_port", T.IntegerType(), False),
        T.StructField("in_iface", T.IntegerType(), False),
        T.StructField("out_iface", T.IntegerType(), False),
        T.StructField("packets", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("tcp_flags", T.IntegerType(), False),
        T.StructField("ip_proto", T.IntegerType(), False),
        T.StructField("ip_tos", T.IntegerType(), False),
        T.StructField("src_as", T.IntegerType(), False),
        T.StructField("dst_as", T.IntegerType(), False),
        T.StructField("src_mask", T.IntegerType(), False),
        T.StructField("dst_mask", T.IntegerType(), False),
    ]
)


class UdpSpool:
    """Binary UDP receiver → durable Parquet spool.

    Spark has no UDP source (the builtin socket source is TCP text),
    so the receiver is explicit: a thread binds the socket, batches
    datagrams, and lands them atomically as parquet files of
    (packet binary, recv_ts double, peer string) which a file stream
    tails. This is the production shape anyway — UDP is lossy and
    unreplayable, so the reference's workers also land packets into
    durable ringbufs first (src/CodeGenLib_IO.ml UDP reader →
    ringbuf); at scale you run one spool per ingest node, all writing
    to the same object-store prefix the single stream tails.
    """

    SCHEMA = T.StructType(
        [
            T.StructField("packet", T.BinaryType(), False),
            T.StructField("recv_ts", T.DoubleType(), False),
            T.StructField("peer", T.StringType(), True),
        ]
    )

    def __init__(
        self,
        host: str,
        port: int,
        spool_dir: str,
        flush_packets: int = 512,
        flush_seconds: float = 1.0,
    ):
        import os
        import socket
        import threading

        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.bind((host, port))
        self._sock.settimeout(0.2)
        self.port = self._sock.getsockname()[1]  # resolved ephemeral port
        self._buf: list[tuple[bytes, float, str]] = []
        self._lock = threading.Lock()
        self._flush_lock = threading.Lock()
        self._stop = threading.Event()
        self._n_files = 0
        self._flush_packets = flush_packets
        self._flush_seconds = flush_seconds
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        import socket
        import time

        last_flush = time.time()
        while not self._stop.is_set():
            try:
                data, addr = self._sock.recvfrom(65535)
                with self._lock:
                    self._buf.append((data, time.time(), f"{addr[0]}:{addr[1]}"))
            except socket.timeout:
                pass
            now = time.time()
            if len(self._buf) >= self._flush_packets or (
                self._buf and now - last_flush >= self._flush_seconds
            ):
                self.flush()
                last_flush = now

    def flush(self) -> None:
        """Land buffered datagrams as one parquet file (atomic rename
        so the tailing stream never sees a partial file). Serialized:
        callers may flush concurrently with the receiver thread."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        with self._flush_lock:
            with self._lock:
                batch, self._buf = self._buf, []
            if not batch:
                return
            tbl = pa.table(
                {
                    "packet": pa.array([b for b, _, _ in batch], pa.binary()),
                    "recv_ts": pa.array([t for _, t, _ in batch], pa.float64()),
                    "peer": pa.array([p for _, _, p in batch], pa.string()),
                }
            )
            tmp = os.path.join(self.spool_dir, f"._pkt_{self._n_files:08d}.tmp")
            dst = os.path.join(self.spool_dir, f"pkt_{self._n_files:08d}.parquet")
            pq.write_table(tbl, tmp)
            os.rename(tmp, dst)
            self._n_files += 1

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self.flush()
        self._sock.close()


def listen_for(
    spark: SparkSession,
    protocol: str,
    host: str = "127.0.0.1",
    port: int = 0,
    spool_dir: str | None = None,
) -> tuple[DataFrame, UdpSpool]:
    """LISTEN FOR collectd|netflow (src/raql_operation.type:139-145):
    a real UDP receiver (``UdpSpool``) feeding the wire-format decode
    kernels (sources.binary) through a parquet file stream. Returns
    (decoded typed stream, spool handle) — read ``spool.port`` for the
    resolved ephemeral port; ``spool.close()`` when done."""
    import tempfile

    from ramen_spark.sources.binary import decode_collectd, decode_netflow_v5

    decoders = {"netflow": decode_netflow_v5, "collectd": decode_collectd}
    if protocol not in decoders:
        raise ValueError(f"LISTEN FOR {protocol!r}: supported: {sorted(decoders)}")
    spool = UdpSpool(
        host, port, spool_dir or tempfile.mkdtemp(prefix=f"listen_{protocol}_")
    )
    stream = (
        spark.readStream.schema(UdpSpool.SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(spool.spool_dir)
    )
    return decoders[protocol](stream), spool


GRAPHITE_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("start", T.DoubleType(), True),
    ]
)


def parse_graphite(df: DataFrame, line_col: str = "value") -> DataFrame:
    """LISTEN FOR graphite (src/RamenGraphiteSink.ml): plaintext
    ``metric.path value timestamp`` lines → typed rows. Pure builtin
    split/cast expressions, so it composes with the text socket source
    (``spark.readStream.format("socket")``) or any line stream;
    malformed lines surface as NULL value/start rather than dropping
    (the filter is the caller's policy decision)."""
    parts = F.split(F.trim(F.col(line_col)), r"\s+")
    return df.select(
        F.try_element_at(parts, F.lit(1)).alias("metric"),
        F.try_element_at(parts, F.lit(2)).cast("double").alias("value"),
        F.try_element_at(parts, F.lit(3)).cast("double").alias("start"),
    )


def listen_for_graphite(
    spark: SparkSession, host: str, port: int
) -> DataFrame:
    """LISTEN FOR graphite over TCP: Spark's socket source (text
    lines) → parse_graphite typed rows. The socket source is a
    CLIENT: point it at the host:port where the graphite feed is
    served (carbon relay, netcat bridge). Not fault-tolerant by
    design (Spark documents the socket source as such) — durable
    ingestion goes file/Kafka; this is the live-tap path matching the
    reference's plaintext listener (src/RamenGraphiteSink.ml)."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return parse_graphite(lines)
