"""One replay-safe publish step for every file-writing ``foreachBatch``
lane (the dedup lanes in streaming/dedup.py, the sketch lanes in
streaming/sketch.py) and for the Kafka source's offsets checkpoint.

Spark recovers a ``foreachBatch`` query at micro-batch boundaries: a
batch whose commit was not logged runs again on restart, under the
same ``batch_id``. :class:`BatchStore` makes that batch land once:

- every named output of one batch is written under ONE version,
  ``<root>/v{n}/<name>`` (plain parquet, executor-side);
- the version is marked complete LAST: ``<root>/v{n}/_SUCCESS`` holds
  the highest batch id folded in so far;
- a ``batch_id`` at or below that mark is skipped before the lane's
  fold runs;
- readers see only marked versions: a state snapshot reads the newest
  (:meth:`BatchStore.latest`), an append log — a dedup index and its
  pairs — the union of all (:meth:`BatchStore.union`).

No renames and no delete-then-rename swaps, so this is crash-safe on
object stores too (S3A rename is a per-file copy plus delete). Crash
matrix: die before the marker, during or between output writes → the
version is invisible, and the replayed batch deletes and rewrites it;
die after the marker, before Spark logs the commit → the replayed
batch id is at or below the mark and skipped; die during a snapshot
store's GC → orphan old versions, removed by the next publish.

Replay semantics no longer differ per sketch: KMV, the quantile sample
and the weighted reservoir are idempotent folds (min-k / max-n over a
set), count-min cell sums are not, and the batch-id skip makes both
exactly-once. A publish without a batch id (a manual ``update``, a
seed corpus, a Kafka poll) is never skipped and marks no stream batch
done.

Earlier layouts still read, and never cause a skip: a ``v{n}`` whose
``_SUCCESS`` is Spark's own empty file is a one-output snapshot
written straight into ``v{n}``; with no version at all, parquet at
``<root>/<name>`` (versioned or flat) or a flat ``<root>`` is the
starting snapshot. Flat dedup index and pair directories are not read.

Out of scope, and at-least-once: the alerter, sink and API ``deliver``
lanes (``streaming/alerter.py:alerter_sink``,
``streaming/sinks.py:notify_sink``, ``api.py:tail_follow``) hand rows
to in-process callables and write no files, so a replayed batch calls
them again. The runner's and the COMMIT engine's spools use Spark's
file sink, which is exactly-once on its own.
"""

from __future__ import annotations

from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

_MARKER = "_SUCCESS"


def hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for `path` — not os.path: a lane's state dir
    lives wherever the cluster's storage is (s3://, hdfs://, …); a
    local-only check would return False there and silently RESET the
    accumulated state every micro-batch."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


class BatchStore:
    """Versioned, batch-id-keyed outputs under ``root`` (module
    docstring). ``append=True`` keeps every version (an append log);
    otherwise a publish garbage-collects all older versions (a state
    snapshot)."""

    def __init__(self, spark: SparkSession, root: str, append: bool = False):
        self.spark = spark
        self.root = root.rstrip("/")
        self.append = append

    def _glob(self, root: str, leaf: str) -> dict:
        """{n: FileStatus of ``root/v{n}/leaf``} — one listing call,
        however many versions there are."""
        fs, _ = hadoop_fs(self.spark, root)
        found = fs.globStatus(
            self.spark._jvm.org.apache.hadoop.fs.Path(f"{root}/v*/{leaf}")
        )
        out = {}
        for st in found or []:
            nm = st.getPath().getParent().getName()
            if nm[1:].isdigit():
                out[int(nm[1:])] = st
        return out

    def _markers(self, root: str) -> dict[int, int]:
        """{version: marker length} of the complete versions."""
        return {n: st.getLen() for n, st in self._glob(root, _MARKER).items()}

    def _mark_of(self, n: int, markers: dict[int, int]) -> int | None:
        """The batch high-water mark of version ``n``; None for a seed
        or manual version and for Spark's own empty marker."""
        if not markers.get(n):
            return None
        fs, p = hadoop_fs(self.spark, f"{self.root}/v{n}/{_MARKER}")
        stream = fs.open(p)
        try:
            text = stream.readUTF()
        finally:
            stream.close()
        return int(text) if text else None

    def _exists(self, path: str) -> bool:
        fs, p = hadoop_fs(self.spark, path)
        return bool(fs.exists(p))

    def current_version(self) -> int | None:
        return max(self._markers(self.root), default=None)

    def publish(
        self,
        batch_id: int | None,
        outputs: Callable[[], dict[str, DataFrame]],
    ) -> str | None:
        """Publish one batch: ``outputs()`` → {name: DataFrame}, each
        written to ``v{n+1}/<name>``, then the marker. Returns the new
        version's name, or None — without calling ``outputs`` — when
        ``batch_id`` is at or below the store's high-water mark."""
        markers = self._markers(self.root)
        n = max(markers, default=0)
        mark = self._mark_of(n, markers)
        if batch_id is not None and mark is not None and batch_id <= mark:
            return None
        vdir = f"{self.root}/v{n + 1}"
        fs, p = hadoop_fs(self.spark, vdir)
        fs.delete(p, True)  # an unmarked earlier attempt at this batch
        written = list(outputs().items())
        for name, df in written:
            df.write.parquet(f"{vdir}/{name}")
        if batch_id is not None:
            mark = batch_id if mark is None else max(mark, batch_id)
        fs, p = hadoop_fs(self.spark, f"{vdir}/{_MARKER}")
        stream = fs.create(p, True)
        try:
            stream.writeUTF("" if mark is None else str(mark))
        finally:
            stream.close()
        if not self.append:
            self._gc(n + 1, [name for name, _df in written])
        return f"v{n + 1}"

    def _gc(self, keep: int, names: list[str]) -> None:
        """Best-effort: older versions, flat legacy files under the
        root, and the earlier one-store-per-output directories."""
        try:
            fs, rp = hadoop_fs(self.spark, self.root)
            for st in fs.listStatus(rp):
                nm = st.getPath().getName()
                old = nm[:1] == "v" and nm[1:].isdigit() and nm != f"v{keep}"
                if not st.isDirectory() or old or nm in names:
                    fs.delete(st.getPath(), True)
        except Py4JJavaError:  # pragma: no cover — GC is best-effort
            pass

    def latest(self, name: str) -> DataFrame | None:
        """The newest complete version's ``name`` output (a state
        snapshot); falls back to the earlier layouts (module
        docstring)."""
        for root in (self.root, f"{self.root}/{name}"):
            markers = self._markers(root)
            if markers:
                n = max(markers)
                path = f"{root}/v{n}"
                if markers[n]:  # else Spark's own empty marker: the
                    path += f"/{name}"  # version IS the snapshot
                if not self._exists(path):
                    return None
                return self.spark.read.parquet(path)
        for root in (f"{self.root}/{name}", self.root):
            if self._exists(f"{root}/{_MARKER}"):
                return self.spark.read.parquet(root)
        return None

    def union(self, name: str) -> DataFrame | None:
        """``name`` across every complete version (an append log)."""
        done = self._markers(self.root)
        paths = [
            f"{self.root}/v{n}/{name}"
            for n in sorted(self._glob(self.root, name))
            if n in done
        ]
        return self.spark.read.parquet(*paths) if paths else None


def start_lane(
    stream: DataFrame,
    checkpoint_dir: str,
    update: Callable[[DataFrame, int], None],
):
    """Start ``stream`` as a ``foreachBatch`` lane: ``update(batch_df,
    batch_id)`` folds each micro-batch and publishes it through a
    :class:`BatchStore`. Returns the started StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
