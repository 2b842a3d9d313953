"""Exactly-once idempotent batch sink.

The reference is at-least-once (Kafka producer + ack contexts,
worker/sinks/utils/acking_contexts.py). The north-star target is an
exactly-once Iceberg sink resumable from checkpoint. Iceberg jars are
not in this image, so this implements the same commit protocol on plain
parquet: a transaction log of committed micro-batch ids; data files land
under ``data/batch=<id>/`` and become visible only when the commit
marker exists. Replayed batches (after failure/restart mid-commit) are
skipped — idempotent under Structured Streaming's batch-id replay
contract, which is exactly how the Iceberg sink achieves exactly-once.

Commit order inside ``write_batch``: the data files, then the ``extra``
callback, then the commit marker LAST. The streaming pipeline's callback
registers the batch directory as the new generation of its label and
verdict state stores, so the one data write is also both state deltas
and the marker is the single point at which a batch becomes committed.
A crash anywhere before the marker replays the batch: the data files are
rewritten and the registrations are idempotent per batch id.

Per-partition lineage: each committed batch records per-output-file row
counts read from the parquet footers (driver-side metadata, no second
evaluation of the plan — the Iceberg-manifest-statistics analog). The
round-1 implementation ran a ``groupBy(spark_partition_id()).count()``
for lineage, which evaluated the whole compiled rule plan a second time
per micro-batch; footers make lineage free.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


class IdempotentParquetSink:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.commit_dir = os.path.join(path, "_commits")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.commit_dir, exist_ok=True)

    def _commit_marker(self, batch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{batch_id}.json")

    def batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.data_dir, f"batch={batch_id}")

    def committed_batches(self) -> list[int]:
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(self.commit_dir)
            if f.endswith(".json")
        )

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._commit_marker(batch_id))

    def write_batch(
        self,
        df: DataFrame,
        batch_id: int,
        extra: Optional[Callable[[], dict]] = None,
    ) -> bool:
        """foreachBatch body. Returns False when the batch was already
        committed (replay after restart) — the exactly-once guard.

        ``extra`` is a callable evaluated AFTER the data files are
        written and BEFORE the marker — the hook for ``df.observe()``
        metrics that only exist once the single evaluation pass has run,
        and for anything that must land before the batch commits; what
        it returns rides the marker."""
        if self.is_committed(batch_id):
            return False
        target = self.batch_dir(batch_id)
        t0 = time.time()
        df.write.mode("overwrite").parquet(target)
        # per-partition lineage from the written files' footers: one plan
        # evaluation total (the write), zero extra Spark jobs
        partitions = footer_rows(target)
        extra_d = extra() if extra is not None else {}
        marker = {
            "batch_id": batch_id,
            "rows": int(sum(partitions.values())),
            "partitions": partitions,
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.time(),
            **extra_d,
        }
        tmp = self._commit_marker(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.rename(tmp, self._commit_marker(batch_id))  # atomic visibility
        return True

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        batches = self.committed_batches()
        if not batches:
            return None
        paths = [self.batch_dir(b) for b in batches]
        return spark.read.parquet(*paths)

    def marker(self, batch_id: int) -> dict:
        """The commit marker of a committed batch."""
        with open(self._commit_marker(batch_id)) as f:
            return json.load(f)

    def metrics(self) -> list[dict]:
        return [self.marker(b) for b in self.committed_batches()]


def footer_rows(directory: str) -> dict[str, int]:
    """Rows of each parquet file in ``directory``, by file name, from
    the files' footers (a metadata read in this process, no Spark job)."""
    import pyarrow.parquet as pq

    return {
        os.path.basename(fp): int(pq.ParquetFile(fp).metadata.num_rows)
        for fp in sorted(glob.glob(os.path.join(directory, "*.parquet")))
    }
