"""Hash-partitioned, versioned state store with merge-on-read deltas.

The scale problem this solves: a streaming pipeline that full-outer-joins
each micro-batch's delta against its *entire* accumulated state and
rewrites the whole snapshot degrades linearly with lifetime state size —
at 10^12 turns the label/verdict state is billions of entities and a
per-batch O(|state|) rewrite is a scale-killer.

State is hash-partitioned into ``num_partitions`` buckets by key
(``pmod(xxhash64(keys), P)`` — the same bucketing a real cluster would
use for co-located state). One write path, merge-on-read
(``merge_append``): a batch appends ONLY its delta rows as new
per-bucket parquet files — O(|delta|) writes, no read of current state
at all — and ``read()`` resolves base+deltas to one row per key with a
caller-supplied associative ``resolve_fn`` (default: latest generation
wins, Iceberg MOR's equality-delete semantics). The round-3 full-stack
run showed why a copy-on-write rewrite of dirty buckets cannot serve
here: with dense deltas every bucket is dirty each batch (150k active
conversations → all 64 buckets touched), so the rewrite grows with the
whole flagged set (15.5k→47.9k rows/batch). A bucket whose live
file-list exceeds ``max_delta_files`` is compacted lazily during the
merge that trips the threshold: its files fold into one resolved base
file, bounding read amplification at O(max_delta_files) while keeping
amortized write cost O(|delta|).

Each merge publishes a new manifest (bucket id → ordered file list) plus
pointer atomically. This is the plain-parquet stand-in for an
Iceberg/Delta MOR table: the manifest is Iceberg's snapshot manifest,
the pointer file is the catalog's atomic swap, delta files are
equality-delete + data files, lazy compaction is ``rewrite_data_files``,
``before_batch`` reads are time-travel. On a real cluster the same class
works over an object store path; with Iceberg jars present
``merge_append`` becomes a fanout append and ``read`` a MOR scan.

Exactly-once: the pointer records the last applied ``batch_id``; a
replayed merge of the same batch is a no-op, and ``read(before_batch=b)``
returns the pre-``b`` snapshot so a replayed batch re-evaluates against
exactly the state it originally saw (reads-before-writes ordering).

Reference parity: the reference's label service mutates single rows
per entity (worker/lib/storage/labels.py:28-95); per-batch O(|delta|)
write cost is the distributed analog of that per-entity cost model.
"""

from __future__ import annotations

import glob
import json
import os
import re
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PART = "__state_part"
# Write-generation column, STAMPED INTO THE DATA at write time (a
# literal, so it costs nothing at scan). Deriving it from the file path
# via input_file_name() instead would mark the projection
# non-deterministic and BLOCK predicate pushdown through the MOR
# resolution aggregate — a per-label read would then scan the whole
# state table (measured: the key-filter sat above the scan with no
# PushedFilters).
GEN_COL = "__state_gen"
_GEN_DIR_RE = re.compile(r"^d\d+x?$")


def latest_wins(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Default MOR resolution: the newest generation's row wins per key
    (Iceberg equality-delete semantics). One hash aggregation with
    map-side partial combine; no window sort."""
    payload_cols = [c for c in df.columns if c not in (*key_cols, GEN_COL, _PART)]
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return (
        df.groupBy(*key_cols)
        .agg(F.max_by(payload, F.col(GEN_COL)).alias("_r"))
        .select(*key_cols, "_r.*")
    )


class HashPartitionedStateStore:
    def __init__(
        self,
        path: str,
        key_cols: list[str],
        schema: str,
        num_partitions: int = 64,
        max_delta_files: int = 8,
        resolve_fn: Optional[Callable[[DataFrame], DataFrame]] = None,
    ):
        """``resolve_fn(df) -> df`` collapses rows to one per key. It
        receives the raw base+delta rows with an extra ``__state_gen``
        long column (monotone write order) and must be ASSOCIATIVE and
        insensitive to physical row order — compaction applies it to any
        prefix of a bucket's files and the result must resolve identically
        against later deltas. Default: :func:`latest_wins`."""
        self.path = path
        self.key_cols = key_cols
        self.schema = schema  # DDL string of the full state row
        self.num_partitions = num_partitions
        self.max_delta_files = max_delta_files
        self.resolve_fn = resolve_fn
        self.last_merge_stats: dict = {}
        os.makedirs(path, exist_ok=True)

    # -- pointer / manifest ---------------------------------------------------

    def _pointer_file(self) -> str:
        return os.path.join(self.path, "_POINTER.json")

    def _manifest_file(self, version: int) -> str:
        return os.path.join(self.path, f"manifest_v{version}.json")

    def pointer(self) -> dict:
        try:
            with open(self._pointer_file()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": -1, "batch_id": None}

    def current_version(self) -> int:
        return int(self.pointer()["version"])

    def last_batch_id(self) -> Optional[int]:
        return self.pointer()["batch_id"]

    def _load_manifest(self, version: int) -> dict:
        """Raw manifest document. Current format:
        ``{"buckets": {bucket → [rel dirs]}, "stats": {rel → [rows, bytes]}}``;
        pre-round-5 manifests were the bare ``buckets`` mapping (no stats)
        and are read compatibly."""
        if version < 0:
            return {"buckets": {}, "stats": {}}
        with open(self._manifest_file(version)) as f:
            raw = json.load(f)
        if "buckets" not in raw:
            raw = {"buckets": raw, "stats": {}}
        raw["buckets"] = {
            b: [rels] if isinstance(rels, str) else rels
            for b, rels in raw["buckets"].items()
        }
        raw.setdefault("stats", {})
        return raw

    def _manifest(self, version: int) -> dict[str, list[str]]:
        """bucket id → ordered (oldest→newest) list of live data dirs."""
        return self._load_manifest(version)["buckets"]

    def _publish(
        self,
        manifest: dict[str, list[str]],
        batch_id: Optional[int],
        stats: Optional[dict[str, list[int]]] = None,
    ) -> int:
        # keep stats only for rels still referenced (manifest-carried file
        # statistics, the Iceberg manifest-metrics analog: size queries
        # never re-stat the data tree)
        live = {rel for rels in manifest.values() for rel in rels}
        stats = {rel: s for rel, s in (stats or {}).items() if rel in live}
        v = self.current_version() + 1
        with open(self._manifest_file(v), "w") as f:
            json.dump({"buckets": manifest, "stats": stats}, f)
        tmp = self._pointer_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v, "batch_id": batch_id}, f)
        os.rename(tmp, self._pointer_file())  # atomic snapshot swap
        return v

    # -- reads ----------------------------------------------------------------

    def _empty(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], self.schema)

    def _data_schema(self) -> str:
        return f"{self.schema}, {GEN_COL} long"

    def _resolve(self, df: DataFrame) -> DataFrame:
        if self.resolve_fn is not None:
            return self.resolve_fn(df)
        return latest_wins(df, self.key_cols)

    def _scan(self, spark: SparkSession, manifest: dict[str, list[str]], buckets=None) -> DataFrame:
        entries = manifest if buckets is None else {
            str(b): manifest[str(b)] for b in buckets if str(b) in manifest
        }
        paths = [os.path.join(self.path, rel) for rels in entries.values() for rel in rels]
        if not paths:
            return self._empty(spark)
        df = spark.read.schema(self._data_schema()).parquet(*paths)
        if any(len(rels) > 1 for rels in entries.values()):
            # merge-on-read: some bucket carries un-compacted deltas
            return self._resolve(df)
        return df.drop(GEN_COL)

    def read(
        self, spark: SparkSession, before_batch: Optional[int] = None
    ) -> DataFrame:
        """Current resolved snapshot (one row per key); with
        ``before_batch=b``, the snapshot as of before batch ``b`` was
        applied (replay-consistent reads). Filters on the key columns
        push below the MOR resolution (they are grouping columns), so a
        per-label HasLabel read still prunes at the scan."""
        ptr = self.pointer()
        v = int(ptr["version"])
        if before_batch is not None and ptr["batch_id"] == before_batch:
            v -= 1  # this batch already applied (crash between state and sink)
        if v < 0:
            return self._empty(spark)
        return self._scan(spark, self._manifest(v))

    def approx_size_bytes(self) -> int:
        """Total bytes of the current snapshot's live data files, from the
        MANIFEST-CARRIED stats recorded at publish time — a dict sum, no
        filesystem walk (this runs in the per-batch path via the broadcast
        guard; a glob-stat of every live file degrades linearly with
        bucket × delta count). Rels from pre-stats manifests fall back to
        a one-off stat walk. With pending deltas this over-counts the
        resolved size, which is the safe direction for a broadcast
        guard."""
        doc = self._load_manifest(self.current_version())
        total = 0
        for rels in doc["buckets"].values():
            for rel in rels:
                s = doc["stats"].get(rel)
                if s is not None:
                    total += int(s[1])
                else:  # legacy manifest without stats
                    for fp in glob.glob(os.path.join(self.path, rel, "*.parquet")):
                        total += os.path.getsize(fp)
        return total

    # -- merge-on-read write path ---------------------------------------------

    def merge_append(self, delta: DataFrame, batch_id: Optional[int] = None) -> int:
        """Append ``delta`` as per-bucket MOR delta files — O(|delta|)
        write cost, NO read of current state. ``delta`` must hold at most
        one row per key (pre-collapse the batch) and be self-contained
        under ``resolve_fn`` (whole-row resolution, not field patching).
        Buckets whose live file count exceeds ``max_delta_files`` are
        compacted in the same publish. Idempotent per ``batch_id``."""
        if batch_id is not None and self.last_batch_id() == batch_id:
            return self.current_version()  # replay → already applied
        spark = delta.sparkSession
        v = self.current_version() + 1
        gen_dir = f"d{v}"
        (
            delta.withColumn(GEN_COL, F.lit(v))
            .withColumn(_PART, self._part_of())
            .repartition(min(self.num_partitions, 32), F.col(_PART))
            .write.partitionBy(_PART)
            .mode("overwrite")
            .parquet(os.path.join(self.path, gen_dir))
        )

        doc = self._load_manifest(v - 1)
        manifest = {b: list(rels) for b, rels in doc["buckets"].items()}
        stats = dict(doc["stats"])
        rows_appended = 0
        touched = []
        for d in glob.glob(os.path.join(self.path, gen_dir, f"{_PART}=*")):
            b = d.rsplit("=", 1)[1]
            touched.append(int(b))
            rel = f"{gen_dir}/{_PART}={b}"
            manifest.setdefault(b, []).append(rel)
            stats[rel] = _dir_stats(d)
            rows_appended += stats[rel][0]
        if not touched:
            # empty delta: no state change → nothing to version (replaying
            # an empty merge is naturally idempotent)
            self.last_merge_stats = {
                "partitions_touched": 0,
                "rows_appended": 0,
                "rows_compacted": 0,
                "buckets_compacted": 0,
                "rows_rewritten": 0,
            }
            return self.current_version()

        # lazy compaction: fold over-threshold buckets into one base file
        over = [b for b, rels in manifest.items() if len(rels) > self.max_delta_files]
        rows_compacted = 0
        if over:
            cdir = f"d{v}x"
            folded = self._resolve(
                spark.read.schema(self._data_schema()).parquet(
                    *[os.path.join(self.path, rel) for b in over for rel in manifest[b]]
                )
            )
            (
                folded.withColumn(GEN_COL, F.lit(v))
                .withColumn(_PART, self._part_of())
                .repartition(min(len(over), 32), F.col(_PART))
                .write.partitionBy(_PART)
                .mode("overwrite")
                .parquet(os.path.join(self.path, cdir))
            )
            compacted_buckets = set()
            for d in glob.glob(os.path.join(self.path, cdir, f"{_PART}=*")):
                b = d.rsplit("=", 1)[1]
                compacted_buckets.add(b)
                rel = f"{cdir}/{_PART}={b}"
                manifest[b] = [rel]
                stats[rel] = _dir_stats(d)
                rows_compacted += stats[rel][0]
            for b in over:
                if b not in compacted_buckets:  # bucket resolved to empty
                    manifest.pop(b, None)

        self.last_merge_stats = {
            "partitions_touched": len(touched),
            "rows_appended": rows_appended,
            "rows_compacted": rows_compacted,
            "buckets_compacted": len(over),
            # physical write volume this merge: the delta itself plus any
            # amortized compaction — O(|delta|) steady-state, NOT O(|state|)
            "rows_rewritten": rows_appended + rows_compacted,
        }
        self._publish(manifest, batch_id, stats=stats)
        return v

    def _part_of(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.num_partitions)
        ).cast("int")

    # -- snapshot expiry --------------------------------------------------------

    def expire_snapshots(self, keep_versions: int = 4) -> int:
        """Delete data generations and manifests unreachable from the
        newest ``keep_versions`` manifests — the Iceberg
        ``expire_snapshots`` analog. Returns the number of generation
        directories removed.

        CONTRACT: ``keep_versions`` must cover the pipeline's replay
        window — a replayed batch reads ``before_batch`` snapshots, and
        expiring a version a pending replay still needs breaks resume.
        The pipeline retries at most the last un-marked batch, so any
        value ≥ 2 is safe there; callers doing deeper time-travel size it
        themselves."""
        import shutil

        current = self.current_version()
        if current < 0:
            # nothing published yet (e.g. a crash between the first
            # manifest write and its pointer publish left a stale
            # manifest_v0.json) — nothing is safely expirable
            return 0
        keep = range(max(0, current - keep_versions + 1), current + 1)
        live_gens: set[str] = set()
        for v in keep:
            try:
                for rels in self._manifest(v).values():
                    for rel in rels:
                        live_gens.add(rel.split("/", 1)[0])
            except FileNotFoundError:
                continue
        removed = 0
        for entry in os.listdir(self.path):
            full = os.path.join(self.path, entry)
            if _GEN_DIR_RE.match(entry) and os.path.isdir(full):
                if entry not in live_gens:
                    shutil.rmtree(full, ignore_errors=True)
                    removed += 1
            elif entry.startswith("manifest_v") and entry.endswith(".json"):
                v = int(entry[len("manifest_v") : -len(".json")])
                if v < min(keep):
                    os.remove(full)
        return removed


def _dir_stats(directory: str) -> list[int]:
    """``[rows, bytes]`` from parquet footers + file sizes — a one-time
    driver-side metadata read at PUBLISH, recorded into the manifest so
    later size queries (``approx_size_bytes``, the broadcast guard) are
    dict lookups, never filesystem walks (the Iceberg manifest-statistics
    analog)."""
    import pyarrow.parquet as pq

    rows = size = 0
    for fp in glob.glob(os.path.join(directory, "*.parquet")):
        rows += pq.ParquetFile(fp).metadata.num_rows
        size += os.path.getsize(fp)
    return [rows, size]
