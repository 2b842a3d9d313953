"""Versioned state store with merge-on-read deltas.

The scale problem this solves: a streaming pipeline that full-outer-joins
each micro-batch's delta against its *entire* accumulated state and
rewrites the whole snapshot degrades linearly with lifetime state size —
at 10^12 turns the label/verdict state is billions of entities and a
per-batch O(|state|) rewrite is a scale-killer.

Merge-on-read: the store is an ordered list of live *generations*, and
``read()`` resolves them to one row per key with the store's associative
``resolve_fn`` (the label store keeps the latest manual-else-latest
mutation, the verdict store sums counts). A generation is one of two
kinds:

- a **log generation** (``register``): a ``<name>=<batch_id>`` directory
  another writer already committed — the streaming pipeline registers
  its sink's ``data/batch=<b>`` directory, so a batch's state delta rides
  the sink's one data write. Registering publishes a manifest and
  pointer and runs no Spark job; ``log_view`` maps the directory's rows
  to state rows on read;
- a **written generation** (``merge_append``): a delta frame the store
  writes itself as ``d{v}`` — the path for callers outside the pipeline.

Once the live generations exceed ``max_delta_files``, the call that adds
one folds all of them into one resolved base ``d{v}x`` (per-store
compaction, the only state-file write on the pipeline path), bounding
read amplification at ``max_delta_files + 1`` directories while keeping
amortized write cost O(|delta|). On dense traffic nearly every key range
is touched by every batch, so folding the whole store writes about what
a per-range fold would; and every batch already reads the whole state.

One generation clock orders both kinds: a log generation of batch ``b``
is ``(b + 1) << 32``, read from the directory's partition value; a
written one is the store's clock + 1, stamped into its rows. An external
write therefore orders after every batch registered before it and
before every batch registered after it. The clock is data, never a
per-batch literal of the read plan: Spark inlines int/long literals into
generated code, so a literal that changes every batch would recompile
the read every batch.

A read is at most two parquet scans with explicit schemas: one over the
written generations and one over all log directories (they share a
parent, which is the scan's ``basePath``). No footer is read and, below
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths,
no listing job runs. It resolves unless its only live generation is a
compacted base, which holds one row per key.

Each change publishes a new manifest (the ordered live generation list,
under a single key of ``buckets``) plus pointer atomically. This is the
plain-parquet stand-in for an Iceberg/Delta MOR table: the manifest is
Iceberg's snapshot manifest, the pointer file is the catalog's atomic
swap, generations are equality-delete + data files, lazy compaction is
``rewrite_data_files``, ``before_batch`` reads are time-travel.

Exactly-once: the pointer records the last applied ``batch_id``; a
replayed ``register``/``merge_append`` of the same batch is a no-op, and
``read(before_batch=b)`` returns the pre-``b`` snapshot so a replayed
batch re-evaluates against exactly the state it originally saw
(reads-before-writes ordering). ``expire_snapshots`` deletes only the
store's own ``d*`` directories, never a registered log directory.

Reference parity: the reference's label service mutates single rows
per entity (worker/lib/storage/labels.py:28-95); per-batch O(|delta|)
write cost is the distributed analog of that per-entity cost model.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osprey_spark.streaming.sink import footer_rows

# Generation column. A written generation STAMPS it into its rows (a
# literal of the write, so it costs nothing at scan); a log generation
# derives it from its directory's partition value. Deriving it from the
# file path via input_file_name() instead would mark the projection
# non-deterministic and BLOCK predicate pushdown through the MOR
# resolution aggregate — a per-label read would then scan the whole
# state table (measured: the key-filter sat above the scan with no
# PushedFilters).
GEN_COL = "__state_gen"
_GEN_DIR_RE = re.compile(r"^d\d+x?$")
# a log generation of batch b is generation (b + 1) << _LOG_SHIFT: above
# every written generation stamped before it, below every later batch's
_LOG_SHIFT = 32
# the manifest's single ``buckets`` key: every live generation is listed
# under it, oldest → newest
_LIVE = "0"


class MorStateStore:
    def __init__(
        self,
        path: str,
        schema: str,
        resolve_fn: Callable[[DataFrame], DataFrame],
        max_delta_files: int = 8,
        log_schema: Optional[str] = None,
        log_view: Optional[Callable[[DataFrame], DataFrame]] = None,
    ):
        """``resolve_fn(df) -> df`` collapses rows to one per key. It
        receives the raw rows of every live generation with an extra
        ``__state_gen`` long column (the generation clock) and must be
        ASSOCIATIVE and insensitive to physical row order — compaction
        applies it to any prefix of the live generations and the result
        must resolve identically against later generations.

        ``log_schema`` (DDL) is the columns ``register``ed directories
        are scanned with, and ``log_view(df) -> df`` maps those rows
        (plus ``__state_gen``) to state rows plus ``__state_gen``."""
        self.path = path
        self.schema = schema  # DDL string of the full state row
        self.max_delta_files = max_delta_files
        self.resolve_fn = resolve_fn
        self.log_schema = log_schema
        self.log_view = log_view
        self.last_merge_stats: dict = {}
        os.makedirs(path, exist_ok=True)

    # -- pointer / manifest ---------------------------------------------------

    def _pointer_file(self) -> str:
        return os.path.join(self.path, "_POINTER.json")

    def _manifest_file(self, version: int) -> str:
        return os.path.join(self.path, f"manifest_v{version}.json")

    def pointer(self) -> dict:
        """``{"version", "batch_id", "gen"}``: the published version, the
        batch that published it and the newest generation's clock."""
        try:
            with open(self._pointer_file()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": -1, "batch_id": None, "gen": 0}

    def current_version(self) -> int:
        return int(self.pointer()["version"])

    def last_batch_id(self) -> Optional[int]:
        return self.pointer()["batch_id"]

    def _load_manifest(self, version: int) -> dict:
        """Manifest document ``{"buckets": {"0": [live generation dirs]}}``."""
        if version < 0:
            return {"buckets": {}}
        with open(self._manifest_file(version)) as f:
            return json.load(f)

    def _live(self, version: int) -> list[str]:
        """Live generations of ``version``, as paths relative to the
        store (resolution orders rows by their generation clock, not by
        list position)."""
        return self._load_manifest(version)["buckets"].get(_LIVE, [])

    def _publish(self, live: list[str], batch_id: Optional[int], gen: int) -> int:
        v = self.current_version() + 1
        with open(self._manifest_file(v), "w") as f:
            json.dump({"buckets": {_LIVE: live}}, f)
        tmp = self._pointer_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v, "batch_id": batch_id, "gen": gen}, f)
        os.rename(tmp, self._pointer_file())  # atomic snapshot swap
        return v

    # -- reads ----------------------------------------------------------------

    def _empty(self, spark: SparkSession) -> DataFrame:
        # limit(0) optimizes to an empty local relation, which the
        # optimizer folds out of a join; a bare empty RDD has no size
        # estimate, so a join against it would shuffle the whole batch
        return spark.createDataFrame([], self.schema).limit(0)

    def _data_schema(self) -> str:
        return f"{self.schema}, {GEN_COL} long"

    def _log_scan(self, spark: SparkSession, logs: list[str]) -> DataFrame:
        """Every log directory in one scan; ``basePath`` turns their
        ``<name>=<batch_id>`` names into a partition column, which gives
        each row its generation."""
        paths = [os.path.normpath(os.path.join(self.path, rel)) for rel in logs]
        part = os.path.basename(paths[0]).split("=")[0]
        df = (
            spark.read.schema(self.log_schema)
            .option("basePath", os.path.dirname(paths[0]))
            .parquet(*paths)
        )
        gen = F.shiftleft(F.col(part).cast("long") + 1, _LOG_SHIFT)
        return self.log_view(df.withColumn(GEN_COL, gen))

    def _scan(self, spark: SparkSession, live: list[str]) -> DataFrame:
        if not live:
            return self._empty(spark)
        written = [rel for rel in live if _GEN_DIR_RE.match(rel)]
        logs = [rel for rel in live if not _GEN_DIR_RE.match(rel)]
        parts = []
        if written:
            parts.append(
                spark.read.schema(self._data_schema()).parquet(
                    *[os.path.join(self.path, rel) for rel in written]
                )
            )
        if logs:
            parts.append(self._log_scan(spark, logs))
        df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        if len(live) == 1 and live[0].endswith("x"):
            return df.drop(GEN_COL)  # a compacted base: one row per key
        # merge-on-read: resolve every generation to one row per key
        return self.resolve_fn(df)

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
        return self._scan(spark, self._live(v))

    # -- write paths ----------------------------------------------------------

    def register(self, spark: SparkSession, directory: str, batch_id: int) -> int:
        """Publish ``directory`` — a committed ``<name>=<batch_id>``
        directory, read through ``log_view`` — as the generation of batch
        ``batch_id``. Writes no state file and runs no Spark job unless
        the new generation takes the live count past ``max_delta_files``
        (then it compacts). Idempotent per ``batch_id``."""
        if self.last_batch_id() == batch_id:
            return self.current_version()  # replay → already applied
        gen = (batch_id + 1) << _LOG_SHIFT
        if gen <= self.pointer()["gen"]:
            raise ValueError(
                f"batch {batch_id} would not order after the store's newest generation"
            )
        return self._add(spark, os.path.relpath(directory, self.path), gen, batch_id, 0)

    def merge_append(self, delta: DataFrame, batch_id: Optional[int] = None) -> int:
        """Write ``delta`` as one generation directory — O(|delta|) write
        cost, NO read of current state. Its rows are resolved on read
        like any generation's, so it need not be pre-collapsed per key,
        but each row must be self-contained under ``resolve_fn``
        (whole-row resolution, not field patching). Idempotent per
        ``batch_id``."""
        if batch_id is not None and self.last_batch_id() == batch_id:
            return self.current_version()  # replay → already applied
        v = self.current_version() + 1
        gen = self.pointer()["gen"] + 1
        gen_dir = f"d{v}"
        rows_appended = self._write_generation(delta, gen_dir, gen)
        if rows_appended == 0:
            # empty delta: no state change → nothing to version (replaying
            # an empty merge is naturally idempotent)
            shutil.rmtree(os.path.join(self.path, gen_dir), ignore_errors=True)
            self.last_merge_stats = {
                "rows_appended": 0,
                "rows_compacted": 0,
                "rows_rewritten": 0,
            }
            return self.current_version()
        return self._add(delta.sparkSession, gen_dir, gen, batch_id, rows_appended)

    def _add(
        self,
        spark: SparkSession,
        rel: str,
        gen: int,
        batch_id: Optional[int],
        rows_appended: int,
    ) -> int:
        """Publish generation ``rel`` (clock ``gen``) on top of the live
        ones; past ``max_delta_files`` live generations, fold them all
        into one base stamped ``gen`` in the same publish."""
        v = self.current_version() + 1
        live = self._live(v - 1) + [rel]
        rows_compacted = 0
        if len(live) > self.max_delta_files:
            cdir = f"d{v}x"
            rows_compacted = self._write_generation(self._scan(spark, live), cdir, gen)
            live = [cdir]
        self.last_merge_stats = {
            "rows_appended": rows_appended,
            "rows_compacted": rows_compacted,
            # physical write volume of this call: the delta itself plus any
            # amortized compaction — O(|delta|) steady-state, NOT O(|state|)
            "rows_rewritten": rows_appended + rows_compacted,
        }
        return self._publish(live, batch_id, gen)

    def _write_generation(self, df: DataFrame, rel: str, gen: int) -> int:
        """Write ``df`` stamped with generation ``gen`` as the directory
        ``rel`` (overwriting what a crashed attempt left there); returns
        its row count."""
        full = os.path.join(self.path, rel)
        df.withColumn(GEN_COL, F.lit(gen)).write.mode("overwrite").parquet(full)
        return sum(footer_rows(full).values())

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
                live_gens.update(self._live(v))
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
