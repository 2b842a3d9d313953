"""SparkSession builder tuned for this engine.

Local-mode testing uses ``local[N]``; the same config block is what we
would ship to a real cluster via ``spark-submit --py-files`` (AQE on,
Arrow on, UTC, shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# transformWithStateInPandas speaks protobuf between the JVM and its
# Python state-server workers. This image ships no standalone protobuf
# package, but the cloud-sdk on it bundles a modern runtime — expose it
# on PYTHONPATH (workers inherit the JVM's env, so this must happen
# BEFORE the JVM launches) iff `google.protobuf` isn't otherwise
# importable. The gencode/runtime version pin is relaxed via protobuf's
# own documented escape hatch (runtime_version.py:72-74).
_PROTOBUF_FALLBACK = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def _ensure_protobuf_path() -> None:
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    if not os.path.isdir(os.path.join(_PROTOBUF_FALLBACK, "google", "protobuf")):
        return  # feature stays unavailable; escalation_tws raises clearly
    import sys

    if _PROTOBUF_FALLBACK not in sys.path:
        sys.path.append(_PROTOBUF_FALLBACK)
    existing = os.environ.get("PYTHONPATH", "")
    if _PROTOBUF_FALLBACK not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            existing + os.pathsep + _PROTOBUF_FALLBACK if existing else _PROTOBUF_FALLBACK
        )
    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")


def get_spark(
    cores: int | None = None,
    app_name: str = "osprey_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to the core count — on a real cluster
    this would be ~2-3x total executor cores; partition *strategy* (keying,
    salting) lives with the operators, not here.
    """
    _ensure_protobuf_path()
    cores = cores or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

