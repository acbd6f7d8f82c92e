"""SparkSession factory and engine configuration.

The reference's own config surface is two families of knobs that tune its
shuffle I/O (``spark.shuffle.remote.*`` — shuffle-hadoop
RemoteShuffleConf.scala:22-112; ``spark.shuffle.daos.*`` — shuffle-daos
package.scala:29-283).  In a Spark-first engine those concerns map onto
Spark's own shuffle/AQE/memory knobs, so :class:`EngineConfig` exposes the
equivalents that matter at 100 TB scale:

- partial+final aggregation, sort/spill/merge, serialized shuffle are all
  Tungsten built-ins (SURVEY.md §2.1 P2-P8) — nothing to re-implement, just
  configure (AQE on, sensible shuffle partitioning).
- the reference disables bypass-merge by default because the hash path costs
  3x network I/O on remote storage (RemoteShuffleConf.scala:56-67); the
  analog here is leaving Spark's sort shuffle as default.
- AQE batch-fetch of contiguous reduce partitions
  (RemoteShuffleReader.scala:47-68) maps to
  ``spark.sql.adaptive.fetchShuffleBlocksInBatch``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


@dataclass
class EngineConfig:
    """Engine knobs, mirroring the reference's config families (SURVEY §2.1 P16).

    Defaults target local[N] testing; at cluster scale override
    ``shuffle_partitions`` (rule of thumb: 2-3x total cores, or let AQE
    coalesce from a high initial number) and ``max_partition_bytes``.
    """

    app_name: str = "remote_shuffle_spark"
    master: str | None = None  # default: local[SPARK_GRAFT_CPUS or ncpu]
    shuffle_partitions: int = field(default_factory=_default_parallelism)
    adaptive: bool = True  # AQE: runtime coalesce/skew-join/batch fetch
    session_timezone: str = "UTC"  # pinned for oracle comparison
    arrow_enabled: bool = True  # Arrow batches for pandas UDF / toPandas
    broadcast_threshold_bytes: int = 64 * 1024 * 1024
    max_partition_bytes: str = "128m"  # scan split size; 128m is the
    # sweet spot for object-store reads at 100 TB (few, large requests)
    # local mode is driver-only, so this is THE memory knob; honored only
    # before JVM start.  None = Spark default: measured on this VM, larger
    # heaps (16-48g) were up to 6x SLOWER on shuffle-heavy operators (GC
    # regime change), so the default stays small and memory-hungry probes
    # opt in explicitly.
    driver_memory: str | None = None
    extra: dict[str, str] = field(default_factory=dict)

    def to_conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            "spark.sql.adaptive.enabled": str(self.adaptive).lower(),
            "spark.sql.adaptive.coalescePartitions.enabled": str(self.adaptive).lower(),
            # skew-join split: the engine-level answer to the reference's
            # spill-first/size-sampled memory policy (MapPartitionsWriter.scala:46-57)
            "spark.sql.adaptive.skewJoin.enabled": str(self.adaptive).lower(),
            # batch fetch of contiguous reduce partitions — parity with
            # fetchContinuousBlocksInBatch (RemoteShuffleReader.scala:47-68)
            "spark.sql.adaptive.fetchShuffleBlocksInBatch": "true",
            "spark.sql.session.timeZone": self.session_timezone,
            "spark.sql.execution.arrow.pyspark.enabled": str(self.arrow_enabled).lower(),
            "spark.sql.autoBroadcastJoinThreshold": str(self.broadcast_threshold_bytes),
            "spark.sql.files.maxPartitionBytes": self.max_partition_bytes,
            # parquet: vectorized reader + pushdown are defaults; keep
            # timestamps NTZ-stable for the oracle
            "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
            "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
            # parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark's
            # timestamp types; read as epoch-nanos long, converted in
            # sources.tables.load_table
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # Long-lived drivers (the 199-query bench session, a real
            # always-on service) accumulate unreferenced broadcast blocks
            # faster than the default 30-min periodic GC releases them —
            # observed as a broadcast-build OOM ~130 queries into a bench
            # run.  5 min keeps driver heap bounded by live broadcasts.
            "spark.cleaner.periodicGC.interval": "5min",
        }
        if self.driver_memory:
            conf["spark.driver.memory"] = self.driver_memory
        conf.update(self.extra)
        return conf

    def resolved_master(self) -> str:
        return self.master or f"local[{_default_parallelism()}]"

    @classmethod
    def for_cluster(
        cls,
        *,
        total_cores: int,
        app_name: str = "remote_shuffle_spark",
        **overrides,
    ) -> "EngineConfig":
        """Preset for a real cluster at data scale.

        Sets the knobs that change between local[32] and 1000 executors:
        shuffle partitions sized ~2.5x total cores as the AQE *starting*
        point (AQE coalesces down; starting low cannot split back up
        except for skew), broadcast threshold widened for beefier
        executors.  The master URL comes from the deployment
        (spark-submit / k8s operator), not from config."""
        cfg = cls(
            app_name=app_name,
            shuffle_partitions=int(total_cores * 2.5),
            broadcast_threshold_bytes=256 * 1024 * 1024,
            **overrides,
        )
        cfg.extra.setdefault("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        # executor-loss resilience knobs (the engine-level slice of the
        # reference's no-recompute guarantee; full parity needs
        # checkpoint_to between pipeline phases)
        cfg.extra.setdefault("spark.decommission.enabled", "true")
        cfg.extra.setdefault("spark.storage.decommission.shuffleBlocks.enabled", "true")
        # Stateful streaming at scale: TWS wall-clock scales with
        # keys x batches (measured — scripts/stream_state_probe.py: 4x keys
        # -> 1.65-1.84x wall, 4x rows -> ~1.0x), and a snapshot-per-batch
        # RocksDB checkpoint uploads the FULL keyed state every micro-batch.
        # Changelog checkpointing uploads only the per-batch delta, turning
        # checkpoint cost from O(total keys) into O(keys touched this
        # batch) — mandatory at 10^9-key state.  Harmless for batch jobs
        # (only read by stateful streaming queries).
        cfg.extra.setdefault(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        return cfg


def get_session(config: EngineConfig | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    # Before the JVM exists: put the minimal protobuf shim on PYTHONPATH so
    # JVM-spawned Python workers (the TWS state protocol runs there) can
    # import google.protobuf (no-op when the real package is installed),
    # and, on local masters, run those workers under the engine's daemon,
    # which skips the per-task re-read of pyspark.zip (vendor/workerd),
    # and launch the driver JVM on its class-data-sharing archive.
    from remote_shuffle_spark.jvm_archive import driver_launch
    from remote_shuffle_spark.vendor import ensure_protobuf, python_worker_conf

    ensure_protobuf()
    config = config or EngineConfig()
    master = config.resolved_master()
    builder = SparkSession.builder.appName(config.app_name).master(master)
    with driver_launch(master, {**python_worker_conf(master), **config.to_conf()}) as conf:
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
