"""remote_shuffle_spark — a PySpark-native analytics engine.

Re-expresses the capability set of the reference (oap-project/remote-shuffle,
a Spark ShuffleManager plugin for disaggregated storage — see SURVEY.md) on
top of the public PySpark DataFrame/SQL API:

- ``session``     — SparkSession factory + engine config (reference config
                    surface: shuffle-hadoop RemoteShuffleConf.scala:22-112,
                    shuffle-daos package.scala:29-283).
- ``jvm_archive`` — the driver JVM's class-data-sharing archive, which
                    halves a local session's start-up.
- ``sources``     — table loaders for the driver-generated parquet fixtures.
- ``queries``     — the declared query set (SURVEY.md §2.2 Q1-Q16) plus EXT
                    LLM-pipeline queries, each with a DuckDB oracle.
- ``operators``   — dedup / similarity / text-analysis / multimodal operators
                    (EXT, no reference counterpart).
- ``functions``   — column-expression helpers (hashing, vector math).
- ``plans``       — shuffle-policy layer: exchange materialization to remote
                    storage (parity with RemoteShuffleBlockResolver commit
                    semantics), skew mitigation, plan assertions.
- ``streaming``   — Structured Streaming demo over the events table (EXT).
"""

from remote_shuffle_spark.session import EngineConfig, get_session

__all__ = ["EngineConfig", "get_session"]
__version__ = "0.1.0"
