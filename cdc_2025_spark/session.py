"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the conf below is written for a real
cluster (AQE on, skew-join handling, broadcast threshold, Arrow for
the few pandas-UDF operators). Nothing here is cluster-manager
specific, so the same factory works under YARN/K8s with a different
``master``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from weakref import WeakKeyDictionary

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "cdc-2025-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target correctness + scale hygiene:

    - AQE enabled: runtime shuffle-partition coalescing, skew-join
      splitting, and broadcast-join demotion/promotion — the primary
      defense for the 100 TB design goal where static planning guesses
      wrong.
    - Arrow enabled for the pandas-UDF operators (similarity search,
      multimodal decode) — vectorized JVM<->Python transfer.
    - ``local[N]`` and the shuffle partitions default to the cores this
      process may run on (``SPARK_GRAFT_CPUS`` overrides); on a real
      cluster AQE coalesces from a high initial number, so the static
      value matters little.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # ANSI ON: matches the Spark 4 default and the verification
        # driver's session. Round 1 shipped ansi=false locally and a
        # bigint overflow (minhash affine hash) surfaced only under the
        # driver — correctness must not depend on session mode, so the
        # engine runs what the driver runs. Coercion boundaries that
        # need invalid->NULL semantics use try_cast explicitly.
        .config("spark.sql.ansi.enabled", "true")
        # DataFrame debugging (PySpark call-site capture for error
        # messages) costs ~10 py4j round trips per Column/DataFrame
        # API call — measured 11.2 ms per F.col() on this machine
        # with it on vs 0.6 ms off (pyspark/errors/utils.py wrapper:
        # _capture_call_site walks the Python stack and pushes the
        # origin to a JVM thread-local on EVERY call). Pure driver
        # overhead, zero effect on results; production clusters
        # disable it for exactly this reason. (r15 optimization §1)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # preferSortMergeJoin=false was tried in r15 (guide §3.1) and
        # REVERTED in r16: a controlled A/B (same session protocol,
        # min-of-5 at 32 cores, plan pair committed at
        # plans/r16/text_trigram_stupid_backoff_{smj,shj}.txt showing
        # the 2 SortMergeJoin -> 2 ShuffledHashJoin flip) measured NO
        # reproducible win on any flipped query (trigram 1.56 s SMJ
        # vs 1.74 s SHJ; every other candidate within noise), and the
        # r15 advisor's risk note stands: the planner's SHJ choice is
        # plan-time only — a misestimated/skewed build side has no
        # runtime sort-merge fallback and can OOM an executor at
        # scale. Default (sort-merge preferred, AQE may still pick
        # SHJ where it proves safe at runtime) is the right posture.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# per-session artifact dicts: key -> (value, storage level to restore)
_ARTIFACTS: WeakKeyDictionary = WeakKeyDictionary()


def artifact(spark: SparkSession, key: tuple, build: Callable):
    """The session's artifact under ``key``: ``build()`` on the first
    request, the same object on every later one.

    ``key[0]`` names the artifact; the rest covers everything the
    build depends on — its parameters and ``io.table_stamp`` of every
    table it reads, so a table rewritten in place is a new key and a
    rebuild, never a stale hit. The dict is keyed weakly on the
    session: artifacts live as long as it does (an ``id()`` key could
    collide with a recycled address, a strong one would pin every
    session's persisted plans for the process lifetime).

    ``catalog.clearCache()`` drops persist intent along with the
    blocks, so a DataFrame that ``build()`` persisted is persisted
    again, at its recorded level, on a hit that finds it at NONE.
    ``localCheckpoint`` blocks are RDD blocks and outlive
    ``clearCache()``; checkpointed frames and driver-side values are
    returned as they are, with no JVM call on a hit.
    """
    per_session = _ARTIFACTS.setdefault(spark, {})
    if key not in per_session:
        value = build()
        level = StorageLevel.NONE
        if isinstance(value, DataFrame) and value.is_cached:
            level = value.storageLevel
        per_session[key] = value, level
    value, level = per_session[key]
    if level != StorageLevel.NONE and value.storageLevel == StorageLevel.NONE:
        value.persist(level)
    return value
