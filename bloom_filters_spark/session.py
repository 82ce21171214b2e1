"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we'd ship
to a multi-executor cluster via ``spark-submit`` (AQE on, Arrow on,
shuffle partitions sized to the cluster, UTC timezone pinned for oracle
comparison).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.utils import to_str


def get_spark(
    app_name: str = "bloom_filters_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # at cluster scale this is ~2-3x total executor cores; locally = cores
        shuffle_partitions = max(cores, 8)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    # The compression-off A/B win below is a SINGLE-HOST result (shuffle
    # files never cross a network and the payloads are ~incompressible
    # 8-byte hashes).  On a real fleet (non-local master) shuffles cross
    # the wire, so compression stays ON by default there and the env var
    # only opts out explicitly.
    # strictly local[...] / local[N,F] / bare "local" — NOT
    # local-cluster[...], whose separate executor JVMs fetch shuffle
    # blocks over sockets and belong with the compression-on default
    local_master = master == "local" or master.startswith("local[")
    compress_default = "false" if local_master else "true"
    conf = {
        "spark.master": master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # 12g, not "as much as the box has": on this DRAM-bandwidth-bound
        # sandbox a huge G1 heap means huge young collections whose copying
        # saturates memory bandwidth — measured 73s→18s warm pipeline at 32
        # cores going 48g→12g with capped GC threads
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "12g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # shuffle tuning from the round-3 paired A/B (tools/ab_shuffle.py,
        # BENCH/SCALING.md): the hot-path shuffle rows are 8-byte hashes +
        # ids (~incompressible), so lz4 is two pure-overhead memory passes
        # — compression off + 1m write buffers won both paired head-to-heads
        # (-7.5% wall at 32 cores, -24% at 8).  The off-default applies
        # ONLY under a local[] master (see compress_default above): a
        # non-local master keeps Spark's compression-on default unless
        # SPARK_GRAFT_SHUFFLE_COMPRESS=false explicitly opts out.
        # Buffer-size isolation (SCALING.md): 1m-vs-32k orderings flip
        # across measurement windows (second-order vs host noise); 1m won
        # 2/3 paired windows and stays.  Fleet caveat: on the bypass-merge
        # path (reduce partitions <= spark.shuffle.sort.bypassMergeThreshold,
        # default 200) each concurrent map task allocates one buffer PER
        # reduce partition — worst case 200 MB/task at 1m.  Above the
        # threshold the sort shuffle uses one buffer per spill stream and
        # 1m is safe at any partition count.  SPARK_GRAFT_SHUFFLE_BUFFER
        # overrides for bypass-merge-heavy deployments.
        "spark.shuffle.compress":
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", compress_default),
        "spark.shuffle.spill.compress":
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", compress_default),
        "spark.shuffle.file.buffer":
            os.environ.get("SPARK_GRAFT_SHUFFLE_BUFFER", "1m"),
        "spark.shuffle.localDisk.file.output.buffer":
            os.environ.get("SPARK_GRAFT_SHUFFLE_BUFFER", "1m"),
        "spark.driver.extraJavaOptions":
            "-Dio.netty.tryReflectionSetAccessible=true "
            "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2",
    }
    conf.update({k: to_str(v) for k, v in (extra_conf or {}).items()})
    active = SparkSession.getActiveSession()
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    if active is not None:
        # getOrCreate returned the pre-existing session: it applies the
        # runtime SQL confs of THIS call but silently ignores the static
        # ones (master, cores, shuffle buffers, driver JVM flags) — an
        # A/B harness that relies on them would measure the old config
        # twice with no error.  The app name is only a label.
        running = spark.sparkContext.getConf()

        def differs(k: str, v: str) -> bool:
            got = running.get(k)
            if got is not None and k.endswith("JavaOptions"):
                # Spark prepends its own module flags to JVM options
                return not got.endswith(v)
            return got != v

        ignored = sorted(
            k for k, v in conf.items()
            if k != "spark.app.name"
            and not spark.conf.isModifiable(k)
            and differs(k, v)
        )
        if ignored:
            import warnings

            warnings.warn(
                "get_spark: reusing the active session (master="
                f"{spark.sparkContext.master!r}); these requested static "
                f"confs differ from it and were IGNORED: {ignored} — stop "
                "the old session first for a fresh-config JVM",
                RuntimeWarning,
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark
