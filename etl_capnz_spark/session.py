"""SparkSession builder with the engine's required configuration.

Scale notes (100 TB design point): AQE is on so shuffle partition counts,
skew-join splitting and broadcast decisions re-plan at runtime from real
statistics; nested-schema pruning is on because the CAP alert schema is a
wide nested struct and feature building reads ~20 leaf fields (SURVEY.md
§4.2); session TZ is pinned UTC so event-time semantics are cluster-invariant
(and DuckDB-oracle comparable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Most files one file-source micro-batch reads (streaming/stream.py
# ``read_xml_stream``); local sessions list that many paths on the driver.
STREAM_MAX_FILES_PER_TRIGGER = 1000


def default_cpus() -> int:
    """Local task threads: ``$SPARK_GRAFT_CPUS``, else the host's cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_session(
    app_name: str = "etl_capnz_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[default_cpus()]`` for local runs; on a
    real cluster the caller passes nothing and spark-submit supplies the
    master. ``shuffle_partitions`` defaults to the local core count — AQE
    coalesces downward at runtime, so oversizing is cheap and undersizing
    (the default 200 on a tiny box, or 200 on a 1000-executor cluster) is
    the real hazard.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Local mode = driver-only: this is THE memory knob (effective only
        # at JVM launch). Spark pins -Xms to -Xmx, so an oversized heap
        # costs real wall-clock in first-touch page faults — measured on
        # this box: a cold expression-heavy query ran 7.6s at 8g vs 40s at
        # 48g. 12g fits every sf0.1 workload with headroom.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's events table stores TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long and convert
        # (read_events below).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # JVM case mappings instead of ICU for upper/lower: the first ICU
        # call builds a title-case table over every code point (~2 s of
        # CPU, other task threads blocked on the class-init lock) on every
        # cold run. Results match on the cases pinned in
        # tests/test_session_defaults.py.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    if master.startswith("local"):
        # A file-source micro-batch re-lists its new files as explicit
        # paths, and past this many paths InMemoryFileIndex lists them in
        # a Spark job (~0.4 s per batch of ~40 files at local[4]) — on the
        # very cores the driver would list them with.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(STREAM_MAX_FILES_PER_TRIGGER),
        )
    # Creation-time-only confs (e.g. spark.scheduler.mode=FAIR for
    # multi-tenant benches) — no effect if a session already exists.
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _truncate_lineage(df, eager: bool):
    """Checkpoint dispatch — the local/cluster seam (VERDICT r9 #5).

    ``localCheckpoint`` stores blocks in executor storage ONLY: on a
    real cluster one lost executor makes the RDD unrecoverable and the
    query fails — the right trade in local mode (zero extra I/O), a
    baked-in single-process assumption at 100 TB. Cluster runs set
    ``SPARK_GRAFT_CHECKPOINT=reliable`` (plus optionally
    ``SPARK_GRAFT_CHECKPOINT_DIR``, default ``spark.checkpoint.dir`` or
    a local tmpdir) to route every lineage-truncation point in the
    engine through a RELIABLE checkpoint (HDFS/object-store backed,
    recomputable after executor loss). Identical results either way —
    pinned by tests/test_checkpoint_seam.py.
    """
    if os.environ.get("SPARK_GRAFT_CHECKPOINT", "local") == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            import tempfile

            sc.setCheckpointDir(
                os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
                or df.sparkSession.conf.get("spark.checkpoint.dir", None)
                or tempfile.mkdtemp(prefix="etl_capnz_ckpt_")
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def engine_checkpoint(df, eager: bool = True):
    """Public lineage-truncation seam: ``localCheckpoint`` for local
    runs (default — exactly the previous behavior), reliable
    ``checkpoint`` when ``SPARK_GRAFT_CHECKPOINT=reliable`` (cluster
    runs, where executor-local blocks are a fault-tolerance hole). Used
    by every declared-query hot path that truncates lineage
    (lsh_candidates, bm25_search, random_walks, connected_components).
    """
    return _truncate_lineage(df, eager)


def flat_local_checkpoint(df, eager: bool = True):
    """:func:`engine_checkpoint` that additionally does NOT inherit the
    origin plan's statistics.

    Since SPARK-39748, ``Dataset.checkpoint`` embeds the pre-checkpoint
    plan's estimated stats in the returned ``LogicalRDD``. In an
    iterative operator (label propagation, frontier expansion) each
    round's plan JOINS the previous round's checkpoint, so the
    inherited ``sizeInBytes`` estimate COMPOUNDS multiplicatively round
    over round — by round n the estimate is a BigInteger with ~2^n
    digits and the driver burns minutes inside
    ``SizeInBytesOnlyStatsPlanVisitor`` (observed: BigInteger
    .multiplyToomCook3 in the planner hot for >20 min on a 12 s query
    once a second pointer-jump join raised the growth base). The fix:
    rebuild the DataFrame over the SAME checkpointed RDD, which resets
    the estimate to the flat default. The label table in these loops is
    node-scale (never broadcastable), so losing the inherited estimate
    cannot flip a join strategy that mattered.

    Partitioning (opt r10, VERDICT r9 #4): the rebuilt plan COPIES the
    checkpoint's ``outputPartitioning``/``outputOrdering`` instead of
    dropping them (the r9 ``internalCreateDataFrame`` form reset both),
    so an iterative loop that materializes its state hash-partitioned
    can join/aggregate on that key next round without re-exchanging.
    Note Spark only records a concrete partitioning on the checkpoint
    when the query ran WITHOUT AQE (an AdaptiveSparkPlanExec reports
    UnknownPartitioning to the checkpoint extractor) — iterative
    callers that want this disable AQE around their loop
    (connected_components).

    No fallback: if the internal constructor is unavailable (a Spark
    upgrade) this raises rather than silently returning a checkpoint that
    inherits the origin statistics.
    """
    from pyspark.sql import DataFrame as _PyDF

    ck = _truncate_lineage(df, eager)
    spark = ck.sparkSession
    jvm = spark._jvm
    an = ck._jdf.queryExecution().analyzed()
    none = jvm.scala.Option.apply(None)
    new_plan = jvm.org.apache.spark.sql.execution.LogicalRDD(
        an.output(),
        an.rdd(),
        an.outputPartitioning(),
        an.outputOrdering(),
        an.isStreaming(),
        an.stream(),
        spark._jsparkSession,
        none,  # originStats: the whole point — flat
        none,  # originConstraints
    )
    new_jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, new_plan
    )
    return _PyDF(new_jdf, spark)


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable confs the engine's semantics depend on.

    The driver may hand us a session built without our builder (bare
    defaults), so every entry point re-asserts: UTC session TZ (timestamp
    formatting determinism) and nanosAsLong (the events table stores
    TIMESTAMP(NANOS), which the vectorized reader otherwise rejects).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet naive timestamps (isAdjustedToUTC=false) otherwise surface as
    # TIMESTAMP_NTZ, which time-arithmetic builtins (unix_micros, window)
    # reject; with UTC session TZ the two types carry identical micros.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` normalizes to TIMESTAMP (micros, UTC session TZ)
    whichever physical type the generator used: TIMESTAMP(NANOS) arrives
    as a bigint of nanoseconds under ``nanosAsLong`` and is truncated
    (matching DuckDB's NS→US cast); TIMESTAMP(MICROS, naive) can surface
    as TIMESTAMP_NTZ on sessions that cached the table's schema before
    ``inferTimestampNTZ`` was pinned off, and is cast (same micros under
    UTC — DuckDB reads the same file as naive TIMESTAMP).
    """
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
