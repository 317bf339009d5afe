"""Structured Streaming surface (SURVEY.md §2.10).

The reference is scheduled micro-batch, stateless across runs
(``InvocationType.Schedule``, task.ts:66): every run re-reads the feed and
re-submits everything; cross-run dedup is the downstream platform's job.
The engine keeps that mode (batch pipeline re-run) AND offers real
streaming:

* ``stream_features`` — file-source stream over landed CAP XML snapshots →
  the same feature fan-out → any sink. ``dropDuplicatesWithinWatermark``
  on the stable feature id (= identifier(-i)(-center), task.ts:662)
  suppresses re-emission while snapshots re-land.
* windowed event aggregations (tumbling / sliding / session) with
  watermarks for late data.
* ``upsert_alert_state`` — the one stateful extension beyond the
  reference: CAP ``msgType`` Update/Cancel (captured but never acted on in
  the reference, task.ts:424) becomes a keyed upsert via ``foreachBatch``
  MERGE-style logic, so a Cancel tombstones its identifier.

All tested with the file source + ``availableNow`` trigger + memory sink
(synchronous, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.errors import AnalysisException

from etl_capnz_spark.operators.features import build_features
from etl_capnz_spark.operators.rank import bounded_const_key as _bounded_key
from etl_capnz_spark.session import STREAM_MAX_FILES_PER_TRIGGER
from etl_capnz_spark.sources.xml import parse_cap_xml
from etl_capnz_spark.streaming import commitlog as _cl

# The commit/replay/reader-isolation machinery lives in ONE module
# (streaming/commitlog.py, round 9 — through round 8 this file carried
# five parallel hand-rolled disciplines and each round's code review
# found a fresh crash bug in the gaps between them). The historical
# names below stay importable; they are thin delegates.
_read_state_parquet = _cl.read_state_parquet
_run_tag = _cl.run_tag


def _versioned_state_read(
    sess: SparkSession, state_path: str
) -> tuple[DataFrame | None, dict]:
    """Pointer-resolved sketch state — see
    :meth:`commitlog.SnapshotLog.read` (hidden ``_v_<n>`` dirs: Spark's
    file listing skips ``_``/``.`` children, so a legacy flat read
    cannot ingest an in-flight version dir)."""
    return _cl.SnapshotLog(state_path).read(sess)


def _versioned_state_commit(
    merged: DataFrame,
    state_path: str,
    pointer: dict,
    epoch_key: str,
    keep_versions: int = 3,
) -> None:
    """Snapshot-then-pointer commit with legacy sweep + full-floor
    prune — see :meth:`commitlog.SnapshotLog.commit` for the crash
    orderings (the scd2_sink discipline, generalized)."""
    _cl.SnapshotLog(state_path, keep_versions=keep_versions).commit(
        merged, pointer, epoch_key
    )



def read_sketch_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The committed state of a versioned state sink (KMV / HLL /
    quantile sketches, alert upsert) — pointer-resolved, so a reader
    racing a commit sees strictly the old or the new snapshot, never a
    mix and never an in-flight version dir. A legacy flat-layout dir
    (pre-versioned sink, not yet migrated by a commit) is read as-is.
    """
    state, _ = _versioned_state_read(spark, state_path)
    if state is None:
        raise FileNotFoundError(f"no committed sketch state at {state_path}")
    return state


def read_xml_stream(
    spark: SparkSession, snapshot_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.format("text")
        .option(
            "maxFilesPerTrigger",
            max_files_per_trigger or STREAM_MAX_FILES_PER_TRIGGER,
        )
    )
    return reader.load(snapshot_dir).withColumnRenamed("value", "xml")


def stream_features(
    xml_stream: DataFrame,
    now=None,
    dedup_within: str = "1 hour",
) -> DataFrame:
    """XML snapshot stream → feature stream with cross-batch dedup.

    ``sent`` is the event time; features deduplicate on their stable id
    within the watermark horizon, so re-landed snapshots don't re-emit.
    """
    alerts = (
        parse_cap_xml(xml_stream)
        .withColumn("sent_ts", F.try_to_timestamp(F.col("sent")))
        .withColumn("onset_ts", F.try_to_timestamp(F.nullif(F.col("onset"), F.lit(""))))
        .withColumn(
            "expires_ts", F.try_to_timestamp(F.nullif(F.col("expires"), F.lit("")))
        )
        # unparseable <sent> → alert dropped (batch-path parity; also the
        # watermark needs a non-null event time)
        .filter(F.col("sent_ts").isNotNull())
    )
    if now is not None:
        alerts = alerts.filter(
            F.col("expires_ts").isNull()
            | (F.col("expires_ts") >= F.lit(now).cast("timestamp"))
        )
    feats = build_features(alerts)
    # keep an event-time column for the watermark
    feats = feats.withColumn("_event_time", F.to_timestamp("time_iso"))
    return feats.withWatermark("_event_time", dedup_within).dropDuplicatesWithinWatermark(
        ["feature_id"]
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — the streaming twin
    of operators/sessions.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def running_user_totals(events: DataFrame):
    """Custom stateful operator via ``applyInPandasWithState``
    (SURVEY.md §2.10 'stateful ops'): per-user running event count and
    value sum maintained in keyed state across micro-batches.

    Emits one row per (user, batch) with the cumulative totals — the
    minimal shape of a streaming feature-store update. State is two
    numbers per user; at 100 TB keys shard across executors and the HDFS/
    RocksDB state store checkpoints them.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events_total bigint, value_total double"
    )
    state_schema = "n bigint, v double"

    def update(key, pdfs, state):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events_total": [n],
                "value_total": [v],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame):
    """The same running totals on Spark 4's ``transformWithStateInPandas``
    — the successor to ``applyInPandasWithState``: state is declared as
    named, typed handles (here one ValueState) on a StatefulProcessor
    object instead of a positional tuple, and the runtime REQUIRES the
    RocksDB state store provider (set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider`` before starting the query —
    exactly what a 100 TB keyed-state deployment runs anyway, since the
    default HDFS-backed store keeps state on-heap).

    Kept alongside :func:`running_user_totals` so both stateful APIs stay
    exercised; output contract is identical. NOTE: the TWS runtime talks
    protobuf to its Python driver worker — pyspark lists protobuf as an
    optional dependency, so running (not building) this query requires
    it installed; tests skip where it's absent.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("v", DoubleType())]
    )

    class _Totals(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            if self._state.exists():
                n, v = self._state.get()
            else:
                n, v = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
            self._state.update((n, v))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events_total": [n],
                    "value_total": [v],
                }
            )

        def close(self):
            pass

    out_schema = (
        "user_id bigint, n_events_total bigint, value_total double"
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        _Totals(), out_schema, "append", "none"
    )


def upsert_alert_state(
    alert_stream: DataFrame, state_path: str, checkpoint: str
):
    """Beyond-reference extension: maintain current-alert state keyed on
    identifier. msgType semantics: Alert/Update upsert the latest row
    (by sent_ts), Cancel removes the identifier.

    Implemented with ``foreachBatch`` + versioned parquet state behind
    the atomic pointer (MERGE without a table format; swap in Delta
    MERGE where available). The pre-round-8 shape staged to a
    ``_next`` dir and rewrote the canonical path — two full writes per
    batch AND a crash window in the final overwrite's delete phase
    that read as first-batch (silently dropping every current alert);
    the versioned commit is one write, and the committed snapshot is
    never deleted in place (:func:`_versioned_state_commit`). Read the
    current alerts with :func:`read_sketch_state`.
    """
    import os
    import shutil

    spark = alert_stream.sparkSession
    run_tag = _run_tag(checkpoint)
    # the pre-versioned sink staged to a sibling `_next` dir; a stale
    # copy left by the old code is superseded the moment this sink
    # exists — clear it so a full extra state snapshot doesn't linger
    # next to the live state looking current (code-review r8 cont.)
    if os.path.isdir(state_path + "_next"):
        shutil.rmtree(state_path + "_next")

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql.window import Window

        current, pointer = _versioned_state_read(spark, state_path)
        epoch_key = f"{run_tag}:{epoch_id}"
        if epoch_key in pointer["epochs"]:
            return  # replay of a committed epoch
        incoming = batch.select(
            "identifier", "msg_type", "sent_ts",
            F.to_json(F.struct(*[F.col(c) for c in batch.columns])).alias("payload"),
        )
        merged = (
            incoming
            if current is None
            else current.unionByName(incoming, allowMissingColumns=True)
        )
        w = Window.partitionBy("identifier").orderBy(F.col("sent_ts").desc())
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        survivors = latest.filter(F.col("msg_type") != "Cancel")
        _versioned_state_commit(survivors, state_path, pointer, epoch_key)

    return (
        alert_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "10 minutes",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join on ``key`` with an event-time interval
    bound: right rows within ``[left_ts, left_ts + max_delay]``.

    Both sides carry watermarks so Spark can bound the join state store:
    a buffered left row is dropped once the right watermark passes
    ``left_ts + max_delay`` — without the time bound the state grows
    forever, the classic streaming-join OOM. This is Spark's native
    stream-stream join; at scale state shards by key across executors.
    """
    l = left.withWatermark(left_ts, left_watermark).alias("l")
    r = right.withWatermark(right_ts, right_watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_ts}").alias("left_ts"),
        F.col(f"r.{right_ts}").alias("right_ts"),
        F.col("l.event_type").alias("left_type"),
        F.col("r.event_type").alias("right_type"),
    )


def interval_left_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "10 minutes",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the "did a follow-up
    happen?" shape: every left row is emitted; unmatched ones surface
    with NULL right columns only once the right watermark passes
    ``left_ts + max_delay`` (before that the engine cannot know no
    match is coming). Same bounded state as the inner form — outer
    semantics change WHEN unmatched rows emit, not what is stored.
    Requires the time-interval condition (this one) or equal event-time
    columns; without a bound Spark rejects outer stream-stream joins
    because unmatched rows could never be finalized.
    """
    l = left.withWatermark(left_ts, left_watermark).alias("l")
    r = right.withWatermark(right_ts, right_watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l.join(r, cond, "leftOuter").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_ts}").alias("left_ts"),
        F.col(f"r.{right_ts}").alias("right_ts"),
        F.col("l.event_type").alias("left_type"),
        F.col("r.event_type").alias("right_type"),
    )


def enrich_with_dimension(
    events: DataFrame,
    dimension: DataFrame,
    key: str = "user_id",
    how: str = "left",
    broadcast: bool | None = None,
) -> DataFrame:
    """Stream-static join: enrich a stream with a (bounded) dimension
    table — the ubiquitous "add the user/customer attributes" stage.

    Stream-static joins are STATELESS in Spark: the static side is
    re-planned per micro-batch, no watermark or state store involved, so
    there is nothing to bound — this is the cheap join and should be
    preferred over stream-stream whenever one side is a slowly-changing
    table. Left join keeps stream rows with no dimension match (nulls),
    mirroring the batch semantics.

    ``broadcast`` (ADVICE r2): ``None`` (default) lets Catalyst/AQE pick
    the strategy from the dimension's size estimate — a large dimension
    must NOT be force-broadcast (driver/executor OOM). ``True`` pins the
    hint for the inner/left cases where the caller KNOWS the table is
    small; it is rejected for join types that cannot broadcast the
    dimension side ('right'/'full' preserve the dimension, so the hint
    would be silently unsatisfiable).
    """
    if broadcast:
        if how in ("right", "full", "outer", "full_outer", "right_outer"):
            raise ValueError(
                f"broadcast=True unsupported for how={how!r}: the "
                "preserved dimension side cannot be broadcast"
            )
        return events.join(F.broadcast(dimension), key, how)
    return events.join(dimension, key, how)


def compact_parquet(
    spark: SparkSession, path: str, target_rows_per_file: int = 1_000_000
) -> int:
    """Small-file compaction for a streaming landing directory.

    Streaming parquet sinks write one file per micro-batch per partition;
    at scale a day of 1-minute triggers is thousands of KB-sized files
    that wreck scan planning. Rewrite the directory into
    ``ceil(rows / target_rows_per_file)`` files via a staged copy + swap
    (swap-by-rewrite here; a table format makes it atomic).

    Returns the output file count. The only driver-side state is two
    1-row aggregates (count, and the rewrite job itself is fully
    distributed).
    """
    import os
    import shutil

    path = path.rstrip("/")
    staged = path + "_compacted"
    trash = path + "_precompact"
    # crash repair: a previous compaction that died between the two
    # renames left the data in `trash` (and possibly a complete copy in
    # `staged`) with `path` missing — restore before doing anything
    if not os.path.isdir(path) and os.path.isdir(trash):
        os.rename(trash, path)
    elif os.path.isdir(path) and os.path.isdir(trash):
        # crash after the second rename but before cleanup: `path` is
        # the compacted copy, `trash` is superseded — clear it or the
        # next swap's rename would collide
        shutil.rmtree(trash)
    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(staged)
    # swap by two renames instead of a rewrite-in-place: every crash
    # point leaves at least one complete copy on disk (between the
    # renames BOTH exist and the repair above restores; the pre-r8
    # shape re-wrote `path` and a crash in its delete phase lost the
    # landing data outright). On an object store this becomes a
    # manifest swap — the same property a table format's log provides.
    spark.read.parquet(staged).count()  # staged copy is complete+readable
    os.rename(path, trash)
    os.rename(staged, path)
    shutil.rmtree(trash)
    return n_files


def read_incremental_output(spark: SparkSession, out_path: str) -> DataFrame:
    """Read the deduplicated output of :func:`incremental_dedup_sink`
    (one ``epoch_<id>`` subdir per committed micro-batch).

    Schema-evolution aware: the sink records every distinct output
    schema (with the epochs it covers) in ``_schemas.json``; epochs are
    read grouped by their recorded schema and combined with
    ``unionByName(allowMissingColumns=True)``, so an evolved stream
    (new columns added mid-stream) reads back with the union schema —
    old rows get NULLs for later columns — instead of whichever single
    file's schema the parquet reader happened to sample. An incompatible
    type change fails LOUDLY at the union, never silently coerces.
    Pre-evolution outputs (no ``_schemas.json``) read as before.

    Snapshot-isolated (VERDICT r7 item 9, the read_scd2_state
    pointer-first pattern generalized): when the committed pointer
    ``_committed.json`` exists, ONLY epochs it lists are read — an
    epoch whose parquet has landed but whose index-manifest commit has
    not completed is invisible, so a reader racing a writer sees
    strictly a committed prefix, never a mid-commit mix. Failure modes:
    crash AFTER manifest commit but BEFORE the pointer append leaves
    that epoch invisible until the stream's replay repairs the pointer
    (bounded staleness, no phantom); crash BEFORE the manifest commit
    leaves the epoch dir on disk but never in the pointer (replay
    rewrites the same dir, readers never saw it).
    """
    import json
    import os

    committed = _read_committed_epochs(out_path)
    # resolve the schema history through the SchemaLog (pointer-store
    # backed, like the ledger) — never a direct filesystem probe, so a
    # non-filesystem PointerStore backend serves readers identically
    versions = _read_output_schemas(out_path)["versions"]
    if not versions:
        if committed is not None:
            dirs = [
                os.path.join(out_path, n)
                for n in committed
                if os.path.isdir(os.path.join(out_path, n))
            ]
            if not dirs:
                raise FileNotFoundError(
                    f"no committed epochs on disk under {out_path} "
                    "(pointer exists but lists nothing readable)"
                )
            return spark.read.parquet(*dirs)
        return spark.read.option("recursiveFileLookup", "true").parquet(
            out_path
        )
    from pyspark.sql.types import StructType

    parts = []
    for v in versions:
        names = [
            e if isinstance(e, str) else f"epoch_{e}" for e in v["epochs"]
        ]
        if committed is not None:
            names = [n for n in names if n in set(committed)]
        dirs = [
            os.path.join(out_path, n)
            for n in names
            if os.path.isdir(os.path.join(out_path, n))
        ]
        if dirs:
            parts.append(
                spark.read.schema(
                    StructType.fromJson(json.loads(v["schema"]))
                ).parquet(*dirs)
            )
    if not parts:
        if committed is not None:
            # a pointer exists: falling back to a recursive read would
            # expose uncommitted epoch dirs and void the snapshot
            # isolation the pointer provides (code-review r8)
            raise FileNotFoundError(
                f"no committed epochs on disk under {out_path} "
                "(pointer exists but lists nothing readable)"
            )
        return spark.read.option("recursiveFileLookup", "true").parquet(
            out_path
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _read_committed_ledger(out_path: str) -> "dict | None":
    """Full committed-epoch ledger dict, or None when no ledger exists
    yet — :meth:`commitlog.EpochLedger.read`."""
    return _cl.EpochLedger(out_path).read()


def _read_committed_epochs(out_path: str) -> "list[str] | None":
    """Committed epoch dir names (data + ledger commit both complete).
    None = pre-ledger output, read unrestricted."""
    return _cl.EpochLedger(out_path).epochs()


def _ensure_committed_ledger(
    out_path: str, prefix: str = "epoch_", run_tag: "str | None" = None
) -> None:
    """Construction-time ledger creation with pre-ledger backfill (and
    the ``__pre_ledger__`` lineage sentinel when ``run_tag`` is
    tracked) — :meth:`commitlog.EpochLedger.ensure`."""
    _cl.EpochLedger(out_path, prefix, run_tag).ensure()


def _append_committed_epoch(
    out_path: str, epoch_name: str, prefix: str = "epoch_"
) -> None:
    """Atomic committed-epoch append, called strictly AFTER the
    epoch's data commit — :meth:`commitlog.EpochLedger.append`."""
    _cl.EpochLedger(out_path, prefix).append(epoch_name)


def _read_output_schemas(out_path: str) -> dict:
    return _cl.SchemaLog(out_path).read()


def _write_output_schemas(out_path: str, schemas: dict) -> None:
    _cl.SchemaLog(out_path).write(schemas)


def _read_index_manifest(index_path: str) -> dict:
    return _cl.ManifestLog(index_path).read()


def _write_index_manifest(index_path: str, manifest: dict) -> None:
    _cl.ManifestLog(index_path).write(manifest)


def acquire_manifest_lease(
    index_path: str,
    owner: str,
    ttl_sec: float = 120.0,
    timeout_sec: float = 300.0,
) -> None:
    """Single-writer lease over a manifest-logged table —
    :meth:`commitlog.ManifestLog.acquire_lease` (lease FILE with
    O_CREAT|O_EXCL, stale-break by atomic rename, backstopped by the
    caller's commit-time CAS)."""
    _cl.ManifestLog(index_path).acquire_lease(owner, ttl_sec, timeout_sec)


def release_manifest_lease(index_path: str, owner: str) -> None:
    """Release only a lease this owner still holds —
    :meth:`commitlog.ManifestLog.release_lease`."""
    _cl.ManifestLog(index_path).release_lease(owner)


def incremental_dedup_sink(
    doc_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int = 8,
    bloom_bits: int | None = None,
):
    """Incremental ingest dedup with a manifest-logged hash index: each
    micro-batch keeps only documents whose content hash has never been
    seen — within the batch (min-id wins) or in any previous batch
    (anti-join against the persisted hash index) — then appends
    survivors to ``out_path`` and commits the batch's hashes to the
    index.

    The index is a poor man's transaction log (VERDICT r2 item 7 —
    Delta/Iceberg MERGE is unavailable in this container, so the sink
    supplies the two properties a table format would):

    * **Physically idempotent replays.** ``_manifest.json`` records the
      committed epoch ids; a crashed-and-replayed ``foreachBatch`` epoch
      that already committed is skipped outright, and each epoch writes
      its hash file to a deterministic ``epoch_<id>`` dir with
      mode=overwrite, so a crash BEFORE the manifest commit just rewrites
      the same files. Readers only see files listed in the manifest —
      uncommitted leftovers are invisible (snapshot-isolation lite; the
      manifest swap is an atomic ``os.replace``).
    * **Compaction-aware manifests.** One small parquet file lands per
      micro-batch; once the manifest lists ``compact_every`` files, the
      sink compacts them into a single ``gen_<n>`` file and the manifest
      points at the new generation — the reader never sees the
      intermediate state, and the anti-join stays against O(1) files
      instead of one-per-epoch-forever.

    Cross-batch state is just (hash) rows — bytes/doc, the smallest
    state giving exact dedup. At 100 TB the index generation is a
    bucketed table on the hash so the anti-join co-locates, and the
    manifest lives in the table format's own log.

    ``bloom_bits``: optionally maintain an m-bit Bloom bitmap
    (operators/bloom.py) beside the manifest and PREFILTER each batch —
    rows the filter proves unseen skip the index anti-join entirely, so
    on a mostly-novel stream the per-batch join input shrinks to the
    true-dup + FPR slice. Correctness is untouched: drops only ever
    happen via the exact anti-join. Two invariants carry that:

    * **Superset ordering.** The bitmap is written (atomic os.replace)
      BEFORE the manifest commit, so bloom ⊇ committed index always
      holds. A crash between the two leaves extra bits — harmless (a
      false positive just routes a row through the exact join); the
      reverse order could leave an indexed hash missing from the bloom,
      whose false negative WOULD wrongly keep a duplicate.
    * **Idempotent replays.** Bitwise OR is idempotent, so a replayed
      epoch re-ORing its hashes is a no-op even before the epoch-key
      check short-circuits it.
    """
    import os

    from etl_capnz_spark.operators.dedup import content_hash, exact_dedup

    spark = doc_stream.sparkSession


    # epoch ids restart at 0 whenever the stream gets a fresh checkpoint
    # (a schema change forces one) — a bare epoch_id key would then
    # collide with an OLD run's committed epoch 0 and silently drop the
    # batch, and `epoch_0` dirs would overwrite across runs. Commits and
    # directory names are therefore keyed by (checkpoint-derived run
    # tag, epoch).
    run_tag = _run_tag(checkpoint)
    # ledger exists from construction: a brand-new sink's first epoch
    # is otherwise mid-write with NO ledger, and the reader's legacy
    # fallback would ingest the torn epoch (code-review r8 cont.)
    _ensure_committed_ledger(out_path, prefix="epoch_")

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        # serialize the whole read→dedup→commit against OTHER WRITERS
        # (lease + commit-time CAS; see acquire_manifest_lease): two
        # concurrent sinks into one index would otherwise interleave
        # read-modify-write on the manifest and silently drop the
        # loser's epoch from the committed file list
        acquire_manifest_lease(index_path, owner=f"{run_tag}:{epoch_id}")
        try:
            _merge_locked(batch, epoch_id)
        finally:
            release_manifest_lease(
                index_path, owner=f"{run_tag}:{epoch_id}"
            )

    def _merge_locked(batch: DataFrame, epoch_id: int) -> None:
        manifest = _read_index_manifest(index_path)
        snapshot = (
            manifest["generation"],
            list(manifest["files"]),
            list(manifest["epochs"]),
        )
        epoch_key = f"{run_tag}:{epoch_id}"
        epoch_name = f"epoch_{run_tag}_{epoch_id}"
        if epoch_key in manifest["epochs"] or epoch_id in manifest["epochs"]:
            # replay of a committed epoch: physical no-op — except the
            # committed-reader pointer, which a crash between the
            # manifest commit and the pointer append leaves one epoch
            # behind; repair it here so the epoch becomes visible.
            # A LEGACY int manifest entry's dir is epoch_<id> (no run
            # tag) — repair with the name that actually exists, never a
            # phantom (code-review r8)
            import os as _os

            repair = epoch_name
            if not _os.path.isdir(_os.path.join(out_path, repair)):
                legacy = f"epoch_{epoch_id}"
                if _os.path.isdir(_os.path.join(out_path, legacy)):
                    repair = legacy
                else:
                    return  # no output dir on disk: nothing to expose
            _append_committed_epoch(out_path, repair)
            return
        in_batch = exact_dedup(batch, text_col, id_col).withColumn(
            "_h", content_hash(F.col(text_col))
        )
        files = list(manifest["files"])
        seen = spark.read.parquet(*files) if files else None
        bloom_path = os.path.join(index_path, f"_bloom_{bloom_bits}.bin")
        if seen is None:
            fresh = in_batch
        elif bloom_bits and os.path.exists(bloom_path):
            from etl_capnz_spark.operators.bloom import bloom_might_contain

            with open(bloom_path, "rb") as fh:
                bits = fh.read()
            flagged = in_batch.withColumn(
                "_maybe",
                bloom_might_contain(F.col("_h"), bits, bloom_bits),
            )
            fresh = (
                flagged.filter(F.col("_maybe"))
                .join(seen, flagged["_h"] == seen["h"], "left_anti")
                .unionByName(flagged.filter(~F.col("_maybe")))
                .drop("_maybe")
            )
        else:
            fresh = in_batch.join(
                seen, in_batch["_h"] == seen["h"], "left_anti"
            )
        # output lands in a deterministic per-epoch dir with overwrite —
        # a replay of a crashed epoch rewrites the same rows instead of
        # appending duplicates (read back via read_incremental_output)
        out_df = fresh.drop("_h")
        out_df.write.mode("overwrite").parquet(
            os.path.join(out_path, epoch_name)
        )
        # record this epoch's output schema (VERDICT r4 item 4 fallback:
        # the manifest-log stand-in for a table format's schema log) —
        # written before the index-manifest commit, so a crash in between
        # leaves only a harmless extra entry that the replay re-records
        # idempotently
        schemas = _read_output_schemas(out_path)
        schema_json = out_df.schema.json()
        ver = next(
            (
                v
                for v in schemas["versions"]
                if v["schema"] == schema_json
            ),
            None,
        )
        if ver is None:
            ver = {
                "version": len(schemas["versions"]) + 1,
                "schema": schema_json,
                "epochs": [],
            }
            schemas["versions"].append(ver)
        if epoch_name not in ver["epochs"]:
            ver["epochs"].append(epoch_name)
        _write_output_schemas(out_path, schemas)
        epoch_dir = os.path.join(index_path, epoch_name)
        fresh.select(F.col("_h").alias("h")).write.mode("overwrite").parquet(
            epoch_dir
        )
        files.append(epoch_dir)
        generation = manifest["generation"]
        if len(files) >= compact_every:
            generation += 1
            gen_dir = os.path.join(index_path, f"gen_{generation}")
            spark.read.parquet(*files).repartition(1).write.mode(
                "overwrite"
            ).parquet(gen_dir)
            files = [gen_dir]
        if bloom_bits:
            # bloom BEFORE manifest commit: bloom ⊇ index must survive a
            # crash between the two writes (see docstring). Two cases:
            # * steady state — OR in THIS epoch's hashes, read back from
            #   the epoch parquet just written (re-running the dedup
            #   plan a third time for its hashes would ~1.5× the batch);
            # * bootstrap — bloom file absent but the index already has
            #   committed epochs (sink previously ran without
            #   bloom_bits, or with a different size): seed from the
            #   WHOLE committed index, else earlier hashes would be
            #   bloom-negative and their future duplicates wrongly kept.
            import numpy as np

            from etl_capnz_spark.operators.bloom import build_bloom

            src_files = files if not os.path.exists(bloom_path) else [epoch_dir]
            delta = np.frombuffer(
                build_bloom(
                    spark.read.parquet(*src_files).select("h"),
                    "h",
                    bloom_bits,
                ),
                dtype=np.uint8,
            )
            if os.path.exists(bloom_path):
                with open(bloom_path, "rb") as fh:
                    delta = delta | np.frombuffer(fh.read(), dtype=np.uint8)
            tmp = bloom_path + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(delta.tobytes())
            os.replace(tmp, bloom_path)
        # keep only the recent committed-epoch ids: Spark replays at most
        # the trailing uncommitted batches, so an unbounded epoch list
        # would bloat the manifest on a long-running stream for nothing.
        # Recency must sort the epoch NUMBER numerically — a plain
        # string sort puts 'tag:150' before 'tag:99' and would trim the
        # NEWEST keys (whose replays are exactly the ones that happen)
        # while hoarding stale ones.
        # current run's keys sort LAST (most recent); other runs' keys
        # are stale by definition and become the ones trimmed first
        def _epoch_recency(key) -> tuple:
            s = str(key)
            tag, _, num = s.rpartition(":")
            n = int(num) if num.isdigit() else -1
            return (1 if tag == run_tag else 0, tag, n)

        epochs = sorted(
            manifest["epochs"] + [epoch_key], key=_epoch_recency
        )[-100:]
        # commit-time CAS backstop: if the manifest moved under us, the
        # lease was lost mid-merge (merge outlived its ttl and another
        # writer broke it) — raise rather than clobber the interloper's
        # committed epoch. Split-brain is a loud error, never silent
        # epoch loss.
        current = _read_index_manifest(index_path)
        if (
            current["generation"],
            list(current["files"]),
            list(current["epochs"]),
        ) != snapshot:
            raise RuntimeError(
                f"incremental_dedup_sink: manifest at {index_path} "
                f"changed during epoch {epoch_key} — lease lost "
                "mid-merge (raise ttl_sec above the merge duration); "
                "refusing to overwrite another writer's commit"
            )
        _write_index_manifest(
            index_path,
            {
                "epochs": epochs,
                "files": files,
                "generation": generation,
            },
        )
        # reader visibility LAST (strictly after the manifest commit):
        # readers following the _committed.json pointer can never see
        # an epoch whose index commit might still fail; the replay
        # early-return above repairs a crash in this final window
        _append_committed_epoch(out_path, epoch_name)

    return (
        doc_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def kmv_distinct_sink(
    events_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
):
    """Incrementally-maintained approximate distinct counts per group
    (foreachBatch): each micro-batch's KMV sketch merges into a
    persisted per-group sketch table. Exact streaming distinct needs
    state proportional to the number of distinct values; the sketch
    state is ``groups × k`` longs, and the answer is the same
    closed-form estimate the batch operator gives.

    State rides versioned ``_v_<n>`` dirs behind the atomic pointer
    (:func:`_versioned_state_commit` — write the new snapshot, THEN
    advance the pointer), read back with :func:`read_sketch_state`:
    the committed snapshot is never deleted in place, so no crash
    ordering can reset accumulated state (the old in-place overwrite's
    delete-phase window). Replays of committed epochs are outright
    no-ops via the pointer's epoch keys — and KMV merge is IDEMPOTENT
    anyway (set-union + k-min), so even a re-merge converges to the
    identical state (pinned in tests).

    Cross-checks: final state == batch kmv_sketch over all data seen —
    the streaming/batch twin pin, same contract as
    session_counts_dynamic and incremental_rollup.
    """
    import os

    from etl_capnz_spark.operators.audit import kmv_merge, kmv_sketch

    run_tag = _run_tag(checkpoint)

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        sess = batch.sparkSession
        prev, pointer = _versioned_state_read(sess, state_path)
        epoch_key = f"{run_tag}:{epoch_id}"
        if epoch_key in pointer["epochs"]:
            return
        cur = kmv_sketch(batch, group_cols, value_col, k)
        if prev is not None:
            prev = prev.select(*group_cols, "sketch", "n_seen", "est_distinct")
        both = cur if prev is None else prev.unionByName(cur)
        merged = kmv_merge(both, group_cols, k=k)
        _versioned_state_commit(merged, state_path, pointer, epoch_key)

    return (
        events_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def hll_distinct_sink(
    events_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
):
    """Incrementally-maintained HLL register tables per group
    (foreachBatch) — completes the streaming sketch-sink family
    (:func:`kmv_distinct_sink` = bottom-k distinct,
    :func:`cms_sketch_sink` = frequency, this = register distinct,
    the shape warehouse HLL columns persist): each micro-batch's
    register table (operators/frequency.hll_registers) merges into the
    persisted state by register-wise MAX.

    State rides versioned ``_v_<n>`` dirs behind the atomic pointer
    (:func:`_versioned_state_commit`; read back with
    :func:`read_sketch_state`) — the committed snapshot is never
    deleted in place, closing the old overwrite's delete-phase reset
    window. Committed epochs replay as no-ops via the pointer's epoch
    keys — and UNLIKE CMS, max-merge is IDEMPOTENT anyway (re-merging
    a crash-replayed batch is a no-op), where CMS's counter ADDITION
    forces per-epoch overwrite partials. State is ≤ groups × m rows of
    (j, m_j) smallints regardless of stream volume; the estimate is
    read on demand with frequency.hll_estimate.

    Cross-checks (tests/test_streaming.py): final state == batch
    hll_registers over all data seen (the streaming/batch twin pin),
    and a double-merged batch leaves state identical.
    """
    import os

    from etl_capnz_spark.operators.frequency import (
        hll_merge,
        hll_registers,
    )

    run_tag = _run_tag(checkpoint)

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        sess = batch.sparkSession
        prev, pointer = _versioned_state_read(sess, state_path)
        epoch_key = f"{run_tag}:{epoch_id}"
        if epoch_key in pointer["epochs"]:
            return
        cur = hll_registers(batch, group_cols, value_col)
        if prev is not None:
            prev = prev.select(*group_cols, "j", "m_j")
        both = cur if prev is None else prev.unionByName(cur)
        merged = hll_merge(both, group_cols)
        _versioned_state_commit(merged, state_path, pointer, epoch_key)

    return (
        events_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def frontier_schedule_stream(
    links_stream: DataFrame,
    schedule_path: str,
    crawled_path: str,
    checkpoint: str,
    url_col: str = "url",
    src_col: str = "src",
    k_per_host: int = 10,
    delay_ms: int = 1000,
):
    """Streaming crawl-frontier scheduler (VERDICT r3 item 2): each
    micro-batch of discovered links is one scheduling ROUND —

    1. candidates are built against the persisted crawled index
       (operators/frontier.build_frontier: normalize → anti-join →
       inlink priority), so a URL scheduled in ANY earlier round never
       re-enters;
    2. the politeness cap selects ≤ ``k_per_host`` per host with
       ``delay_ms`` spacing (frontier_select);
    3. the round's schedule lands under ``schedule_path`` partitioned by
       round, and the selected URLs are admitted into the crawled index.

    Replay-idempotent: BOTH sinks write with dynamic partition
    overwrite on ``round=<batch_id>``, so a re-run of a batch after a
    crash replaces its own round's output byte-for-byte instead of
    duplicating it — and the anti-join reads ONLY rounds BEFORE the
    current one (``round < batch_id``). That filter is load-bearing: a
    crash mid-admission leaves a torn ``round=<batch_id>`` partition
    in the crawled index, and a replay that anti-joined against its
    own torn admissions would silently DROP those URLs from the
    rescheduled round (admitted as crawled, never actually scheduled —
    they'd never be crawled at all). Committed rounds are recorded in
    the schedule dir's ``_committed.json`` ledger (after both writes);
    :func:`read_frontier_schedule` serves external consumers only
    committed rounds, and a committed round replays as a no-op. This
    closes the loop between ``html_outlinks`` (link discovery) and
    :func:`crawl_ingest_stream` (fetch+ingest): the fetch executors
    read round N's schedule, fetch at their slot offsets, and land
    pages for round N+1's discovery.
    """
    from etl_capnz_spark.operators.frontier import (
        build_frontier,
        frontier_select,
    )

    # round partitions are NUMERIC (external consumers order by them),
    # so unlike the sketch sinks the ledger keys carry no run tag — the
    # ledger itself records the checkpoint lineage instead, and a
    # mismatch fails LOUDLY below rather than silently skipping the new
    # lineage's early batches as "committed replays" (code-review r8
    # continuation). Like every accumulating sink here, schedule/crawled
    # dirs live and die with their checkpoint.
    run_tag = _run_tag(checkpoint)
    ledger = _cl.EpochLedger(schedule_path, prefix="round=", run_tag=run_tag)
    ledger.ensure()

    def _round(batch_df, batch_id: int):
        sess = batch_df.sparkSession
        round_name = f"round={batch_id}"
        # lineage guard: a ledger from another checkpoint (or the
        # __pre_ledger__ sentinel over unknowable-lineage dirs) fails
        # LOUDLY — batch ids restart on a fresh checkpoint, so
        # continuing would silently skip rounds / re-admit crawled URLs
        committed = ledger.check_lineage()
        if committed is not None and round_name in committed:
            return  # replay of a committed round (same lineage)
        crawled = _read_state_parquet(sess, crawled_path)
        crawled = (
            sess.createDataFrame([], "url string")
            if crawled is None
            else crawled.filter(
                F.col("round") < F.lit(batch_id)
            ).select("url")
        )
        frontier = build_frontier(
            batch_df.select(src_col, url_col), crawled, url_col
        )
        # eager localCheckpoint: sched feeds two sinks, and the second
        # write must not re-read crawled_path after the first mutates
        # sibling state — materialize once, then both writes are scans
        sched = (
            frontier_select(frontier, k_per_host=k_per_host, delay_ms=delay_ms)
            .withColumn("round", F.lit(batch_id).cast("bigint"))
            .localCheckpoint()
        )
        (
            sched.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("round")
            .parquet(schedule_path)
        )
        (
            sched.select("url", "round")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("round")
            .parquet(crawled_path)
        )
        _append_committed_epoch(schedule_path, round_name, prefix="round=")

    return (
        links_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_round)
    )


def read_frontier_schedule(
    spark: SparkSession, schedule_path: str
) -> DataFrame:
    """The COMMITTED crawl schedule (ledger-resolved): an external
    fetch fleet racing round N's write never reads a torn round — a
    round is visible only after its schedule AND its crawled-index
    admission both landed. Pre-ledger output reads unrestricted."""
    import os

    committed = _read_committed_epochs(schedule_path)
    if committed is None:
        return spark.read.parquet(schedule_path)
    if not committed:
        raise FileNotFoundError(
            f"no committed rounds at {schedule_path}"
        )
    df = spark.read.option("basePath", schedule_path).parquet(
        *[os.path.join(schedule_path, r) for r in committed]
    )
    return df


def incremental_neardup_sink(
    doc_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
):
    """Incremental NEAR-duplicate ingest dedup (VERDICT r8 next-round
    #5) — the capability that was batch-only through round 8
    (:func:`incremental_dedup_sink` drops only exact-hash duplicates;
    the MinHash/LSH family ran as batch passes): each micro-batch is
    probed against the PERSISTED LSH band index of everything already
    admitted, so continuous ingestion gets CCNet/RefinedWeb-style
    near-dup hygiene, not just exact-hash dedup.

    Per epoch (one ``foreachBatch``):

    1. MinHash signatures + band keys for the batch
       (operators/dedup.py — the exact batch pipeline, same hashes);
    2. **cross probe**: batch band keys equi-join the COMMITTED index
       epochs' band keys (:func:`operators.dedup.lsh_cross_candidates`
       — two-sided banding, never new×new, never all-pairs;
       ``max_bucket`` caps hot base buckets with the representative-
       star scheme). At 100 TB the index is bucketed on band_key so a
       batch shuffles only its own keys; old epochs compact into
       generation files exactly as the exact-dedup index does;
    3. **intra-batch probe**: a one-sided band self-join inside the
       batch; a doc pairing with a smaller id in its own batch is
       dropped (greedy first-occurrence-wins by id — deterministic, so
       replays converge);
    4. survivors' DOCS land in ``out_path/epoch_<tag>_<id>`` and their
       BAND KEYS in ``index_path/epoch_<tag>_<id>`` (both
       mode=overwrite into deterministic names: a crash-replay rewrites
       the same bytes), and only then does the epoch commit to the
       shared ``_committed.json`` ledger at ``out_path`` — ONE commit
       point covers both dirs, so readers and the next batch's probe
       see index and output move together (the round-9 commitlog
       discipline; :class:`commitlog.EpochLedger`).

    Reader isolation: :func:`read_neardup_output` and the in-sink probe
    resolve the ledger first — a half-written epoch (crash between the
    parquet writes and the ledger append) is invisible to readers AND
    is not probed by its own replay, which recomputes against the
    committed prefix and rewrites both dirs. Committed epochs replay as
    no-ops via run-tag-scoped ledger names.

    Pinned in tests/test_streaming.py: the streamed probe's drop set ≡
    batch :func:`lsh_cross_candidates` over (batch₂, committed
    survivors) on identical data, idempotent replay, and
    committed-epoch reader isolation.
    """
    import os

    from etl_capnz_spark.operators.dedup import (
        band_keys,
        lsh_cross_candidates,
        minhash_signatures,
    )

    spark = doc_stream.sparkSession
    run_tag = _run_tag(checkpoint)
    ledger = _cl.EpochLedger(out_path, prefix="epoch_")
    ledger.ensure()

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        epoch_name = f"epoch_{run_tag}_{epoch_id}"
        committed = ledger.epochs() or []
        if epoch_name in committed:
            return  # replay of a committed epoch
        sigs = minhash_signatures(
            batch, text_col, id_col, num_hashes
        ).localCheckpoint(eager=False)
        # intra-batch: candidate pair with a smaller id in the SAME
        # batch -> dropped (greedy first-occurrence-wins; chains drop
        # every non-minimal member, the documented stream-order
        # approximation of the batch components pass)
        keys = band_keys(sigs, id_col, num_hashes, bands)
        a = keys.withColumnRenamed("id", "_ia")
        b_ = keys.withColumnRenamed("id", "_ib")
        intra_drop = (
            a.join(b_, "band_key")
            .filter(F.col("_ia") < F.col("_ib"))
            .select(F.col("_ib").alias("drop_id"))
        )
        # cross probe against the COMMITTED index epochs only
        idx_dirs = [
            os.path.join(index_path, e)
            for e in committed
            if os.path.isdir(os.path.join(index_path, e))
        ]
        if idx_dirs:
            base_keys = spark.read.parquet(*idx_dirs)
            cross = lsh_cross_candidates(
                sigs,
                base_keys,
                id_col,
                num_hashes,
                bands,
                max_bucket=max_bucket,
                base_is_keys=True,
            )
            drops = intra_drop.unionByName(
                cross.select(F.col("new_id").alias("drop_id"))
            ).distinct()
        else:
            drops = intra_drop.distinct()
        fresh = batch.join(
            drops, batch[id_col] == drops["drop_id"], "left_anti"
        ).localCheckpoint()
        fresh.write.mode("overwrite").parquet(
            os.path.join(out_path, epoch_name)
        )
        # the index carries sig_key too (band_keys with_sig=True): the
        # hot-bucket refinement path needs the full signature on the
        # base side, and persisting it costs one short string per key
        fresh_keys = band_keys(
            minhash_signatures(fresh, text_col, id_col, num_hashes),
            id_col,
            num_hashes,
            bands,
            with_sig=True,
        )
        fresh_keys.write.mode("overwrite").parquet(
            os.path.join(index_path, epoch_name)
        )
        ledger.append(epoch_name)

    return (
        doc_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def read_neardup_output(spark: SparkSession, out_path: str) -> DataFrame:
    """Committed near-dup survivors (ledger-resolved — an epoch whose
    parquet landed but whose ledger commit didn't is invisible)."""
    paths = _cl.EpochLedger(out_path, prefix="epoch_").committed_paths()
    if paths is None:
        raise FileNotFoundError(f"no near-dup output at {out_path}")
    import os

    dirs = [p for p in paths if os.path.isdir(p)]
    if not dirs:
        raise FileNotFoundError(
            f"no committed epochs on disk under {out_path}"
        )
    return spark.read.parquet(*dirs)


def crawl_ingest_stream(
    html_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_tokens: int = 10,
):
    """Streaming crawl ingest — the round-3 crawl stages composed into
    one continuous pipeline: HTML main-text extraction (operators/html)
    → token-count quality gate → manifest-logged incremental exact
    dedup (:func:`incremental_dedup_sink`). Each micro-batch of landed
    pages becomes deduplicated, extracted plain text.

    Stateless until the sink (extraction and the gate are map-only per
    batch); all cross-batch state is the sink's hash index, so the
    stream scales exactly as the batch pipeline does. Read the output
    with :func:`read_incremental_output`.
    """
    from etl_capnz_spark.operators.html import extract_main_text
    from etl_capnz_spark.operators.text import token_count

    extracted = extract_main_text(
        html_stream.select(id_col, html_col), html_col, "text", min_words
    ).select(id_col, "text", "n_lines_kept", "extract_ratio")
    gated = extracted.filter(token_count(F.col("text")) >= min_tokens)
    return incremental_dedup_sink(
        gated, out_path, index_path, checkpoint, "text", id_col
    )


def session_counts_dynamic(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization with a PER-EVENT gap (session_window
    with a gap COLUMN): views time out after 10 minutes, everything
    else after 30 — short-lived browse sessions close early while
    purchase flows stay open. The state store merges the same half-open
    [ts, ts+gap) intervals the batch sessionize_dynamic merges
    (equivalence pinned in tests)."""
    gap = F.when(
        F.col("event_type") == "view", F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def cms_sketch_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    value_col: str,
    depth: int = 4,
    width: int = 256,
):
    """Streaming count-min sketch (foreachBatch): each micro-batch's
    sparse cell table lands in its own deterministic epoch directory;
    the queryable sketch is the cell-wise SUM over all epochs
    (:func:`read_cms_state`) — exact, because CMS merge IS cell-wise
    sum (merge == build-of-union is pinned in the batch tests).

    Replay-safety differs from the KMV sink on purpose: KMV merge is
    idempotent (set-union + k-min), so it can fold state in place; CMS
    addition is NOT idempotent, so a replayed batch must not re-add.
    Each epoch therefore OVERWRITES its own
    ``epoch=<runtag>_<id>`` directory — a crash-replay rewrites the
    same cells byte-for-byte instead of double-counting (the same
    discipline as incremental_dedup_sink's epoch dirs). The run tag is
    derived from the checkpoint path: state accumulates per checkpoint
    lineage, and like any accumulating sink the state dir must be
    cleared together with the checkpoint if the source is re-read from
    scratch.

    State size: ≤ depth × width cells per epoch, compacted by the
    reader's sum — at scale, periodically fold old epochs into a
    generation file exactly as the dedup index does.

    Reader isolation (the incremental_dedup pointer discipline,
    generalized round-8): each epoch dir is committed to the
    ``_committed.json`` ledger strictly AFTER its write completes, and
    :func:`read_cms_state` reads ONLY committed dirs — a reader racing
    a micro-batch can no longer ingest a half-written epoch's partial
    cells (a silent undercount, the worst failure mode for a counting
    sketch). Committed epochs replay as no-ops.
    """
    import os

    from etl_capnz_spark.operators.frequency import cms_build

    run_tag = _run_tag(checkpoint)
    _ensure_committed_ledger(state_path, prefix="epoch=")

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        epoch_name = f"epoch={run_tag}_{epoch_id}"
        committed = _read_committed_epochs(state_path)
        if committed is not None and epoch_name in committed:
            return  # replay of a committed epoch
        cells = cms_build(batch, value_col, depth=depth, width=width)
        cells.write.mode("overwrite").parquet(
            os.path.join(state_path, epoch_name)
        )
        _append_committed_epoch(state_path, epoch_name, prefix="epoch=")

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def _committed_epoch_paths(state_path: str) -> "list[str] | None":
    """Resolve a sketch sink's committed epoch dirs —
    :meth:`commitlog.EpochLedger.committed_paths`."""
    return _cl.EpochLedger(state_path).committed_paths()


def read_cms_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Merge the COMMITTED epoch partials into the queryable sketch:
    cell-wise sum — exactly ``cms_build`` over everything the stream
    has seen. An in-flight epoch dir (its ledger commit not yet
    written) is invisible, so a racing reader never undercounts from
    half-written cells."""
    paths = _committed_epoch_paths(state_path)
    src = (
        spark.read.parquet(state_path)
        if paths is None
        else spark.read.parquet(*paths)
    )
    return src.groupBy("i", "j").agg(F.sum("cnt").alias("cnt"))


def mg_heavy_hitters_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    value_col: str,
    k: int = 32,
):
    """Streaming Misra-Gries heavy-hitter state (foreachBatch): each
    micro-batch contributes its own bounded MG summary (≤ k rows per
    partition via operators/frequency.misra_gries_candidates), which is
    folded into a persisted ≤ k-row state table with the
    mergeable-summaries rule (sum matching items, subtract the
    (k+1)-th largest, drop non-positives).

    Guarantee under composition (Agarwal et al.): each MG stage adds at
    most n_stage/(k+1) undercount, so any item with total frequency
    > 2·n/(k+1) across the stream is guaranteed present in the state —
    the streaming bound is twice the batch bound, the price of folding
    summaries instead of raw counts. State is ≤ k rows FOREVER,
    regardless of stream length or value cardinality — the property
    exact streaming counts cannot have. For exact final counts, run the
    state's items through heavy_hitters_exact's second pass over the
    stored corpus.

    Replay-safety: like the CMS sink, MG addition is not idempotent, so
    each epoch's batch summary lands in an ``epoch=<runtag>_<id>``
    overwrite dir first and the state fold happens at READ time
    (:func:`read_mg_state`) — a crash-replayed epoch rewrites its own
    summary byte-for-byte. Reader isolation as in the CMS sink: the
    epoch commits to the ``_committed.json`` ledger after its write,
    and the reader folds ONLY committed epochs (a half-written summary
    would silently undercount an item straight past the MG guarantee).
    """
    import os

    from etl_capnz_spark.operators.frequency import misra_gries_candidates

    run_tag = _run_tag(checkpoint)
    _ensure_committed_ledger(state_path, prefix="epoch=")

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        epoch_name = f"epoch={run_tag}_{epoch_id}"
        committed = _read_committed_epochs(state_path)
        if committed is not None and epoch_name in committed:
            return  # replay of a committed epoch
        # fold the batch's per-partition summaries into ONE ≤k-row
        # summary for the epoch (sum + (k+1)-th-largest decrement)
        per_part = misra_gries_candidates(batch.select(value_col), value_col, k)
        epoch_summary = _mg_fold_df(per_part, k)
        epoch_summary.write.mode("overwrite").parquet(
            os.path.join(state_path, epoch_name)
        )
        _append_committed_epoch(state_path, epoch_name, prefix="epoch=")

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def _mg_fold_df(summaries: DataFrame, k: int) -> DataFrame:
    """Merge MG summary rows (item, mg_count) into ≤ k rows: sum per
    item, then subtract the (k+1)-th largest total from all and keep
    positives. Pure DataFrame ops — the same rule _mg_fold applies to
    dicts, expressed relationally."""
    from pyspark.sql.window import Window

    import pyspark.sql.functions as FF

    summed = summaries.groupBy("item").agg(
        FF.sum("mg_count").alias("mg_count")
    )
    ranked = summed.withColumn(
        "_rk",
        FF.row_number().over(
            Window.partitionBy(_bounded_key(FF.col("item"))).orderBy(
                FF.col("mg_count").desc(), "item"
            )
        ),
    )
    # decrement = the (k+1)-th largest count; agg over the (possibly
    # empty) filter always yields exactly ONE row, 0 when ≤ k items
    dec = ranked.filter(FF.col("_rk") == k + 1).agg(
        FF.coalesce(FF.max("mg_count"), FF.lit(0)).alias("_dec")
    )
    return (
        ranked.join(FF.broadcast(dec), how="cross")
        .withColumn("mg_count", FF.col("mg_count") - FF.col("_dec"))
        .filter(FF.col("mg_count") > 0)
        .select("item", "mg_count")
    )


def read_mg_state(spark: SparkSession, state_path: str, k: int) -> DataFrame:
    """Fold the COMMITTED epoch summaries into the final ≤ k-row MG
    state (ledger-resolved — an in-flight epoch is invisible)."""
    paths = _committed_epoch_paths(state_path)
    src = (
        spark.read.parquet(state_path)
        if paths is None
        else spark.read.parquet(*paths)
    )
    return _mg_fold_df(src.select("item", "mg_count"), k)


def _read_scd2_pointer(dim_path: str) -> dict:
    return _cl.SnapshotLog(dim_path).pointer()


def _write_scd2_pointer(dim_path: str, pointer: dict) -> None:
    _cl.SnapshotLog(dim_path).write_pointer(pointer)


def scd2_sink(
    update_stream: DataFrame,
    dim_path: str,
    checkpoint: str,
    key_col: str,
    attr_cols: list,
    as_of_col: str = "as_of",
    keep_versions: int = 3,
):
    """Streaming twin of :func:`etl_capnz_spark.sinks.warehouse.scd2_apply`
    — maintain an SCD-2 dimension from a CDC stream with ``foreachBatch``
    + versioned snapshot directories, the same no-table-format recipe as
    the other sinks here (manifest-logged dedup sink, sketch sinks):

    * each micro-batch is collapsed to ONE image per key (latest by
      ``as_of_col``; micro-batch granularity history — intermediate
      images inside one batch are skipped, the streaming SCD-2 norm),
      then applied with the batch's max ``as_of_col`` as the effective
      date;
    * the new dimension lands in a fresh ``v_<n+1>`` directory and ONLY
      then does the ``_version.json`` pointer advance (atomic
      ``os.replace``) — readers resolve the pointer first, so they never
      see a half-written snapshot (snapshot-isolation lite);
    * replays are physically idempotent: committed (run, epoch) keys are
      skipped outright, and a crash AFTER writing ``v_<n+1>`` but BEFORE
      the pointer commit leaves the pointer at ``v_<n>`` — the replayed
      epoch recomputes from ``v_<n>`` and overwrites the same
      deterministic directory;
    * superseded versions beyond ``keep_versions`` are pruned after the
      commit (time travel over the kept window for free).

    At 100 TB the snapshot rewrite becomes partition-scoped (bucket the
    dim by key, compose with dynamic partition overwrite) and the
    pointer lives in a table format's log — the crash ordering here is
    exactly the property that log provides.
    """
    from pyspark.sql.window import Window

    from etl_capnz_spark.sinks.warehouse import scd2_apply

    spark = update_stream.sparkSession
    run_tag = _run_tag(checkpoint)
    # visible v_<n> dirs (they ARE the product / time-travel window),
    # unbounded epoch keys; same SnapshotLog commit as every other
    # snapshot sink (round-9 consolidation)
    log = _cl.SnapshotLog(
        dim_path,
        dir_prefix="v_",
        keep_versions=keep_versions,
        epoch_cap=None,
        legacy_sweep=False,
    )

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        pointer = log.pointer()
        epoch_key = f"{run_tag}:{epoch_id}"
        if epoch_key in pointer["epochs"]:
            return  # replay of a committed epoch
        w = Window.partitionBy(key_col).orderBy(
            F.col(as_of_col).desc(),
            *[F.col(a).desc_nulls_last() for a in attr_cols],
        )
        images = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(key_col, *attr_cols, as_of_col)
        )
        head = images.agg(
            F.max(F.col(as_of_col).cast("date").cast("string")).alias("d")
        ).collect()[0]
        if head["d"] is None:
            # empty batch: commit the epoch key, state unchanged
            log.commit_epoch_only(pointer, epoch_key)
            return
        upd = images.drop(as_of_col)
        n = pointer["version"]
        if n > 0:
            current = spark.read.parquet(log.snapshot_path(n))
        else:
            current = (
                upd.withColumn(
                    "effective_from", F.lit(None).cast("date")
                )
                .withColumn("effective_to", F.lit(None).cast("date"))
                .withColumn("is_current", F.lit(True))
                .filter(F.lit(False))
            )
        new_dim = scd2_apply(current, upd, key_col, attr_cols, head["d"])
        log.commit(new_dim, pointer, epoch_key)

    return (
        update_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def read_scd2_state(
    spark: SparkSession, dim_path: str, version: int | None = None
) -> DataFrame:
    """Read a committed SCD-2 snapshot (pointer first, then the
    version directory it names — never a half-written snapshot).

    ``version`` time-travels within the sink's ``keep_versions``
    window. Versions ABOVE the pointer are refused even if their
    directory exists on disk — a crash between the snapshot write and
    the pointer commit legitimately leaves an uncommitted ``v_<n+1>``
    lying around, and reading it would break snapshot isolation (the
    exact property the pointer provides; pinned in tests). Pruned
    versions raise FileNotFoundError naming the kept window.
    """
    return _cl.SnapshotLog(dim_path, dir_prefix="v_").read_committed(
        spark, version
    )


def quantile_sketch_sink(
    events_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    k: int = 128,
):
    """Incrementally-maintained quantile estimates per group
    (foreachBatch): each micro-batch's bottom-k quantile sketch
    (operators/audit.quantile_sketch) merges into a persisted per-group
    sketch table. Exact streaming percentiles need state proportional
    to the number of distinct values; this state is ``groups x k``
    (hash, value) pairs, and the answer is the same order-statistic
    estimate the batch operator gives, with the same DKW rank-error
    bound.

    State rides versioned ``_v_<n>`` dirs behind the atomic pointer
    (:func:`_versioned_state_commit`; read back with
    :func:`read_sketch_state`) — same crash discipline as
    :func:`kmv_distinct_sink`, and bottom-k-by-hash merge is
    IDEMPOTENT anyway (set-union + k-min; pinned in tests).

    Cross-check: final state == batch quantile_sketch over all data
    seen — the streaming/batch twin pin, same contract as
    kmv_distinct_sink and incremental_rollup.
    """
    import os

    from etl_capnz_spark.operators.audit import (
        quantile_sketch,
        quantile_sketch_merge,
    )

    run_tag = _run_tag(checkpoint)

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        sess = batch.sparkSession
        prev, pointer = _versioned_state_read(sess, state_path)
        epoch_key = f"{run_tag}:{epoch_id}"
        if epoch_key in pointer["epochs"]:
            return
        cur = quantile_sketch(batch, group_cols, value_col, id_col, k)
        if prev is not None:
            prev = prev.select(cur.columns)
        both = cur if prev is None else prev.unionByName(cur)
        merged = quantile_sketch_merge(both, group_cols, k=k)
        _versioned_state_commit(merged, state_path, pointer, epoch_key)

    return (
        events_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def cusum_sink(
    events_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    group_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    level: float = 64.0,
    threshold: float = 128.0,
    keep_versions: int = 3,
):
    """Streaming CUSUM drift monitor — the order-dependent stateful twin
    of :func:`etl_capnz_spark.operators.timeseries.cusum_alarms`, with
    the scd2_sink crash discipline (its state, one double per group, is
    SEQUENTIAL — unlike the mergeable sketch sinks it cannot fold at
    read time, so it rides versioned snapshots behind the atomic
    pointer):

    * each micro-batch continues the recursion from the committed state
      via the cogrouped :func:`cusum_step` kernel (identical arithmetic
      to the batch operator — streamed == batch is pinned bit-exact);
    * alarms land in a deterministic ``alarms/epoch=<runtag>_<id>``
      overwrite directory; the new per-group state lands in a fresh
      ``state/v_<n+1>`` dir and ONLY then does the pointer advance —
      a crash between the two leaves the pointer at v_n, and the
      replayed epoch recomputes from v_n and rewrites both dirs
      byte-identically (the at-least-once no-double-alarm property);
    * committed (run, epoch) keys replay as outright no-ops; versions
      beyond ``keep_versions`` are pruned post-commit.

    State is one row per group FOREVER (a double), the ideal streaming
    state bound; quiet groups carry their level forward unchanged.
    """
    import os

    from pyspark.sql import functions as FF

    from etl_capnz_spark.operators.timeseries import cusum_step

    state_path = os.path.join(out_path, "state")
    run_tag = _run_tag(checkpoint)
    # visible v_<n> dirs, UNBOUNDED epoch keys (read_cusum_alarms
    # derives the committed alarm-dir set from the full list)
    log = _cl.SnapshotLog(
        state_path,
        dir_prefix="v_",
        keep_versions=keep_versions,
        epoch_cap=None,
        legacy_sweep=False,
    )

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        sess = batch.sparkSession
        pointer = log.pointer()
        epoch_key = f"{run_tag}:{epoch_id}"
        if epoch_key in pointer["epochs"]:
            return
        n = pointer["version"]
        if n > 0:
            state = sess.read.parquet(log.snapshot_path(n))
        else:
            state = (
                batch.select(group_col)
                .filter(FF.lit(False))
                .withColumn("s", FF.lit(0.0))
            )
        stepped = cusum_step(
            batch, state, group_col, ts_col, value_col, id_col,
            level=level, threshold=threshold,
        ).localCheckpoint()
        alarms = stepped.filter(~FF.col("is_state")).select(
            group_col, id_col, ts_col, "cusum"
        )
        new_state = stepped.filter(FF.col("is_state")).select(
            group_col, FF.col("cusum").alias("s")
        )
        # alarms land BEFORE the state commit: a crash in between
        # leaves the pointer at v_n and the replayed epoch rewrites
        # BOTH dirs byte-identically (at-least-once, no double alarm)
        alarms.write.mode("overwrite").parquet(
            os.path.join(out_path, "alarms", f"epoch={run_tag}_{epoch_id}")
        )
        log.commit(new_state, pointer, epoch_key)

    return (
        events_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )


def read_cusum_alarms(spark: SparkSession, out_path: str) -> DataFrame:
    """All COMMITTED alarms the monitor has raised. The sink writes an
    epoch's alarms dir BEFORE the state/pointer commit, so an alarm dir
    whose epoch key is not in the state pointer is in-flight (or
    orphaned by a crash — the replay rewrites it byte-identically and
    then commits): reading it early would surface alarms that the next
    replay could still be recomputing. The pointer's epoch keys ARE the
    committed set, so this reads exactly those dirs — and a COMMITTED
    epoch whose alarms dir is missing is corruption (the sink writes an
    alarms dir every epoch, empty batches included), reported loudly
    rather than silently vanishing from the readout."""
    import os

    state_path = os.path.join(out_path, "state")
    alarms = os.path.join(out_path, "alarms")
    pointer = _read_scd2_pointer(state_path)
    if not pointer["epochs"]:
        raise FileNotFoundError(f"no committed CUSUM alarms at {alarms}")
    paths = [
        os.path.join(alarms, f"epoch={key.replace(':', '_')}")
        for key in pointer["epochs"]
    ]
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        raise FileNotFoundError(
            f"committed CUSUM epoch(s) missing their alarms dir "
            f"(deleted/partial restore?): {missing}"
        )
    return spark.read.parquet(*paths)


def read_cusum_state(spark: SparkSession, out_path: str) -> DataFrame:
    """The committed per-group statistic (pointer-resolved — never a
    half-written snapshot)."""
    import os

    state_path = os.path.join(out_path, "state")
    n = _read_scd2_pointer(state_path)["version"]
    if n == 0:
        raise FileNotFoundError(f"no committed CUSUM state at {state_path}")
    return spark.read.parquet(os.path.join(state_path, f"v_{n}"))
