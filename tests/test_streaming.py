"""Structured Streaming wrappers (SURVEY.md §2.10): file-source feature
stream with dedup, windowed aggregations, and the Update/Cancel upsert."""

import pytest
from pyspark.sql import functions as F

from etl_capnz_spark.session import read_table
from etl_capnz_spark.streaming.stream import (
    read_sketch_state,
    read_xml_stream,
    session_counts,
    sliding_counts,
    stream_features,
    tumbling_counts,
    upsert_alert_state,
)
from tests.test_sources import CAP_XML

NOW = "2026-08-13 00:00:00"


def _run_stream(df, name, checkpoint, mode="append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_features_dedups_relanded_snapshots(spark, tmp_path):
    snap = tmp_path / "snaps"
    snap.mkdir()
    (snap / "a.xml").write_text(CAP_XML.replace("\n", " "))
    # the same alert lands twice (re-fetch of the whole feed, task.ts:66)
    (snap / "b.xml").write_text(CAP_XML.replace("\n", " "))
    stream = read_xml_stream(spark, str(snap))
    feats = stream_features(stream, now=NOW)
    _run_stream(feats, "feat_out", str(tmp_path / "cp"))
    rows = spark.sql("SELECT feature_id FROM feat_out").collect()
    ids = sorted(r["feature_id"] for r in rows)
    assert ids == ["A-1", "A-1-center"]  # duplicates suppressed


def test_stream_micro_batch_of_many_files_runs_no_listing_job(spark, tmp_path):
    """A micro-batch re-lists its new files by explicit path; past
    ``parallelPartitionDiscovery.threshold`` (Spark's default: 32 paths)
    that listing is a Spark job of one task per file — ~0.4 s of fixed
    cost per batch under ``local[n]``. Local sessions list on the driver."""
    snap = tmp_path / "snaps"
    snap.mkdir()
    for i in range(40):
        doc = CAP_XML.replace("A-1", f"L-{i}").replace("\n", " ")
        (snap / f"a{i:02d}.xml").write_text(doc)
    q = (
        read_xml_stream(spark, str(snap))
        .writeStream.format("memory")
        .queryName("listing_out")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.sql("SELECT * FROM listing_out").count() == 40
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    store = spark.sparkContext._jsc.sc().statusStore()
    descriptions = [store.job(j).description() for j in jobs]
    listing = [
        d.get() for d in descriptions
        if d.isDefined() and d.get().startswith("Listing leaf files")
    ]
    assert jobs and listing == []


def test_windowed_aggregations_streaming(spark, sf_dir, tmp_path):
    events = read_table(spark, sf_dir, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "events_in"))
    stream = (
        spark.readStream.schema(events.schema)
        .parquet(str(tmp_path / "events_in"))
    )
    tumb = tumbling_counts(stream)
    _run_stream(tumb, "tumb_out", str(tmp_path / "cp1"))
    got = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM tumb_out").collect()
    }
    expected = {
        (r["hour_start"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
        .collect()
    }
    # availableNow + append emits only windows below the final watermark;
    # every emitted window must match the batch computation exactly
    assert got
    for k, v in got.items():
        assert expected[k] == v

    sess = session_counts(stream)
    _run_stream(sess, "sess_out", str(tmp_path / "cp2"))
    srows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(srows) > 0
    assert all(r["n_events"] >= 1 for r in srows)

    slid = sliding_counts(stream)
    _run_stream(slid, "slid_out", str(tmp_path / "cp3"))
    slrows = spark.sql("SELECT * FROM slid_out").collect()
    assert len(slrows) > 0
    # every tumbling hour appears in two overlapping sliding windows, so
    # sliding totals per event_type are ~2x the tumbling totals
    tumb_n = sum(v for v in got.values())
    slid_n = sum(r["n"] for r in slrows)
    assert slid_n >= tumb_n


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches:
    with one file per trigger, later batches must emit larger-or-equal
    running totals, and the final totals must equal the batch aggregate."""
    from etl_capnz_spark.streaming.stream import running_user_totals

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    src = tmp_path / "ev"
    # two landed files → two micro-batches
    half = events.filter("user_id % 2 = 0")
    rest = events.filter("user_id % 2 = 1")
    half.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    rest.coalesce(1).write.mode("append").parquet(str(src / "f1"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f1"))
    )
    totals = running_user_totals(stream)
    _run_stream(totals, "totals_out", str(tmp_path / "cps"))
    rows = spark.sql(
        "SELECT user_id, max(n_events_total) AS n FROM totals_out GROUP BY 1"
    ).collect()
    got = {r["user_id"]: r["n"] for r in rows}
    expected = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_upsert_alert_state(spark, tmp_path):
    """Alert→Update keeps latest; Cancel tombstones (beyond-reference
    extension, msgType captured at task.ts:424 but never acted on)."""
    rows = [
        ("A", "Alert", "2026-08-01 00:00:00"),
        ("A", "Update", "2026-08-02 00:00:00"),
        ("B", "Alert", "2026-08-01 00:00:00"),
        ("C", "Alert", "2026-08-01 00:00:00"),
        ("C", "Cancel", "2026-08-03 00:00:00"),
    ]
    src = tmp_path / "alerts_in"
    spark.createDataFrame(
        [(i, m, t) for i, m, t in rows],
        "identifier string, msg_type string, sent string",
    ).withColumn("sent_ts", F.to_timestamp("sent")).write.mode(
        "overwrite"
    ).parquet(str(src))
    stream = spark.readStream.schema(
        "identifier string, msg_type string, sent string, sent_ts timestamp"
    ).parquet(str(src))
    state = str(tmp_path / "state")
    q = upsert_alert_state(stream, state, str(tmp_path / "cp3")).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    final = {
        r["identifier"]: r["msg_type"]
        for r in read_sketch_state(spark, state).collect()
    }
    assert final == {"A": "Update", "B": "Alert"}  # C cancelled


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """'error' events join 'click'-side events for the same user within
    10 minutes — verified against the equivalent static interval join."""
    from etl_capnz_spark.streaming.stream import interval_join_streams

    events = read_table(spark, sf_dir, "events")
    left_dir, right_dir = str(tmp_path / "l"), str(tmp_path / "r")
    lstatic = events.filter(F.col("event_type") == "error")
    rstatic = events.filter(F.col("event_type") == "view")
    lstatic.write.mode("overwrite").parquet(left_dir)
    rstatic.write.mode("overwrite").parquet(right_dir)

    lstream = spark.readStream.schema(lstatic.schema).parquet(left_dir)
    rstream = spark.readStream.schema(rstatic.schema).parquet(right_dir)
    joined = interval_join_streams(lstream, rstream)
    _run_stream(joined, "ssj_out", str(tmp_path / "cp_ssj"))
    got = spark.sql(
        "SELECT count(*) AS n FROM ssj_out"
    ).collect()[0]["n"]

    expected = (
        lstatic.alias("l")
        .join(
            rstatic.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 10 minutes")),
        )
        .count()
    )
    assert got == expected
    assert got > 0


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    from etl_capnz_spark.streaming.stream import compact_parquet

    land = str(tmp_path / "landing")
    ev = read_table(spark, sf_dir, "events")
    # simulate many tiny micro-batch files
    ev.repartition(40).write.mode("overwrite").parquet(land)
    import glob

    before = len(glob.glob(land + "/part-*"))
    assert before >= 40
    n_before = spark.read.parquet(land).count()
    n_files = compact_parquet(spark, land, target_rows_per_file=10**9)
    after = len(glob.glob(land + "/part-*"))
    assert n_files == 1 and after == 1
    assert spark.read.parquet(land).count() == n_before


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Docs repeated across micro-batches are dropped by the persisted
    hash index; within-batch dups keep the min id."""
    from etl_capnz_spark.streaming.stream import incremental_dedup_sink

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp_incdedup")

    schema = "doc_id BIGINT, text STRING"

    def run_batch():
        stream = spark.readStream.schema(schema).json(str(land))
        q = incremental_dedup_sink(
            stream, out, idx, cp
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    import json as js

    (land / "b1.jsonl").write_text(
        "\n".join(
            js.dumps(d)
            for d in [
                {"doc_id": 1, "text": "alpha"},
                {"doc_id": 2, "text": "alpha"},  # in-batch dup -> min id
                {"doc_id": 3, "text": "beta"},
            ]
        )
    )
    run_batch()
    (land / "b2.jsonl").write_text(
        "\n".join(
            js.dumps(d)
            for d in [
                {"doc_id": 4, "text": "alpha"},  # seen in batch 1 -> drop
                {"doc_id": 5, "text": "gamma"},
            ]
        )
    )
    run_batch()

    from etl_capnz_spark.streaming.stream import read_incremental_output

    kept = {
        r["doc_id"]: r["text"]
        for r in read_incremental_output(spark, out).collect()
    }
    assert kept == {1: "alpha", 3: "beta", 5: "gamma"}


def test_incremental_dedup_manifest_replay_and_compaction(spark, tmp_path):
    """The manifest log (VERDICT r2 item 7 fallback): replaying a
    committed epoch is a physical no-op, uncommitted index files are
    invisible to readers, and crossing compact_every collapses the
    manifest to one generation file with answers unchanged."""
    import json

    from etl_capnz_spark.streaming.stream import (
        _read_index_manifest,
        incremental_dedup_sink,
        read_incremental_output,
    )

    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    land = tmp_path / "land"
    land.mkdir()
    cp = str(tmp_path / "cp2")

    def run():
        q = (
            incremental_dedup_sink(
                spark.readStream.schema("doc_id BIGINT, text STRING").json(
                    str(land)
                ),
                out,
                idx,
                cp,
                compact_every=3,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, text in enumerate(["a", "b", "c", "a", "d"]):
        (land / f"b{i}.jsonl").write_text(
            json.dumps({"doc_id": i, "text": text})
        )
        run()

    kept = {
        r["doc_id"]: r["text"]
        for r in read_incremental_output(spark, out).collect()
    }
    assert kept == {0: "a", 1: "b", 2: "c", 4: "d"}
    m = _read_index_manifest(idx)
    # 5 epochs committed; compaction at every 3rd file keeps the list short
    assert len(m["epochs"]) == 5
    assert m["generation"] >= 1
    assert len(m["files"]) < 5
    # replay: re-running an already-committed epoch must not change output
    before = read_incremental_output(spark, out).count()
    run()  # availableNow with no new files -> no new epochs
    assert read_incremental_output(spark, out).count() == before
    # index readers see exactly the distinct committed hashes
    h = spark.read.parquet(*m["files"]).count()
    assert h == 4  # a, b, c, d


def test_stateful_running_totals_tws(spark, sf_dir, tmp_path):
    """transformWithStateInPandas twin of the applyInPandasWithState
    running totals: same per-user state across micro-batches, declared
    via a StatefulProcessor + ValueState on the RocksDB store.

    The TWS runtime speaks protobuf to its Python driver worker, and
    pyspark declares protobuf an OPTIONAL dependency ("Optional for
    Spark Connect and transformWithState", pyspark setup metadata) — so
    this skips where the package is absent rather than stubbing the
    whole API out."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="pyspark's optional protobuf dep (required only by "
        "transformWithState) is not installed in this environment",
    )
    from etl_capnz_spark.streaming.stream import running_user_totals_tws

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    src = tmp_path / "ev_tws"
    half = events.filter("user_id % 2 = 0")
    rest = events.filter("user_id % 2 = 1")
    half.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    rest.coalesce(1).write.mode("append").parquet(str(src / "f1"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f1"))
    )
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    try:
        totals = running_user_totals_tws(stream)
        _run_stream(totals, "totals_tws_out", str(tmp_path / "cps_tws"))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
    rows = spark.sql(
        "SELECT user_id, max(n_events_total) AS n FROM totals_tws_out"
        " GROUP BY 1"
    ).collect()
    got = {r["user_id"]: r["n"] for r in rows}
    expected = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


def test_tws_query_builds_without_protobuf(spark, sf_dir, tmp_path):
    """Constructing the transformWithStateInPandas plan (analysis +
    output schema) must not need the optional protobuf dep — only
    RUNNING the query does."""
    from etl_capnz_spark.streaming.stream import running_user_totals_tws

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    src = str(tmp_path / "tws_src")
    events.limit(5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    df = running_user_totals_tws(stream)
    assert [f.name for f in df.schema.fields] == [
        "user_id",
        "n_events_total",
        "value_total",
    ]


def test_stream_static_dimension_enrich(spark, tmp_path):
    """Stream-static join (enrich_with_dimension): stateless per-batch
    broadcast of the dimension; stream rows with no match survive with
    nulls (left join), and the streamed result equals the batch join."""
    from etl_capnz_spark.streaming.stream import enrich_with_dimension

    events = spark.createDataFrame(
        [(1, "view", 10.0), (2, "click", 5.0), (3, "view", 1.0), (1, "buy", 2.0)],
        "user_id int, event_type string, value double",
    )
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id int, tier string"
    )
    src = tmp_path / "ev_in"
    events.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = enrich_with_dimension(stream, dim, "user_id")
    assert out.isStreaming
    _run_stream(out, "enriched_out", str(tmp_path / "cp_enrich"))
    got = {
        (r["user_id"], r["event_type"]): r["tier"]
        for r in spark.sql("SELECT * FROM enriched_out").collect()
    }
    batch = {
        (r["user_id"], r["event_type"]): r["tier"]
        for r in enrich_with_dimension(events, dim, "user_id").collect()
    }
    assert got == batch
    assert got[(3, "view")] is None  # unmatched stream row kept, null tier
    assert got[(1, "view")] == "gold"


def test_enrich_broadcast_opt_in(spark):
    """ADVICE r2: broadcast is opt-in — default leaves the strategy to
    Catalyst/AQE; broadcast=True pins the hint where satisfiable and is
    rejected for join types that preserve the dimension side."""
    import pytest

    from etl_capnz_spark.streaming.stream import enrich_with_dimension

    events = spark.createDataFrame(
        [(1, "view")], "user_id int, event_type string"
    )
    dim = spark.createDataFrame([(1, "gold")], "user_id int, tier string")
    hinted = enrich_with_dimension(events, dim, "user_id", broadcast=True)
    plan = hinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # right/full would silently drop the hint — fail loudly instead
    for how in ("right", "full"):
        with pytest.raises(ValueError, match="broadcast"):
            enrich_with_dimension(events, dim, "user_id", how, broadcast=True)
    # default: no forced hint; the join still computes the same rows
    rows = enrich_with_dimension(events, dim, "user_id").collect()
    assert rows[0]["tier"] == "gold"


def test_check_constraints_empty_batch_reports_zero(spark):
    """ADVICE r2: a quality gate on an EMPTY batch must report 0
    violations (not NULL — fail-open for `violations > 0` consumers),
    and an empty constraint list is a loud error."""
    import pytest

    from etl_capnz_spark.operators.audit import check_constraints, profile_table
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "k int, v string")
    out = {
        r["check"]: r["violations"]
        for r in check_constraints(
            empty,
            not_null=["v"],
            unique=["k"],
            checks={"v_nonempty": F.col("v") != ""},
        ).collect()
    }
    assert out == {"not_null:v": 0, "unique:k": 0, "check:v_nonempty": 0}
    prof = profile_table(empty, ["k"]).collect()[0]
    assert prof["n_nulls"] == 0 and prof["n_distinct"] == 0
    with pytest.raises(ValueError, match="at least one constraint"):
        check_constraints(empty)


def test_crawl_ingest_stream_end_to_end(spark, tmp_path):
    """Streaming crawl ingest: landed HTML pages are extracted, quality-
    gated, and cross-batch deduplicated — same page re-crawled in a
    later batch is dropped by the hash index; chrome-only pages fail
    the token gate."""
    import json

    from etl_capnz_spark.streaming.stream import (
        crawl_ingest_stream,
        read_incremental_output,
    )

    land = tmp_path / "pages"
    land.mkdir()
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    body = ("this is a real article paragraph with plenty of words "
            "to clear both the line gate and the token gate easily")
    page = (f"<html><body><nav>Home | About</nav><p>{body}</p>"
            "<footer>(c) corp</footer></body></html>")
    chrome_only = "<html><body><nav>Home | About | Contact</nav></body></html>"

    def run():
        stream = (
            spark.readStream.schema("doc_id BIGINT, html STRING")
            .json(str(land))
        )
        q = (
            crawl_ingest_stream(stream, out, idx, cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (land / "b1.jsonl").write_text(
        "\n".join([
            json.dumps({"doc_id": 1, "html": page}),
            json.dumps({"doc_id": 2, "html": chrome_only}),
        ])
    )
    run()
    (land / "b2.jsonl").write_text(
        json.dumps({"doc_id": 3, "html": page})  # re-crawl -> dup
    )
    run()
    rows = read_incremental_output(spark, out).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["text"] == body


def test_stream_stream_left_outer_interval_join(spark, sf_dir, tmp_path):
    """Left-outer interval join: matched pairs equal the static left
    join's matches, and lefts with no right within the window surface
    with NULL right columns once the watermark passes."""
    from etl_capnz_spark.streaming.stream import interval_left_join_streams

    events = read_table(spark, sf_dir, "events")
    lstatic = events.filter(F.col("event_type") == "error")
    rstatic = events.filter(F.col("event_type") == "view")
    ldir, rdir = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    lstatic.write.mode("overwrite").parquet(ldir)
    rstatic.write.mode("overwrite").parquet(rdir)
    joined = interval_left_join_streams(
        spark.readStream.schema(lstatic.schema).parquet(ldir),
        spark.readStream.schema(rstatic.schema).parquet(rdir),
    )
    _run_stream(joined, "ssloj_out", str(tmp_path / "cp_ssloj"))
    got = spark.sql("SELECT * FROM ssloj_out").collect()

    expected_matched = (
        lstatic.alias("l")
        .join(
            rstatic.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 10 minutes")),
        )
        .count()
    )
    n_left = lstatic.count()
    n_left_matched = (
        lstatic.alias("l")
        .join(
            rstatic.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 10 minutes")),
            "left_semi",
        )
        .count()
    )
    matched = [r for r in got if r["right_ts"] is not None]
    nulls = [r for r in got if r["right_ts"] is None]
    assert len(matched) == expected_matched
    # every unmatched left below the final watermark emits exactly once
    # with nulls; availableNow leaves only tail rows (past the final
    # watermark) unemitted
    assert len(nulls) <= n_left - n_left_matched
    assert len(nulls) > 0
    assert all(r["right_type"] is None for r in nulls)


def test_dynamic_gap_sessionization_stream_equals_batch(
    spark, sf_dir, tmp_path
):
    """session_window with a gap COLUMN (dynamic gaps) must produce the
    same sessions the batch interval-merge operator computes: same
    (user, start, n_events, end) for every emitted session."""
    from etl_capnz_spark.operators.sessions import sessionize_dynamic
    from etl_capnz_spark.streaming.stream import session_counts_dynamic

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "dyn_in")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    _run_stream(
        session_counts_dynamic(stream), "dyn_out", str(tmp_path / "cp_dyn")
    )
    streamed = {
        (r["user_id"], r["session_start"], r["n_events"],
         r["session_end"])
        for r in spark.sql("SELECT * FROM dyn_out").collect()
    }
    gap_us = F.when(
        F.col("event_type") == "view", F.lit(600 * 1_000_000)
    ).otherwise(F.lit(1800 * 1_000_000))
    batch = {
        (r["user_id"], r["session_start"], r["n_events"],
         __import__("datetime").datetime.fromtimestamp(
             r["session_end_us"] / 1e6,
             tz=__import__("datetime").timezone.utc,
         ).replace(tzinfo=None))
        for r in sessionize_dynamic(events, gap_us).collect()
    }
    # availableNow+append emits sessions below the final watermark; all
    # emitted sessions must be exactly the batch sessions
    assert streamed
    assert streamed <= batch
    # and coverage is near-total (only the watermark tail withheld)
    assert len(streamed) >= 0.8 * len(batch)


def test_incremental_dedup_schema_evolution(spark, tmp_path):
    """Mid-stream schema evolution (a new column appears in batch 2):
    read_incremental_output returns the UNION schema — old rows carry
    NULL for the later column — via the sink's _schemas.json log
    (VERDICT r4 item 4: the manifest-log stand-in for a table format's
    schema log)."""
    import json as js

    from etl_capnz_spark.streaming.stream import (
        incremental_dedup_sink,
        read_incremental_output,
    )

    land = tmp_path / "land_evo"
    land.mkdir()
    out = str(tmp_path / "out_evo")
    idx = str(tmp_path / "idx_evo")

    def run_batch(schema, cp):
        stream = spark.readStream.schema(schema).json(str(land))
        q = incremental_dedup_sink(
            stream, out, idx, cp
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    (land / "b1.jsonl").write_text(
        "\n".join(
            js.dumps(d)
            for d in [
                {"doc_id": 1, "text": "alpha"},
                {"doc_id": 2, "text": "beta"},
            ]
        )
    )
    run_batch("doc_id BIGINT, text STRING", str(tmp_path / "cp_evo1"))

    # stream restarted with an EVOLVED schema (new lang column); fresh
    # checkpoint (schema changes force one), same output + index
    for f in land.iterdir():
        f.unlink()
    (land / "b2.jsonl").write_text(
        "\n".join(
            js.dumps(d)
            for d in [
                {"doc_id": 3, "text": "alpha", "lang": "en"},  # dup -> drop
                {"doc_id": 4, "text": "gamma", "lang": "mi"},
            ]
        )
    )
    run_batch(
        "doc_id BIGINT, text STRING, lang STRING", str(tmp_path / "cp_evo2")
    )

    got = read_incremental_output(spark, out)
    assert set(got.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: (r["text"], r["lang"]) for r in got.collect()}
    # old epochs read back with NULL lang; cross-batch dedup still held
    assert rows == {
        1: ("alpha", None),
        2: ("beta", None),
        4: ("gamma", "mi"),
    }


def test_kmv_distinct_sink_matches_batch_sketch(spark, tmp_path):
    """Streaming/batch twin + idempotent-merge pin: after two
    micro-batches (with cross-batch repeated users), the persisted
    sketch state equals the batch kmv_sketch over everything seen, and
    re-merging the same data changes nothing."""
    import json as js

    from etl_capnz_spark.operators.audit import kmv_sketch
    from etl_capnz_spark.streaming.stream import (
        kmv_distinct_sink,
        read_sketch_state,
    )

    land = tmp_path / "land_kmv"
    land.mkdir()
    state = str(tmp_path / "kmv_state")
    cp = str(tmp_path / "cp_kmv")
    schema = "event_type STRING, user_id BIGINT"

    def run_batch():
        stream = spark.readStream.schema(schema).json(str(land))
        q = kmv_distinct_sink(
            stream, state, cp, ["event_type"], "user_id", k=16
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    b1 = [{"event_type": "view", "user_id": u} for u in range(40)] + [
        {"event_type": "click", "user_id": u} for u in range(5)
    ]
    b2 = [{"event_type": "view", "user_id": u} for u in range(20, 60)] + [
        {"event_type": "click", "user_id": u} for u in range(5)  # all dups
    ]
    (land / "b1.jsonl").write_text("\n".join(js.dumps(d) for d in b1))
    run_batch()
    state1 = {
        r["event_type"]: (r["sketch"], r["est_distinct"])
        for r in read_sketch_state(spark, state).collect()
    }
    (land / "b2.jsonl").write_text("\n".join(js.dumps(d) for d in b2))
    run_batch()

    got = {
        r["event_type"]: (r["sketch"], r["n_seen"], r["est_distinct"])
        for r in read_sketch_state(spark, state).collect()
    }
    full = spark.createDataFrame(
        [(d["event_type"], d["user_id"]) for d in b1 + b2],
        "event_type string, user_id long",
    )
    want = {
        r["event_type"]: (r["sketch"], r["n_seen"], r["est_distinct"])
        for r in kmv_sketch(full, ["event_type"], "user_id", k=16).collect()
    }
    assert got == want
    # click saw only duplicate users in batch 2 -> state unchanged
    # (idempotent merge), and < k distinct -> estimate EXACT
    assert got["click"][0] == state1["click"][0]
    assert got["click"][2] == 5.0


def test_incremental_dedup_bloom_twin(spark, tmp_path):
    """The bloom_bits path must produce EXACTLY the plain sink's output
    (no false negatives ⇒ prefilter + exact anti-join ≡ plain
    anti-join), while maintaining a monotone bitmap beside the manifest
    that is always a superset of the committed index."""
    import json as js

    import numpy as np

    from etl_capnz_spark.operators.bloom import bloom_might_contain
    from etl_capnz_spark.streaming.stream import (
        incremental_dedup_sink,
        read_incremental_output,
    )
    from pyspark.sql import functions as F

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp_bloomdedup")
    bits = 1 << 16

    def run_batch():
        stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(
            str(land)
        )
        q = (
            incremental_dedup_sink(stream, out, idx, cp, bloom_bits=bits)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (land / "b1.jsonl").write_text(
        "\n".join(
            js.dumps(d)
            for d in [
                {"doc_id": 1, "text": "alpha"},
                {"doc_id": 2, "text": "alpha"},  # in-batch dup -> min id
                {"doc_id": 3, "text": "beta"},
            ]
        )
    )
    run_batch()
    bloom_path = tmp_path / "idx" / f"_bloom_{bits}.bin"
    assert bloom_path.exists()
    pop1 = int(np.unpackbits(np.frombuffer(bloom_path.read_bytes(), np.uint8)).sum())
    assert pop1 > 0

    (land / "b2.jsonl").write_text(
        "\n".join(
            js.dumps(d)
            for d in [
                {"doc_id": 4, "text": "alpha"},  # cross-batch dup -> drop
                {"doc_id": 5, "text": "gamma"},  # novel -> bloom-skips the join
            ]
        )
    )
    run_batch()
    kept = {
        r["doc_id"]: r["text"]
        for r in read_incremental_output(spark, out).collect()
    }
    assert kept == {1: "alpha", 3: "beta", 5: "gamma"}

    # bitmap grew monotonically (OR-only) and covers every indexed hash
    pop2 = int(np.unpackbits(np.frombuffer(bloom_path.read_bytes(), np.uint8)).sum())
    assert pop2 > pop1
    manifest = js.loads((tmp_path / "idx" / "_manifest.json").read_text())
    indexed = spark.read.parquet(*manifest["files"])
    covered = indexed.withColumn(
        "hit", bloom_might_contain(F.col("h"), bloom_path.read_bytes(), bits)
    )
    assert covered.filter(~F.col("hit")).count() == 0  # superset invariant


def test_cms_sketch_sink_matches_batch_sketch(spark, tmp_path):
    """Streaming CMS state (cell-wise sum over epoch partials) must
    equal cms_build over everything the stream has seen — exact,
    because CMS merge IS addition (merge==build-of-union is the batch
    pin). Epoch dirs are overwrite-keyed, so a replayed batch rewrites
    rather than double-counts."""
    import json as js

    from etl_capnz_spark.operators.frequency import cms_build
    from etl_capnz_spark.streaming.stream import (
        cms_sketch_sink,
        read_cms_state,
    )

    land = tmp_path / "land"
    land.mkdir()
    state = str(tmp_path / "cms_state")
    cp = str(tmp_path / "cp_cms")

    def run():
        stream = spark.readStream.schema("v string").json(str(land))
        q = (
            cms_sketch_sink(stream, state, cp, "v", depth=3, width=32)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [f"k{i % 9}" for i in range(200)]
    (land / "b1.jsonl").write_text("\n".join(js.dumps({"v": v}) for v in b1))
    run()
    b2 = [f"k{i % 5}" for i in range(100)] + ["k_new"] * 7
    (land / "b2.jsonl").write_text("\n".join(js.dumps({"v": v}) for v in b2))
    run()

    got = {
        (r["i"], r["j"]): r["cnt"]
        for r in read_cms_state(spark, state).collect()
    }
    want_df = spark.createDataFrame([(v,) for v in b1 + b2], "v string")
    want = {
        (r["i"], r["j"]): r["cnt"]
        for r in cms_build(want_df, "v", depth=3, width=32).collect()
    }
    assert got == want


def test_incremental_dedup_bloom_bootstrap_from_existing_index(spark, tmp_path):
    """Enabling bloom_bits on a sink that already has committed epochs
    must SEED the bitmap from the whole index — otherwise hashes
    ingested before enablement are bloom-negative and their future
    duplicates skip the exact join and get wrongly kept."""
    import json as js

    from etl_capnz_spark.streaming.stream import (
        incremental_dedup_sink,
        read_incremental_output,
    )

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp_bloomboot")
    bits = 1 << 16

    def run_batch(bloom):
        stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(
            str(land)
        )
        q = (
            incremental_dedup_sink(
                stream, out, idx, cp, bloom_bits=bits if bloom else None
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # epoch 0: WITHOUT bloom — 'alpha' enters the index, no bitmap
    (land / "b1.jsonl").write_text(js.dumps({"doc_id": 1, "text": "alpha"}))
    run_batch(bloom=False)
    # epoch 1: bloom turned ON — bitmap must bootstrap from the index
    (land / "b2.jsonl").write_text(js.dumps({"doc_id": 2, "text": "beta"}))
    run_batch(bloom=True)
    # epoch 2: a duplicate of the PRE-bloom doc must still be dropped
    (land / "b3.jsonl").write_text(js.dumps({"doc_id": 3, "text": "alpha"}))
    run_batch(bloom=True)

    kept = {
        r["doc_id"]: r["text"]
        for r in read_incremental_output(spark, out).collect()
    }
    assert kept == {1: "alpha", 2: "beta"}


def test_mg_heavy_hitters_sink_guarantee(spark, tmp_path):
    """Streaming MG state: ≤ k rows forever; an item with total
    frequency > 2n/(k+1) across batches is GUARANTEED present (the
    composed-summaries bound); a flood of singletons cannot evict it."""
    import json as js

    from etl_capnz_spark.streaming.stream import (
        mg_heavy_hitters_sink,
        read_mg_state,
    )

    land = tmp_path / "land"
    land.mkdir()
    state = str(tmp_path / "mg_state")
    cp = str(tmp_path / "cp_mg")
    k = 8

    def run():
        stream = spark.readStream.schema("v string").json(str(land))
        q = (
            mg_heavy_hitters_sink(stream, state, cp, "v", k=k)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: heavy item + singleton noise
    b1 = ["hot"] * 300 + [f"n1_{i}" for i in range(200)]
    (land / "b1.jsonl").write_text("\n".join(js.dumps({"v": v}) for v in b1))
    run()
    # batch 2: more noise + more heavy
    b2 = ["hot"] * 300 + [f"n2_{i}" for i in range(200)]
    (land / "b2.jsonl").write_text("\n".join(js.dumps({"v": v}) for v in b2))
    run()

    got = {r["item"]: r["mg_count"] for r in read_mg_state(spark, state, k).collect()}
    n = len(b1) + len(b2)
    assert 600 > 2 * n / (k + 1)  # 'hot' clears the composed bound
    assert "hot" in got
    assert len(got) <= k
    # undercount only, never overcount
    assert got["hot"] <= 600


def test_scd2_sink_streamed_equals_batch(spark, tmp_path):
    """Streaming SCD-2 twin: the dimension built by scd2_sink across
    micro-batches equals composing batch scd2_apply per batch; within a
    batch only the LATEST image per key applies; committed epochs
    replay as no-ops; readers resolve the version pointer."""
    import datetime as dt
    import json

    from etl_capnz_spark.streaming.stream import (
        _read_scd2_pointer,
        read_scd2_state,
        scd2_sink,
    )

    dim = str(tmp_path / "dim")
    land = tmp_path / "cdc"
    land.mkdir()
    cp = str(tmp_path / "cp_scd2")
    schema = "k BIGINT, bal DOUBLE, seg STRING, as_of STRING"

    def run():
        q = (
            scd2_sink(
                spark.readStream.schema(schema).json(str(land)),
                dim,
                cp,
                "k",
                ["bal", "seg"],
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [
        {"k": 1, "bal": 10.0, "seg": "A", "as_of": "2024-01-05"},
        {"k": 2, "bal": 20.0, "seg": "B", "as_of": "2024-01-05"},
    ]
    (land / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in b1))
    run()
    b2 = [
        # two images for k=1 in ONE batch: the later one must win
        {"k": 1, "bal": 11.0, "seg": "A", "as_of": "2024-01-20"},
        {"k": 1, "bal": 12.0, "seg": "A", "as_of": "2024-02-01"},
        {"k": 2, "bal": 20.0, "seg": "B", "as_of": "2024-02-01"},  # no-op
        {"k": 3, "bal": 30.0, "seg": "C", "as_of": "2024-02-01"},
    ]
    (land / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in b2))
    run()

    got = sorted(
        (
            (r["k"], str(r["effective_from"]), str(r["effective_to"]),
             r["is_current"], r["bal"], r["seg"])
            for r in read_scd2_state(spark, dim).collect()
        )
    )
    assert got == [
        (1, "2024-01-05", "2024-02-01", False, 10.0, "A"),
        (1, "2024-02-01", "None", True, 12.0, "A"),
        (2, "2024-01-05", "None", True, 20.0, "B"),
        (3, "2024-02-01", "None", True, 30.0, "C"),
    ]
    ptr = _read_scd2_pointer(dim)
    assert ptr["version"] == 2 and len(ptr["epochs"]) == 2
    run()  # availableNow, no new files: no new epochs, state unchanged
    assert _read_scd2_pointer(dim)["version"] == 2
    assert read_scd2_state(spark, dim).count() == 4


def test_quantile_sketch_sink_matches_batch_sketch(spark, tmp_path):
    """Streaming/batch twin + idempotent-merge pin for the quantile
    sketch sink: after two micro-batches (with rows repeated verbatim
    across batches — the at-least-once replay shape), the persisted
    state equals the batch quantile_sketch over everything seen, and
    the repeated rows changed nothing (bottom-k merge is set-union)."""
    import json as js

    from etl_capnz_spark.operators.audit import quantile_sketch
    from etl_capnz_spark.streaming.stream import (
        quantile_sketch_sink,
        read_sketch_state,
    )

    land = tmp_path / "land_qs"
    land.mkdir()
    state = str(tmp_path / "qs_state")
    cp = str(tmp_path / "cp_qs")
    schema = "event_type STRING, event_id BIGINT, value DOUBLE"

    def run_batch():
        stream = spark.readStream.schema(schema).json(str(land))
        q = quantile_sketch_sink(
            stream, state, cp, ["event_type"], "value", "event_id", k=16
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    b1 = [
        {"event_type": "view", "event_id": i, "value": float(i % 53)}
        for i in range(40)
    ] + [
        {"event_type": "click", "event_id": i, "value": float(i)}
        for i in range(5)
    ]
    # batch 2 repeats 20 'view' rows verbatim and all 'click' rows
    b2 = [
        {"event_type": "view", "event_id": i, "value": float(i % 53)}
        for i in range(20, 60)
    ] + [
        {"event_type": "click", "event_id": i, "value": float(i)}
        for i in range(5)
    ]
    (land / "b1.jsonl").write_text("\n".join(js.dumps(d) for d in b1))
    run_batch()
    state1 = {
        r["event_type"]: r["sketch"]
        for r in read_sketch_state(spark, state).collect()
    }
    (land / "b2.jsonl").write_text("\n".join(js.dumps(d) for d in b2))
    run_batch()

    got = {
        r["event_type"]: (
            r["sketch"], r["n_kept"], r["est_p50"], r["est_p90"],
            r["est_p99"],
        )
        for r in read_sketch_state(spark, state).collect()
    }
    full = spark.createDataFrame(
        [(d["event_type"], d["event_id"], d["value"]) for d in b1 + b2],
        "event_type string, event_id long, value double",
    )
    want = {
        r["event_type"]: (
            r["sketch"], r["n_kept"], r["est_p50"], r["est_p90"],
            r["est_p99"],
        )
        for r in quantile_sketch(
            full, ["event_type"], "value", "event_id", k=16
        ).collect()
    }
    assert got == want
    # click saw only verbatim-repeated rows in batch 2 -> unchanged,
    # and < k rows -> estimates are EXACT type-1 quantiles
    assert got["click"][0] == state1["click"]
    assert got["click"][2] == 2.0 and got["click"][4] == 4.0


def test_scd2_versioned_read_time_travel_and_refusals(spark, tmp_path):
    """read_scd2_state(version=N) time-travels within the kept window;
    a version directory ABOVE the pointer (the crash-before-commit
    residue) is REFUSED even though it exists on disk; pruned versions
    raise naming the kept window."""
    import json
    import os

    import pytest as pt

    from etl_capnz_spark.streaming.stream import (
        read_scd2_state,
        scd2_sink,
    )

    dim = str(tmp_path / "dim_tt")
    land = tmp_path / "cdc_tt"
    land.mkdir()
    cp = str(tmp_path / "cp_tt")
    schema = "k BIGINT, bal DOUBLE, seg STRING, as_of STRING"

    def run():
        q = (
            scd2_sink(
                spark.readStream.schema(schema).json(str(land)),
                dim, cp, "k", ["bal", "seg"], keep_versions=2,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batches = [
        [{"k": 1, "bal": 1.0, "seg": "A", "as_of": "2024-01-01"}],
        [{"k": 1, "bal": 2.0, "seg": "A", "as_of": "2024-02-01"}],
        [{"k": 1, "bal": 3.0, "seg": "A", "as_of": "2024-03-01"}],
    ]
    states = {}
    for i, b in enumerate(batches, start=1):
        (land / f"b{i}.jsonl").write_text(
            "\n".join(json.dumps(d) for d in b)
        )
        run()
        states[i] = sorted(
            map(tuple, read_scd2_state(spark, dim).collect())
        )
    # explicit version == the state captured right after that batch
    assert sorted(
        map(tuple, read_scd2_state(spark, dim, version=2).collect())
    ) == states[2]
    assert sorted(
        map(tuple, read_scd2_state(spark, dim, version=3).collect())
    ) == states[3]
    # v_1 was pruned (keep_versions=2)
    with pt.raises(FileNotFoundError, match="kept versions"):
        read_scd2_state(spark, dim, version=1)
    # simulate crash residue: v_4 exists on disk but pointer says 3
    os.makedirs(os.path.join(dim, "v_4"), exist_ok=True)
    with pt.raises(ValueError, match="not committed"):
        read_scd2_state(spark, dim, version=4)


def test_cusum_sink_streamed_equals_batch(spark, tmp_path):
    """Streaming CUSUM twin: alarms raised across micro-batches equal
    the batch cusum_alarms over everything seen, BIT-exact (state
    carries the statistic between batches); quiet groups keep their
    level; committed epochs replay as no-ops; state is pointer-read."""
    import json

    from etl_capnz_spark.operators.timeseries import cusum_alarms
    from etl_capnz_spark.streaming.stream import (
        _read_scd2_pointer,
        cusum_sink,
        read_cusum_alarms,
        read_cusum_state,
    )

    land = tmp_path / "land_cusum"
    land.mkdir()
    out = str(tmp_path / "cusum_out")
    cp = str(tmp_path / "cp_cusum")
    schema = "user_id BIGINT, event_id BIGINT, ts STRING, value DOUBLE"

    def run():
        src = (
            spark.readStream.schema(schema)
            .json(str(land))
            .selectExpr(
                "user_id", "event_id",
                "cast(ts as timestamp) AS ts", "value",
            )
        )
        q = (
            cusum_sink(
                src, out, cp, "user_id", "ts", "value", "event_id",
                level=10.0, threshold=15.0,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # u1 accumulates across the batch BOUNDARY: 12,13 in b1 (s=2 then
    # 5), 22 in b2 -> 17 > 15 alarms ONLY if state carried; u2 alarms
    # within b1; u3 appears only in b1 (quiet group must keep state).
    b1 = [
        {"user_id": 1, "event_id": 1, "ts": "2024-01-01 00:00:01", "value": 12.0},
        {"user_id": 1, "event_id": 2, "ts": "2024-01-01 00:00:02", "value": 13.0},
        {"user_id": 2, "event_id": 3, "ts": "2024-01-01 00:00:03", "value": 30.0},
        {"user_id": 3, "event_id": 4, "ts": "2024-01-01 00:00:04", "value": 14.0},
    ]
    (land / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in b1))
    run()
    b2 = [
        {"user_id": 1, "event_id": 5, "ts": "2024-01-01 00:01:00", "value": 22.0},
        {"user_id": 2, "event_id": 6, "ts": "2024-01-01 00:01:01", "value": 1.0},
    ]
    (land / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in b2))
    run()

    got = sorted(
        (r["user_id"], r["event_id"], r["cusum"])
        for r in read_cusum_alarms(spark, out).collect()
    )
    all_rows = spark.createDataFrame(
        [(r["user_id"], r["event_id"], r["ts"], r["value"])
         for r in b1 + b2],
        "user_id long, event_id long, ts_s string, value double",
    ).selectExpr(
        "user_id", "event_id", "cast(ts_s as timestamp) AS ts", "value"
    )
    want = sorted(
        (r["user_id"], r["event_id"], r["cusum"])
        for r in cusum_alarms(
            all_rows, "user_id", "ts", "value", "event_id",
            level=10.0, threshold=15.0,
        ).collect()
    )
    assert got == want and len(got) == 2  # u1 cross-batch + u2 in b1
    state = {
        r["user_id"]: r["s"]
        for r in read_cusum_state(spark, out).collect()
    }
    # u1 reset after its alarm; u2: 0 (reset) then max(0, 0+1-10)=0;
    # u3 carried 4.0 through the batch it sat out
    assert state == {1: 0.0, 2: 0.0, 3: 4.0}
    ptr = _read_scd2_pointer(str(tmp_path / "cusum_out" / "state"))
    assert ptr["version"] == 2 and len(ptr["epochs"]) == 2
    run()  # no new files: no new epochs, nothing changes
    assert read_cusum_alarms(spark, out).count() == 2
    assert _read_scd2_pointer(
        str(tmp_path / "cusum_out" / "state")
    )["version"] == 2


def test_custom_stream_source_offsets_and_incremental(spark, tmp_path):
    """Spark 4 SimpleDataSourceStreamReader e2e (the streaming half of
    the custom-source matrix): availableNow over a landed-snapshot dir
    consumes exactly the landed files, persists {"files", "seq"}
    offsets in the checkpoint, and a SECOND availableNow run with the
    same checkpoint picks up ONLY newly-landed files (no re-emit, seq
    continuous). A third run with nothing new emits nothing."""
    import json
    import os

    from etl_capnz_spark.sources.http_source import register_stream

    register_stream(spark)
    land = tmp_path / "landed"
    land.mkdir()
    (land / "batch-000.txt").write_text("doc-a\ndoc-b\n")
    (land / "batch-001.txt").write_text("doc-c\n")
    (land / "_in_progress.tmp").write_text("must be ignored\n")
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")

    def run():
        # parquet sink (memory sink cannot recover from a checkpoint);
        # the output dir ACCUMULATES across runs, so any re-emit after
        # recovery would show up as duplicate seq values below
        stream = (
            spark.readStream.format("capnz_feed_stream")
            .option("path", str(land))
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    rows = sorted(
        (r["seq"], os.path.basename(r["path"]), r["xml"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        (0, "batch-000.txt", "doc-a"),
        (1, "batch-000.txt", "doc-b"),
        (2, "batch-001.txt", "doc-c"),
    ]
    # offsets persisted: the newest offset file carries files=2, seq=3
    offdir = os.path.join(cp, "offsets")
    latest = max(
        (n for n in os.listdir(offdir) if n.isdigit()), key=int
    )
    content = open(os.path.join(offdir, latest)).read()
    assert '"files": 2' in content.replace('files":2', 'files": 2')
    # land one more file; SAME checkpoint -> exactly the new rows are
    # appended, seq continuous, nothing re-emitted
    (land / "batch-002.txt").write_text("doc-d\n")
    run()
    rows2 = sorted(
        (r["seq"], os.path.basename(r["path"]), r["xml"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows2 == rows + [(3, "batch-002.txt", "doc-d")]
    # nothing new -> no new rows, no phantom epochs
    run()
    rows3 = sorted(
        (r["seq"], os.path.basename(r["path"]), r["xml"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows3 == rows2


def test_custom_stream_source_replay_determinism(spark, tmp_path):
    """Crash-replay contract: readBetweenOffsets over the same offset
    range returns byte-identical rows, twice, and equals what read()
    produced for that range — immutable landed files + name ordering
    make replay exact."""
    from etl_capnz_spark.sources.http_source import CapFeedStreamReader

    land = tmp_path / "landed"
    land.mkdir()
    (land / "a.txt").write_text("r1\nr2\n")
    (land / "b.txt").write_text("r3\n")
    rdr = CapFeedStreamReader({"path": str(land)})
    start = rdr.initialOffset()
    it, end = rdr.read(start)
    live = list(it)
    assert end == {
        "files": 2,
        "seq": 3,
        "last": "b.txt",
        "batch": ["a.txt", "b.txt"],
    }
    replay1 = list(rdr.readBetweenOffsets(start, end))
    replay2 = list(rdr.readBetweenOffsets(start, end))
    assert replay1 == replay2 == live
    # partial range replays only its files, seq offset honoured —
    # both as a legacy count-only offset and a name-watermark one
    mid_legacy = {"files": 1, "seq": 2}
    tail = list(rdr.readBetweenOffsets(mid_legacy, end))
    assert [(s, x) for s, _, x in tail] == [(2, "r3")]
    mid = {"files": 1, "seq": 2, "last": "a.txt"}
    tail = list(rdr.readBetweenOffsets(mid, end))
    assert [(s, x) for s, _, x in tail] == [(2, "r3")]
    # no-progress read returns the same offset (no phantom epochs)
    it2, end2 = rdr.read(end)
    assert list(it2) == [] and end2 == end


def test_custom_stream_source_enforces_monotone_landings(
    spark, tmp_path
):
    """The offset carries the consumed-watermark NAME and the explicit
    batch file list: replay stays exact even when files land AFTER the
    batch was read, and a producer landing a file that sorts BEFORE
    the watermark is a loud RuntimeError — never a silent skip plus
    re-read of consumed files (the pre-fix count-based offset's
    failure mode)."""
    import pytest as _pytest

    from etl_capnz_spark.sources.http_source import CapFeedStreamReader

    land = tmp_path / "landed"
    land.mkdir()
    (land / "b.txt").write_text("r1\n")
    (land / "d.txt").write_text("r2\n")
    rdr = CapFeedStreamReader({"path": str(land)})
    start = rdr.initialOffset()
    it, end = rdr.read(start)
    live = list(it)

    # a file lands BETWEEN the consumed names after the batch ran:
    # replay of (start, end) must reproduce the ORIGINAL rows exactly
    (land / "c.txt").write_text("late\n")
    assert list(rdr.readBetweenOffsets(start, end)) == live
    # ...and the next read() refuses to proceed: c.txt sorts below the
    # d.txt watermark, so the monotone-naming contract was broken
    with _pytest.raises(RuntimeError, match="out of lexicographic"):
        rdr.read(end)

    # clean continuation: a correctly-ordered landing reads normally
    (land / "c.txt").unlink()
    (land / "e.txt").write_text("r3\n")
    it3, end3 = rdr.read(end)
    assert [(s, x) for s, _, x in it3] == [(2, "r3")]
    assert end3["last"] == "e.txt" and end3["batch"] == ["e.txt"]

    # producer RETENTION deletes a consumed file (commit() note:
    # retention is the producer's concern): files at-or-below the
    # watermark disappearing must NOT wedge the stream — selection is
    # name > last, so nothing is re-read and the tail keeps flowing
    (land / "b.txt").unlink()
    (land / "f.txt").write_text("r4\n")
    it4, end4 = rdr.read(end3)
    assert [(s, x) for s, _, x in it4] == [(3, "r4")]
    assert end4["last"] == "f.txt" and end4["batch"] == ["f.txt"]


def test_custom_stream_source_composes_with_stream_features(
    spark, tmp_path
):
    """The landed-feed stream pipes straight into stream_features
    (select xml) and yields the same features as the batch path over
    the same documents — the streamed==batch pin, now end-to-end from
    a custom Python data source."""
    from etl_capnz_spark.sources.http_source import register_stream

    register_stream(spark)
    land = tmp_path / "landed"
    land.mkdir()
    (land / "snap-0.txt").write_text(CAP_XML.replace("\n", " ") + "\n")
    # the same alert re-lands (whole-feed refetch): dedup must hold
    # across files in one availableNow pass
    (land / "snap-1.txt").write_text(CAP_XML.replace("\n", " ") + "\n")
    stream = (
        spark.readStream.format("capnz_feed_stream")
        .option("path", str(land))
        .load()
        .select("xml")
    )
    feats = stream_features(stream, now=NOW)
    _run_stream(feats, "feed_feat_out", str(tmp_path / "cp"))
    ids = sorted(
        r["feature_id"]
        for r in spark.sql(
            "SELECT feature_id FROM feed_feat_out"
        ).collect()
    )
    assert ids == ["A-1", "A-1-center"]


def test_manifest_lease_serializes_and_breaks_stale(tmp_path):
    """The single-writer lease (streaming/stream.py VERDICT r6 item 7):
    (a) under 8 threads x 25 read-modify-write cycles on one shared
    counter file, zero lost updates — the interleaving the bare
    manifest write allowed; (b) an expired lease is broken by exactly
    one contender and a live one is not; (c) release is owner-checked
    so a late holder cannot unlock someone else's critical section."""
    import json
    import os
    import threading
    import time

    from etl_capnz_spark.streaming.stream import (
        acquire_manifest_lease,
        release_manifest_lease,
    )

    idx = str(tmp_path / "idx")
    counter = os.path.join(idx, "counter.json")
    os.makedirs(idx)
    with open(counter, "w") as f:
        json.dump({"n": 0}, f)

    def worker(tid):
        for i in range(25):
            owner = f"t{tid}:{i}"
            acquire_manifest_lease(idx, owner, ttl_sec=30)
            try:
                with open(counter) as f:
                    n = json.load(f)["n"]
                # widen the race window beyond the file ops themselves
                time.sleep(0.001)
                with open(counter, "w") as f:
                    json.dump({"n": n + 1}, f)
            finally:
                release_manifest_lease(idx, owner)

    threads = [
        threading.Thread(target=worker, args=(t,)) for t in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(counter) as f:
        assert json.load(f)["n"] == 200  # no lost updates

    # (b) stale lease: acquirable after expiry, exactly once
    acquire_manifest_lease(idx, "crashed", ttl_sec=0.01)
    time.sleep(0.05)
    acquire_manifest_lease(idx, "rescuer", ttl_sec=30, timeout_sec=5)
    # (c) a non-owner release is a no-op; the owner's isn't
    release_manifest_lease(idx, "crashed")
    lock = os.path.join(idx, "_lease.json")
    assert os.path.exists(lock)
    release_manifest_lease(idx, "rescuer")
    assert not os.path.exists(lock)

    # live lease is NOT breakable: a second acquire times out
    acquire_manifest_lease(idx, "holder", ttl_sec=60)
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        acquire_manifest_lease(idx, "intruder", ttl_sec=60,
                               timeout_sec=0.3)
    release_manifest_lease(idx, "holder")


def test_incremental_dedup_two_concurrent_writers(spark, tmp_path):
    """Two foreachBatch writers (distinct checkpoints = distinct run
    tags) stream into ONE output + ONE hash index AT THE SAME TIME.
    The lease serializes their merges, so: no epoch is lost from the
    manifest (both run tags committed), no content hash is admitted
    twice (cross-writer dedup holds), and every unique text lands
    exactly once."""
    import json as js

    from etl_capnz_spark.streaming.stream import (
        incremental_dedup_sink,
        read_incremental_output,
        _read_index_manifest,
    )

    land_a = tmp_path / "land_a"
    land_b = tmp_path / "land_b"
    land_a.mkdir()
    land_b.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    schema = "doc_id BIGINT, text STRING"

    # overlapping corpora: 'shared-*' texts appear in BOTH writers
    (land_a / "a.jsonl").write_text(
        "\n".join(
            js.dumps({"doc_id": i, "text": f"shared-{i % 10}"})
            for i in range(20)
        )
    )
    (land_b / "b.jsonl").write_text(
        "\n".join(
            js.dumps({"doc_id": 100 + i, "text": f"shared-{i % 10}"})
            for i in range(10)
        )
        + "\n"
        + "\n".join(
            js.dumps({"doc_id": 200 + i, "text": f"only-b-{i}"})
            for i in range(5)
        )
    )
    qa = (
        incremental_dedup_sink(
            spark.readStream.schema(schema).json(str(land_a)),
            out,
            idx,
            str(tmp_path / "cp_a"),
        )
        .trigger(availableNow=True)
        .start()
    )
    qb = (
        incremental_dedup_sink(
            spark.readStream.schema(schema).json(str(land_b)),
            out,
            idx,
            str(tmp_path / "cp_b"),
        )
        .trigger(availableNow=True)
        .start()
    )
    qa.awaitTermination(180)
    qb.awaitTermination(180)

    rows = read_incremental_output(spark, out).collect()
    texts = [r["text"] for r in rows]
    # every unique text exactly once — across BOTH writers
    assert len(texts) == len(set(texts))
    assert set(t for t in texts if t.startswith("shared-")) == {
        f"shared-{i}" for i in range(10)
    }
    assert set(t for t in texts if t.startswith("only-b-")) == {
        f"only-b-{i}" for i in range(5)
    }
    # both writers' epochs committed — nothing lost to an interleave
    man = _read_index_manifest(idx)
    tags = {str(e).split(":")[0] for e in man["epochs"]}
    assert len(tags) == 2, man["epochs"]


def test_hll_distinct_sink_matches_batch_registers(spark, tmp_path):
    """Streaming/batch twin + idempotent max-merge pin for the HLL
    sink: after two micro-batches (with cross-batch repeated users),
    the persisted register state equals batch hll_registers over
    everything seen; a batch of pure duplicates leaves state
    bit-identical; and the estimate read off the state equals the
    batch estimate."""
    import json as js

    from etl_capnz_spark.operators.frequency import (
        hll_estimate,
        hll_registers,
    )
    from etl_capnz_spark.streaming.stream import (
        hll_distinct_sink,
        read_sketch_state,
    )

    land = tmp_path / "land_hll"
    land.mkdir()
    state = str(tmp_path / "hll_state")
    cp = str(tmp_path / "cp_hll")
    schema = "event_type STRING, user_id BIGINT"

    def run_batch():
        stream = spark.readStream.schema(schema).json(str(land))
        q = hll_distinct_sink(
            stream, state, cp, ["event_type"], "user_id"
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    b1 = [{"event_type": "view", "user_id": u} for u in range(40)] + [
        {"event_type": "click", "user_id": u} for u in range(5)
    ]
    b2 = [{"event_type": "view", "user_id": u} for u in range(20, 60)] + [
        {"event_type": "click", "user_id": u} for u in range(5)  # all dups
    ]
    (land / "b1.jsonl").write_text("\n".join(js.dumps(d) for d in b1))
    run_batch()
    state1 = {
        (r["event_type"], r["j"]): r["m_j"]
        for r in read_sketch_state(spark, state).collect()
    }
    (land / "b2.jsonl").write_text("\n".join(js.dumps(d) for d in b2))
    run_batch()

    got = {
        (r["event_type"], r["j"]): r["m_j"]
        for r in read_sketch_state(spark, state).collect()
    }
    full = spark.createDataFrame(
        [(d["event_type"], d["user_id"]) for d in b1 + b2],
        "event_type string, user_id long",
    )
    want = {
        (r["event_type"], r["j"]): r["m_j"]
        for r in hll_registers(full, ["event_type"], "user_id").collect()
    }
    assert got == want
    # click saw only duplicate users in batch 2 -> register table
    # unchanged (idempotent max-merge)
    assert {k: v for k, v in got.items() if k[0] == "click"} == {
        k: v for k, v in state1.items() if k[0] == "click"
    }
    # estimate read off the persisted state == batch estimate
    st = hll_estimate(
        read_sketch_state(spark, state), ["event_type"]
    ).collect()
    bt = hll_estimate(
        hll_registers(full, ["event_type"], "user_id"), ["event_type"]
    ).collect()
    assert sorted(map(tuple, st)) == sorted(map(tuple, bt))


def test_read_state_parquet_first_batch_vs_corrupt(spark, tmp_path):
    """ADVICE r7: only path-missing (or footer-less dir) reads as
    first-batch None; a corrupted state file must FAIL the batch, not
    silently reset accumulated sink state before the overwrite."""
    from etl_capnz_spark.streaming.stream import _read_state_parquet

    missing = str(tmp_path / "never_written")
    assert _read_state_parquet(spark, missing) is None

    # dir exists but footer-less = crash-interrupted overwrite signature
    # (code-review r8): must FAIL LOUDLY, not read as first batch
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    with pytest.raises(RuntimeError, match="refusing to treat as first"):
        _read_state_parquet(spark, str(empty))

    good = tmp_path / "state"
    spark.range(5).write.parquet(str(good))
    df = _read_state_parquet(spark, str(good))
    assert df is not None and df.count() == 5
    # corrupt the parquet footer in place
    for f in good.glob("*.parquet"):
        f.write_bytes(b"PAR1 this is not a parquet file")
    with pytest.raises(Exception) as exc:
        d = _read_state_parquet(spark, str(good))
        if d is not None:  # failure may surface at scan, not at read()
            d.count()
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_incremental_reader_snapshot_isolation(spark, tmp_path):
    """VERDICT r7 item 9: readers follow the _committed.json pointer,
    so (a) an epoch dir on disk whose manifest commit never happened is
    INVISIBLE, (b) a concurrent reader during commits only ever sees a
    committed prefix, and (c) a crash between the manifest commit and
    the pointer append is repaired by the next replay."""
    import json as js
    import threading

    from etl_capnz_spark.streaming.stream import (
        _append_committed_epoch,
        _read_committed_epochs,
        incremental_dedup_sink,
        read_incremental_output,
    )

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")

    def run_batch(cp: str):
        stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(
            str(land)
        )
        q = incremental_dedup_sink(stream, out, idx, cp).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)

    (land / "b1.jsonl").write_text(
        "\n".join(js.dumps({"doc_id": i, "text": f"t{i}"}) for i in range(5))
    )
    run_batch(str(tmp_path / "cp1"))
    assert read_incremental_output(spark, out).count() == 5
    committed = _read_committed_epochs(out)
    assert committed and len(committed) == 1

    # (a) a landed-but-never-committed epoch dir is invisible to readers
    phantom = f"{out}/epoch_phantom_99"
    spark.createDataFrame(
        [(100, "phantom")], "doc_id bigint, text string"
    ).write.parquet(phantom)
    assert read_incremental_output(spark, out).count() == 5

    # (b) concurrent reader during commits: every observed count is a
    # committed prefix (5 or 8), never a mid-commit mix or the phantom
    seen: set[int] = set()
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            seen.add(read_incremental_output(spark, out).count())

    t = threading.Thread(target=reader)
    t.start()
    try:
        (land / "b2.jsonl").write_text(
            "\n".join(
                js.dumps({"doc_id": 10 + i, "text": f"u{i}"})
                for i in range(3)
            )
        )
        run_batch(str(tmp_path / "cp2"))
    finally:
        stop.set()
        t.join()
    assert seen <= {5, 8}, seen
    assert read_incremental_output(spark, out).count() == 8

    # (c) crash-window repair: drop the last pointer entry (simulating a
    # crash after the manifest commit, before the pointer append) — the
    # epoch vanishes for readers; a replayed batch repairs the pointer
    committed = _read_committed_epochs(out)
    lost = committed[-1]
    with open(f"{out}/_committed.json", "w") as f:
        js.dump({"epochs": committed[:-1]}, f)
    assert read_incremental_output(spark, out).count() == 5
    # the replay early-return path calls _append_committed_epoch with
    # the committed epoch's name — exercise that repair primitive
    _append_committed_epoch(out, lost)
    _append_committed_epoch(out, lost)  # idempotent
    assert _read_committed_epochs(out).count(lost) == 1
    assert read_incremental_output(spark, out).count() == 8


def test_committed_pointer_backfills_legacy_epochs(spark, tmp_path):
    """code-review r8: the FIRST pointer write on an output dir that
    predates the pointer regime must backfill the existing epoch dirs —
    otherwise the first post-upgrade commit hides all accumulated
    output from readers."""
    import json as js

    from etl_capnz_spark.streaming.stream import (
        _append_committed_epoch,
        _read_committed_epochs,
        incremental_dedup_sink,
        read_incremental_output,
    )

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")

    def run_batch(cp: str):
        stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(
            str(land)
        )
        q = incremental_dedup_sink(stream, out, idx, cp).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)

    (land / "b1.jsonl").write_text(
        "\n".join(js.dumps({"doc_id": i, "text": f"a{i}"}) for i in range(4))
    )
    run_batch(str(tmp_path / "cp1"))
    # simulate a PRE-POINTER deployment: remove the pointer, keep epochs
    import os

    os.remove(f"{out}/_committed.json")
    assert _read_committed_epochs(out) is None
    assert read_incremental_output(spark, out).count() == 4  # legacy read

    (land / "b2.jsonl").write_text(
        "\n".join(js.dumps({"doc_id": 10 + i, "text": f"b{i}"})
                  for i in range(3))
    )
    run_batch(str(tmp_path / "cp2"))
    # the first post-upgrade commit backfilled the legacy epoch
    committed = _read_committed_epochs(out)
    assert committed is not None and len(committed) == 2, committed
    assert read_incremental_output(spark, out).count() == 7

    # direct repair with a legacy-style name is also idempotent
    _append_committed_epoch(out, committed[0])
    assert _read_committed_epochs(out).count(committed[0]) == 1


def test_sketch_sink_versioned_state_crash_and_legacy(spark, tmp_path):
    """Versioned-state discipline for the mergeable sketch sinks
    (kmv/hll/quantile share _versioned_state_read/_commit; KMV stands
    in for the family):

    1. LEGACY migration — a pre-versioned flat-layout state dir is
       read as the starting state; the first commit writes ``_v_1``,
       advances the pointer, and only THEN removes the flat part
       files.
    2. Crash between the version write and the pointer commit — a
       phantom ``_v_<n+1>`` on disk is invisible to readers (the
       pointer still names ``_v_<n>``) and the next epoch overwrites
       it.
    3. The committed snapshot is never deleted in place, so no crash
       ordering can make accumulated state read as first-batch (the
       old overwrite's delete-phase window).
    """
    import json as js
    import os

    from etl_capnz_spark.operators.audit import kmv_sketch
    from etl_capnz_spark.streaming.stream import (
        _read_scd2_pointer,
        kmv_distinct_sink,
        read_sketch_state,
    )

    land = tmp_path / "land_kmv_v"
    land.mkdir()
    state = str(tmp_path / "kmv_state_v")
    cp = str(tmp_path / "cp_kmv_v")
    schema = "event_type STRING, user_id BIGINT"

    def run_batch():
        stream = spark.readStream.schema(schema).json(str(land))
        q = kmv_distinct_sink(
            stream, state, cp, ["event_type"], "user_id", k=16
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    # (1) seed a LEGACY flat-layout state dir, as the pre-versioned
    # sink would have left it
    b0 = [{"event_type": "view", "user_id": u} for u in range(10)]
    legacy_df = spark.createDataFrame(
        [(d["event_type"], d["user_id"]) for d in b0],
        "event_type string, user_id long",
    )
    kmv_sketch(legacy_df, ["event_type"], "user_id", k=16).write.parquet(
        state
    )
    flat_parts = [
        e for e in os.listdir(state) if not e.startswith(("_", "."))
    ]
    assert flat_parts, "legacy layout should have visible part files"

    b1 = [{"event_type": "view", "user_id": u} for u in range(5, 25)] + [
        {"event_type": "click", "user_id": u} for u in range(3)
    ]
    (land / "b1.jsonl").write_text("\n".join(js.dumps(d) for d in b1))
    run_batch()
    ptr = _read_scd2_pointer(state)
    assert ptr["version"] == 1 and len(ptr["epochs"]) == 1
    assert not [
        e for e in os.listdir(state) if not e.startswith(("_", "."))
    ], "legacy flat files must be gone after the migrating commit"
    full01 = spark.createDataFrame(
        [(d["event_type"], d["user_id"]) for d in b0 + b1],
        "event_type string, user_id long",
    )
    want01 = {
        r["event_type"]: (r["sketch"], r["n_seen"])
        for r in kmv_sketch(full01, ["event_type"], "user_id", k=16).collect()
    }
    got01 = {
        r["event_type"]: (r["sketch"], r["n_seen"])
        for r in read_sketch_state(spark, state).collect()
    }
    assert got01 == want01  # legacy state participated in the merge

    # (2) phantom in-flight version dir: a crash after writing _v_2 but
    # before the pointer commit
    legacy_df.limit(1).selectExpr(
        "event_type", "array(user_id) as sketch",
        "cast(1 as long) as n_seen", "cast(1.0 as double) as est_distinct",
    ).write.parquet(os.path.join(state, "_v_2"))
    got_after_phantom = {
        r["event_type"]: (r["sketch"], r["n_seen"])
        for r in read_sketch_state(spark, state).collect()
    }
    assert got_after_phantom == want01  # reader never sees _v_2

    b2 = [{"event_type": "click", "user_id": u} for u in range(3, 9)]
    (land / "b2.jsonl").write_text("\n".join(js.dumps(d) for d in b2))
    run_batch()
    ptr = _read_scd2_pointer(state)
    assert ptr["version"] == 2  # the replayed epoch overwrote _v_2
    full = spark.createDataFrame(
        [(d["event_type"], d["user_id"]) for d in b0 + b1 + b2],
        "event_type string, user_id long",
    )
    want = {
        r["event_type"]: (r["sketch"], r["n_seen"])
        for r in kmv_sketch(full, ["event_type"], "user_id", k=16).collect()
    }
    got = {
        r["event_type"]: (r["sketch"], r["n_seen"])
        for r in read_sketch_state(spark, state).collect()
    }
    assert got == want

    # (3) the committed v_2 dir exists alongside the retained v_1 —
    # nothing was deleted in place
    assert os.path.isdir(os.path.join(state, "_v_2"))
    assert os.path.isdir(os.path.join(state, "_v_1"))


def test_epoch_sinks_reader_isolation(spark, tmp_path):
    """A reader racing a micro-batch must not ingest a half-written
    epoch: cms/mg fold only ledger-committed epoch dirs, cusum alarms
    only pointer-committed epochs. Simulated by planting a phantom
    (uncommitted) epoch dir with poisoned values — it must be
    invisible."""
    import json as js
    import os

    from etl_capnz_spark.streaming.stream import (
        cms_sketch_sink,
        mg_heavy_hitters_sink,
        read_cms_state,
        read_mg_state,
    )

    land = tmp_path / "land_iso"
    land.mkdir()
    rows = [{"v": f"item{i % 4}"} for i in range(40)]
    (land / "b1.jsonl").write_text("\n".join(js.dumps(r) for r in rows))

    # --- CMS
    cms_state = str(tmp_path / "cms_state")
    q = cms_sketch_sink(
        spark.readStream.schema("v STRING").json(str(land)),
        cms_state, str(tmp_path / "cp_cms"), "v", depth=2, width=16,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    before = {
        (r["i"], r["j"]): r["cnt"]
        for r in read_cms_state(spark, cms_state).collect()
    }
    assert sum(before.values()) == 2 * 40  # depth x n rows
    # phantom in-flight epoch with poisoned giant counts
    spark.createDataFrame(
        [(0, 0, 10**9)], "i int, j int, cnt long"
    ).write.parquet(os.path.join(cms_state, "epoch=deadbeef_999"))
    after = {
        (r["i"], r["j"]): r["cnt"]
        for r in read_cms_state(spark, cms_state).collect()
    }
    assert after == before  # the uncommitted epoch is invisible

    # --- MG
    mg_state = str(tmp_path / "mg_state")
    q = mg_heavy_hitters_sink(
        spark.readStream.schema("v STRING").json(str(land)),
        mg_state, str(tmp_path / "cp_mg"), "v", k=8,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    mg_before = {
        r["item"]: r["mg_count"]
        for r in read_mg_state(spark, mg_state, 8).collect()
    }
    assert mg_before  # the 4 items all survive at k=8
    spark.createDataFrame(
        [("poison", 10**9)], "item string, mg_count long"
    ).write.parquet(os.path.join(mg_state, "epoch=deadbeef_999"))
    mg_after = {
        r["item"]: r["mg_count"]
        for r in read_mg_state(spark, mg_state, 8).collect()
    }
    assert mg_after == mg_before and "poison" not in mg_after


def test_cusum_alarms_reader_isolation(spark, tmp_path):
    """An alarms epoch dir whose key is NOT in the cusum state pointer
    (in-flight or orphaned by a crash before the commit) is invisible
    to read_cusum_alarms."""
    import json as js
    import os

    from etl_capnz_spark.streaming.stream import (
        cusum_sink,
        read_cusum_alarms,
    )

    land = tmp_path / "land_ciso"
    land.mkdir()
    out = str(tmp_path / "ciso_out")
    rows = [
        {"user_id": 1, "event_id": 1,
         "ts": "2024-01-01 00:00:01", "value": 30.0},
    ]
    (land / "b1.jsonl").write_text("\n".join(js.dumps(r) for r in rows))
    src = (
        spark.readStream.schema(
            "user_id BIGINT, event_id BIGINT, ts STRING, value DOUBLE"
        )
        .json(str(land))
        .selectExpr(
            "user_id", "event_id", "cast(ts as timestamp) AS ts", "value"
        )
    )
    q = cusum_sink(
        src, out, str(tmp_path / "cp_ciso"), "user_id", "ts", "value",
        "event_id", level=10.0, threshold=15.0,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = read_cusum_alarms(spark, out).collect()
    assert len(got) == 1  # 30 - 10 = 20 > 15
    # orphaned alarms dir from a crashed, never-committed epoch
    spark.createDataFrame(
        [(99, 99, None, 999.0)],
        "user_id long, event_id long, ts timestamp, cusum double",
    ).write.parquet(os.path.join(out, "alarms", "epoch=deadbeef_7"))
    got2 = read_cusum_alarms(spark, out).collect()
    assert len(got2) == 1 and got2[0]["user_id"] == 1


def test_fresh_sink_first_epoch_isolation_and_lineage_guard(spark, tmp_path):
    """Code-review r8 continuation fixes:

    1. The committed ledger exists from SINK CONSTRUCTION, so a reader
       racing a brand-new sink's FIRST epoch raises
       no-committed-epochs instead of falling back to an unrestricted
       read that would ingest the torn epoch.
    2. frontier_schedule_stream fails LOUDLY when the schedule dir
       belongs to a different checkpoint lineage (batch ids restart at
       0 — continuing would silently skip rounds).
    3. A committed cusum epoch whose alarms dir is missing is loud
       corruption, not a silent skip.
    """
    import json as js
    import os
    import shutil

    from etl_capnz_spark.streaming.stream import (
        _read_committed_epochs,
        cms_sketch_sink,
        cusum_sink,
        frontier_schedule_stream,
        read_cms_state,
        read_cusum_alarms,
        read_frontier_schedule,
    )

    # (1) constructing the sink creates an EMPTY ledger; a torn first
    # epoch (present on disk, not committed) is invisible -> loud
    land = tmp_path / "land_fresh"
    land.mkdir()
    cms_state = str(tmp_path / "fresh_cms_state")
    stream = spark.readStream.schema("v STRING").json(str(land))
    cms_sketch_sink(stream, cms_state, str(tmp_path / "cp_fresh"), "v")
    assert _read_committed_epochs(cms_state) == []
    spark.createDataFrame(
        [(0, 0, 10**9)], "i int, j int, cnt long"
    ).write.parquet(os.path.join(cms_state, "epoch=torn_0"))
    with pytest.raises(FileNotFoundError, match="no committed epochs"):
        read_cms_state(spark, cms_state)

    # (2) lineage guard: run one committed round, then restart with a
    # FRESH checkpoint against the same schedule/crawled dirs
    sched_path = str(tmp_path / "lg_schedule")
    crawled_path = str(tmp_path / "lg_crawled")
    (land / "b1.jsonl").write_text(
        js.dumps({"src": 1, "url": "http://h1.com/a"})
    )

    def run_frontier(cp):
        s = spark.readStream.schema("src BIGINT, url STRING").json(
            str(land)
        )
        q = frontier_schedule_stream(
            s, sched_path, crawled_path, cp
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_frontier(str(tmp_path / "cp_lg1"))
    assert read_frontier_schedule(spark, sched_path).count() == 1
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="lineage"):
        run_frontier(str(tmp_path / "cp_lg2"))

    # (3) cusum: deleting a committed alarms dir is loud corruption
    out = str(tmp_path / "lg_cusum")
    (land / "c1.jsonl").write_text(
        js.dumps({"user_id": 1, "event_id": 1,
                  "ts": "2024-01-01 00:00:01", "value": 30.0})
    )
    src = (
        spark.readStream.schema(
            "user_id BIGINT, event_id BIGINT, ts STRING, value DOUBLE"
        )
        .json(str(land))
        .selectExpr(
            "user_id", "event_id", "cast(ts as timestamp) AS ts", "value"
        )
    )
    q = cusum_sink(
        src, out, str(tmp_path / "cp_lg3"), "user_id", "ts", "value",
        "event_id", level=10.0, threshold=15.0,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    alarms_dirs = os.listdir(os.path.join(out, "alarms"))
    shutil.rmtree(os.path.join(out, "alarms", alarms_dirs[0]))
    with pytest.raises(FileNotFoundError, match="missing their alarms"):
        read_cusum_alarms(spark, out)


def test_versioned_state_selfhealing_sweep_and_next_cleanup(spark, tmp_path):
    """(a) A stray visible file in a versioned state dir (the signature
    of a crash between the migrating pointer commit and its legacy
    cleanup) is swept by the NEXT commit, not left forever. (b) The
    pre-versioned upsert sink's stale `_next` staging dir is cleared at
    construction."""
    import json as js
    import os

    from etl_capnz_spark.streaming.stream import (
        kmv_distinct_sink,
        upsert_alert_state,
    )

    land = tmp_path / "land_sweep"
    land.mkdir()
    state = str(tmp_path / "sweep_state")
    cp = str(tmp_path / "cp_sweep")

    def run_batch():
        s = spark.readStream.schema(
            "event_type STRING, user_id BIGINT"
        ).json(str(land))
        q = kmv_distinct_sink(
            s, state, cp, ["event_type"], "user_id", k=16
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    (land / "b1.jsonl").write_text(
        js.dumps({"event_type": "view", "user_id": 1})
    )
    run_batch()
    # stray legacy leftover lands AFTER the first commit
    stray = os.path.join(state, "part-legacy-leftover.parquet")
    open(stray, "wb").write(b"junk")
    (land / "b2.jsonl").write_text(
        js.dumps({"event_type": "view", "user_id": 2})
    )
    run_batch()
    assert not os.path.exists(stray)  # self-healing sweep

    # (b) stale _next staging dir cleared at construction
    up_state = str(tmp_path / "up_state")
    os.makedirs(up_state + "_next")
    stream = spark.readStream.schema(
        "identifier STRING, msg_type STRING, sent_ts TIMESTAMP"
    ).json(str(land))
    upsert_alert_state(stream, up_state, str(tmp_path / "cp_up"))
    assert not os.path.isdir(up_state + "_next")


def test_incremental_neardup_sink(spark, tmp_path):
    """VERDICT r8 #5 — streaming near-dup dedup over the persisted LSH
    band index: (1) streamed drop set ≡ batch lsh_cross_candidates over
    (batch₂, committed survivors), (2) idempotent replay, (3)
    committed-epoch reader isolation (a torn epoch dir is invisible)."""
    import json as js
    import os

    from etl_capnz_spark.operators.dedup import (
        lsh_cross_candidates,
        minhash_signatures,
    )
    from etl_capnz_spark.streaming.stream import (
        incremental_neardup_sink,
        read_neardup_output,
    )

    land = tmp_path / "nd_land"
    land.mkdir()
    out = str(tmp_path / "nd_out")
    idx = str(tmp_path / "nd_idx")
    cp = str(tmp_path / "nd_cp")

    texts = {
        1: "severe weather warning issued for the northern region today",
        2: "river levels rising rapidly near the coastal settlements",
        3: "volcanic activity observed at the central plateau overnight",
        4: "road closures expected across the alpine passes this weekend",
    }
    b2 = {
        11: texts[1],  # cross-batch near-dup of doc 1 -> dropped
        12: "new geothermal vent discovered by the survey team",
        13: "ferry sailings cancelled due to heavy swell conditions",
        14: "ferry sailings cancelled due to heavy swell conditions",
        # ^ intra-batch dup of 13 -> dropped (greedy min-id)
    }

    def run():
        stream = spark.readStream.schema(
            "doc_id BIGINT, text STRING"
        ).option("maxFilesPerTrigger", 1).json(str(land))
        q = incremental_neardup_sink(
            stream, out, idx, cp
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    (land / "b1.jsonl").write_text(
        "\n".join(
            js.dumps({"doc_id": k, "text": v}) for k, v in texts.items()
        )
    )
    run()
    (land / "b2.jsonl").write_text(
        "\n".join(js.dumps({"doc_id": k, "text": v}) for k, v in b2.items())
    )
    run()

    got = {
        r["doc_id"] for r in read_neardup_output(spark, out).collect()
    }
    assert got == {1, 2, 3, 4, 12, 13}

    # (1) equivalence: the cross-dropped ids match the BATCH operator
    # over (batch2 sigs, committed-survivor sigs) exactly
    base = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    newb = spark.createDataFrame(
        [(k, v) for k, v in b2.items()], "doc_id long, text string"
    )
    cross = lsh_cross_candidates(
        minhash_signatures(newb, "text", "doc_id"),
        minhash_signatures(base, "text", "doc_id"),
        "doc_id",
    )
    batch_cross_drops = {r["new_id"] for r in cross.collect()}
    streamed_cross_drops = {11}  # 14 is the intra-batch drop
    assert batch_cross_drops == streamed_cross_drops

    # (2) idempotent replay: re-running with no new files is a no-op
    run()
    assert {
        r["doc_id"] for r in read_neardup_output(spark, out).collect()
    } == {1, 2, 3, 4, 12, 13}

    # (3) reader isolation: a torn (uncommitted) epoch dir is invisible
    spark.createDataFrame(
        [(999, "torn epoch row")], "doc_id long, text string"
    ).write.parquet(os.path.join(out, "epoch_torn_9"))
    assert {
        r["doc_id"] for r in read_neardup_output(spark, out).collect()
    } == {1, 2, 3, 4, 12, 13}
