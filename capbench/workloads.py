"""Workload bodies. ``capbench/run.py`` starts this module as
``python -m capbench.workloads <workload> ...`` in a fresh process per run
and reads the JSON it writes to ``--result``.

Every workload follows the same shape: make the seeded inputs and the
engine-free expected output, set up (session start plus an untimed
warm-up where the workload is warm), stamp ``ready_at``, repeat the
workload's operation until ``--seconds`` have passed, then check the
outputs outside the timed region. Whatever happens, ``finally`` stops
streaming queries, joins the generator thread and stops the session.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from capbench import feed

REFRESH_ALERTS, REFRESH_FILES = 3_000, 30
BATCH_ALERTS, BATCH_FILES = 8_000, 40
#: Pass times keep falling for about five passes while the JVM compiles
#: the planner and the generated code (measured 3.2 s -> 2.3 s); timed
#: passes start after that, and the stream's warm-up phase covers about
#: as many micro-batches.
BATCH_WARMUP_PASSES = 5
STREAM_WARMUP_S = 8
#: Files of a timed phase's first seconds, read by the query's first
#: micro-batches, are not timed either.
STREAM_SETTLE_S = 3
#: Untraced runs land at the first rate only, well below the capacity of
#: a 4-vCPU host (about 1200 alerts/s with these polygons), where per-batch
#: fixed costs dominate; traced runs add the second, close to capacity,
#: where per-alert work weighs more.
STREAM_RATES = (250, 1000)
STREAM_FILES_PER_S = 20
#: Micro-batches start on a fixed 2 s schedule, as a deployed feed poller
#: would run them. Back-to-back batches (the default trigger) made each
#: batch's length feed into the next one's input, and the latency median
#: swung by a quarter between identical runs.
STREAM_TRIGGER_S = 2
STREAM_RELAND_SHARE = 0.1
OPERATOR_QUERIES = ("entity_golden", "graph_walks", "dedup_minhash", "text_lr_train")
CLI_TIMEOUT_S = 120
#: Each prefix of the traced cap_batch chain runs this often (median).
PREFIX_REPEATS = 3

#: ``<sent>`` stamp the stream generator replaces with the landing time.
_PLACEHOLDER_SENT = feed._iso(feed.dt.datetime(2000, 1, 1))


def _stop_on_signal(signum, _frame):
    raise SystemExit(f"capbench workload stopped by signal {signum}")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _count_lines(path: str) -> int:
    n = 0
    for r, _, fs in os.walk(path):
        for f in fs:
            if f.startswith("part-"):
                with open(os.path.join(r, f), "rb") as fh:
                    n += sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b""))
    return n


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.work = args.work
        self.trace = bool(args.trace)
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.layers: dict[str, float] = {}
        self.ready_at = None
        self.spark = None
        self.threads: list[threading.Thread] = []
        self.stop_flag = threading.Event()
        self.spark_conf: dict = {}

    # -- lifecycle -------------------------------------------------------

    def start_session(self) -> None:
        t0 = time.time()
        from etl_capnz_spark.session import get_session

        self.spark = get_session(f"capbench-{self.args.workload}")
        self.layers["session.start_s"] = time.time() - t0

    def close(self) -> None:
        self.stop_flag.set()
        try:
            if self.spark is not None:
                for q in self.spark.streams.active:
                    q.stop()
        finally:
            for t in self.threads:
                t.join(timeout=30)
            if self.spark is not None:
                t0 = time.time()
                self.spark.stop()
                self.layers.setdefault("session.stop_s", time.time() - t0)
                self.spark = None

    def ready(self) -> None:
        self.ready_at = time.time()
        self.deadline = self.ready_at + self.args.seconds

    def more(self, minimum: int = 1) -> bool:
        return len(self.ops) < minimum or time.time() < self.deadline

    def named(self, name: str, value: float, unit: str, n: int) -> None:
        """A workload-specific end-to-end figure for the detail line."""
        self.detail.setdefault("named", {})[name] = {"value": value, "unit": unit, "n": n}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"capbench: {what}", file=sys.stderr)

    def event_log(self):
        from capbench.trace import EventLog

        return EventLog.single(os.path.join(self.work, "events"))

    def describe(self, desc: str | None) -> None:
        if self.trace:
            self.spark.sparkContext.setJobDescription(desc)

    def result(self) -> dict:
        e2e = {"op_p50_s": {"value": _median(self.ops), "unit": "s"}}
        layers = {
            k: {"value": v, "unit": _unit(k)} for k, v in sorted(self.layers.items())
        }
        if self.trace:
            layers["trace.op_p50_s"] = {"value": _median(self.ops), "unit": "s"}
        self.detail["ops"] = len(self.ops)
        self.detail["op_s"] = self.ops
        if self.errors:
            self.detail["errors"] = self.errors[:20]
        return {
            "ready_at": self.ready_at,
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": layers if self.trace else e2e,
            "detail": self.detail,
            "spark_conf": self.spark_conf,
        }

    def record_conf(self) -> None:
        conf = self.spark.sparkContext.getConf()
        keep = (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.local.dir", "spark.eventLog.enabled",
        )
        self.spark_conf = {k: conf.get(k, None) for k in keep}
        self.spark_conf["spark.version"] = self.spark.version


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


# -- CAP batch chain ---------------------------------------------------------


def _cap_chain(spark, feed_dir: str):
    from etl_capnz_spark.pipeline import Pipeline

    return Pipeline.from_feed(spark, feed_dir, per_line=True).active(feed.NOW).to_features()


def _plan_spans(df, construct_s: float) -> dict[str, float]:
    """Construction time of ``df`` plus its Catalyst phases (traced runs)."""
    from capbench.trace import catalyst_phases

    ph = catalyst_phases(df)
    return {
        "construct": construct_s,
        "analysis": ph["analysis"],
        "optimization": ph["optimization"],
        "planning": ph["planning"],
    }


def _add_spans(spans: dict[str, list[float]], one: dict[str, float]) -> None:
    for k, v in one.items():
        spans.setdefault(k, []).append(v)


def _span_layers(run: Run, spans: dict[str, list[float]]) -> None:
    """Per-operation medians of the construction and Catalyst spans."""
    run.layers["py4j.construct_s"] = _median(spans["construct"])
    run.layers["catalyst.analyze_s"] = _median(spans["analysis"])
    run.layers["catalyst.plan_s"] = _median(
        [o + p for o, p in zip(spans["optimization"], spans["planning"])]
    )
    run.detail["catalyst"] = {
        "optimize_s": _median(spans["optimization"]),
        "physical_plan_s": _median(spans["planning"]),
    }


def _cap_pass(run: Run, feed_dir: str, out: str, tag: str, spans: dict | None) -> float:
    """One closed-loop pass: build the chain and write NDJSON features."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    p = _cap_chain(run.spark, feed_dir)
    if spans is not None:
        _add_spans(spans, _plan_spans(p.df, time.perf_counter() - t0))
    run.describe(tag)
    p.write_ndjson(out)
    run.describe(None)
    return time.perf_counter() - t0


def _check_cap_output(run: Run, out: str, want: list, full: bool) -> None:
    n = _count_lines(out)
    if n != len(want):
        run.fail(f"{os.path.basename(out)}: {n} features, expected {len(want)}")
    elif full:
        got = feed.read_ndjson_features(out)
        if feed.digest(got) != feed.digest(want):
            run.fail(f"{os.path.basename(out)}: feature digest differs from reference")
    run.detail["features_expected"] = len(want)
    run.detail["digest"] = feed.digest(want)


def _prefix_layers(run: Run, feed_dir: str, out: str, n_docs: int) -> None:
    """Layer times as differences between successive prefixes of the
    chain, each written to the noop sink, and the counts at each layer."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_capnz_spark.pipeline import Pipeline

    def timed_noop(df, aggs):
        walls = []
        for _ in range(PREFIX_REPEATS):
            obs = Observation()
            t0 = time.perf_counter()
            df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return _median(walls), obs.get

    count = [F.count(F.lit(1)).alias("n")]
    base = Pipeline.from_feed(run.spark, feed_dir, per_line=True)
    t_parse, c_parse = timed_noop(base.df, count)
    active = base.active(feed.NOW)
    t_filter, c_filter = timed_noop(active.df, count)
    feats = active.to_features()
    kind = F.col("geom_type")
    t_build, c_build = timed_noop(feats.df, [
        F.count(F.lit(1)).alias("n"),
        F.sum((kind == "Polygon").cast("int")).alias("polygon"),
        F.sum(F.col("is_center").cast("int")).alias("centroid"),
        F.sum(((kind == "Point") & ~F.col("is_center")).cast("int")).alias("point"),
    ])
    walls = []
    for _ in range(PREFIX_REPEATS):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        feats.write_ndjson(out)
        walls.append(time.perf_counter() - t0)
    t_write = _median(walls)
    run.detail["layers"] = {
        "sources.xml.parse_s": t_parse,
        "operators.extract.filter_s": t_filter - t_parse,
        "operators.features.build_s": t_build - t_filter,
        "sinks.geojson.write_s": t_write - t_build,
        "sources.xml.docs_in": n_docs,
        "sources.xml.alerts_out": c_parse["n"],
        "operators.extract.alerts_kept": c_filter["n"],
        "operators.features.features_out": c_build,
        "sinks.geojson.bytes_out": _dir_bytes(out),
    }


def _exec_layers(run: Run, spans: dict, walls: dict[str, float]) -> None:
    """Per-operation means of the event-log counters of tagged jobs."""
    log = run.event_log()
    per_op = [log.matching(lambda d, t=tag: d == t).metrics(w) for tag, w in walls.items()]
    for k in per_op[0] if per_op else ():
        run.layers[k] = statistics.fmean(m[k] for m in per_op)
    _span_layers(run, spans)


# -- workloads ---------------------------------------------------------------


def cap_batch(run: Run) -> None:
    alerts = feed.generate(run.args.seed, BATCH_ALERTS)
    src = os.path.join(run.work, "feed")
    feed.write_files(alerts, src, BATCH_FILES)
    want = feed.expected(alerts)
    run.detail["input"] = {"alerts": len(alerts), "files": BATCH_FILES}
    run.start_session()
    run.record_conf()
    for i in range(BATCH_WARMUP_PASSES):
        _cap_pass(run, src, os.path.join(run.work, "warm"), f"warmup{i}", None)
    spans = {} if run.trace else None
    walls = {}
    run.ready()
    while run.more(minimum=3):
        out = os.path.join(run.work, "out")
        tag = f"op{len(run.ops)}"
        run.attempted += 1
        wall = _cap_pass(run, src, out, tag, spans)
        run.ops.append(wall)
        walls[tag] = wall
        _check_cap_output(run, out, want, full=not run.more(minimum=3))
    run.named("alerts_per_s", len(alerts) / _median(run.ops), "1/s", len(run.ops))
    if run.trace:
        _prefix_layers(run, src, os.path.join(run.work, "prefix"), len(alerts))
        run.close()
        _exec_layers(run, spans, walls)


def cap_refresh(run: Run) -> None:
    alerts = feed.generate(run.args.seed, REFRESH_ALERTS)
    src = os.path.join(run.work, "feed")
    feed.write_files(alerts, src, REFRESH_FILES)
    want = feed.expected(alerts)
    run.detail["input"] = {"alerts": len(alerts), "files": REFRESH_FILES}
    events = os.path.join(run.work, "events")
    run.ready()
    starts, stops, groups = [], [], []
    while run.more():
        out = os.path.join(run.work, f"out{len(run.ops)}")
        run.attempted += 1
        for f in os.listdir(events):
            os.remove(os.path.join(events, f))
        t0 = time.time()
        with open(os.path.join(run.work, "cli.log"), "ab") as log:
            proc = subprocess.run(
                [sys.executable, "-m", "etl_capnz_spark", "run", src, "--per-line",
                 "--out-dir", out, "--now", feed.NOW],
                stdout=log, stderr=log, timeout=CLI_TIMEOUT_S,
            )
        t1 = time.time()
        run.ops.append(t1 - t0)
        if proc.returncode != 0:
            run.fail(f"CLI exited with {proc.returncode}")
            continue
        _check_cap_output(run, out, want, full=True)
        shutil.rmtree(out, ignore_errors=True)
        if run.trace:
            log = run.event_log()
            starts.append(log.app_start_ms / 1e3 - t0)
            stops.append(t1 - log.app_end_ms / 1e3)
            groups.append(log.matching(lambda d: True).metrics(t1 - t0))
    run.named("refresh_s", _median(run.ops), "s", len(run.ops))
    if run.trace:
        run.layers["session.start_s"] = _median(starts)
        run.layers["session.stop_s"] = _median(stops)
        for k in groups[0] if groups else ():
            run.layers[k] = statistics.fmean(g[k] for g in groups)
        # Construction and Catalyst cannot be timed inside the CLI; one
        # cold process runs the same chain through Pipeline with spans.
        probe = subprocess.run(
            [sys.executable, "-m", "capbench.workloads", "refresh_probe",
             "--seed", str(run.args.seed), "--seconds", "1", "--trace", "1",
             "--work", os.path.join(run.work, "probe"),
             "--result", os.path.join(run.work, "probe.json")],
            timeout=CLI_TIMEOUT_S,
        )
        if probe.returncode != 0:
            run.fail(f"refresh probe exited with {probe.returncode}")
            return
        with open(os.path.join(run.work, "probe.json")) as fh:
            pres = json.load(fh)
        for k in ("py4j.construct_s", "catalyst.analyze_s", "catalyst.plan_s"):
            run.layers[k] = pres["metrics"][k]["value"]
        run.detail["probe"] = pres["detail"]


def refresh_probe(run: Run) -> None:
    """Cold construction and Catalyst spans of the refresh chain."""
    os.makedirs(run.work, exist_ok=True)
    alerts = feed.generate(run.args.seed, REFRESH_ALERTS)
    src = os.path.join(run.work, "feed")
    feed.write_files(alerts, src, REFRESH_FILES)
    run.start_session()
    run.record_conf()
    run.ready()
    spans: dict = {}
    run.attempted += 1
    run.ops.append(_cap_pass(run, src, os.path.join(run.work, "out"), "probe", spans))
    _check_cap_output(run, os.path.join(run.work, "out"), feed.expected(alerts), True)
    _span_layers(run, spans)


class StreamPhase:
    """One open-loop phase: files land on a fixed schedule while one
    query reads them; latency runs from each file's due time to the
    commit of the micro-batch that read it. The first ``warm_s`` seconds
    of files warm the query up and are not timed, so the timed files
    see a running query rather than its start."""

    def __init__(self, run: Run, rate: int, warm_s: float, seconds: float,
                 first_key: int, tag: str):
        self.run, self.rate, self.tag = run, rate, tag
        base = os.path.join(run.work, tag)
        self.land = os.path.join(base, "in")
        self.stage = os.path.join(base, "stage")
        self.cp = os.path.join(base, "cp")
        self.out = os.path.join(base, "out")
        for d in (self.land, self.stage):
            os.makedirs(d)
        self.n_warm = int(STREAM_FILES_PER_S * warm_s)
        self.n_files = self.n_warm + max(1, int(STREAM_FILES_PER_S * seconds))
        self.per_file = max(1, rate // STREAM_FILES_PER_S)
        n_reland = int(self.per_file * STREAM_RELAND_SHARE)
        self.fresh_per_file = self.per_file - n_reland
        self.alerts = feed.generate(
            run.args.seed, self.fresh_per_file * self.n_files, first_key=first_key,
            sent=feed.dt.datetime(2000, 1, 1), expires_default=False,
        )
        self.rng = random.Random(run.args.seed * 31 + rate)
        self.n_reland = n_reland
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.backlog: list[int] = []
        self.t0 = 0.0

    def _generate(self, t0: float) -> None:
        landed: list[str] = []
        for i in range(self.n_files):
            due = t0 + i / STREAM_FILES_PER_S
            while not self.run.stop_flag.is_set() and time.time() < due:
                time.sleep(min(0.005, max(0.0, due - time.time())))
            if self.run.stop_flag.is_set():
                return
            sent = feed._iso(feed.dt.datetime.now(feed.dt.timezone.utc))
            chunk = self.alerts[i * self.fresh_per_file:(i + 1) * self.fresh_per_file]
            lines = [a.xml.replace(_PLACEHOLDER_SENT, sent) for a in chunk]
            reland = self.rng.sample(landed, min(self.n_reland, len(landed)))
            landed.extend(lines)
            name = f"cap-{i:05d}.xml"
            with open(os.path.join(self.stage, name), "w") as fh:
                fh.write("\n".join(lines + reland) + "\n")
            os.rename(os.path.join(self.stage, name), os.path.join(self.land, name))
            self.due[name] = due
            self.late.append(time.time() - due)

    def batches(self) -> tuple[dict[str, int], dict[int, float]]:
        """file name -> batch id, and batch id -> commit time."""
        file_batch = {}
        src = os.path.join(self.cp, "sources", "0")
        for f in os.listdir(src) if os.path.isdir(src) else ():
            if not f.split(".")[0].isdigit():
                continue
            with open(os.path.join(src, f)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        file_batch[os.path.basename(e["path"])] = e["batchId"]
        commits = {}
        cdir = os.path.join(self.cp, "commits")
        for f in os.listdir(cdir) if os.path.isdir(cdir) else ():
            if f.isdigit():
                commits[int(f)] = os.path.getmtime(os.path.join(cdir, f))
        return file_batch, commits

    def execute(self) -> list[float]:
        from etl_capnz_spark.sinks.geojson import write_features
        from etl_capnz_spark.streaming.stream import read_xml_stream, stream_features

        run = self.run
        out = self.out

        def sink(df, epoch_id):
            run.describe(f"{self.tag}|{epoch_id}")
            write_features(df, os.path.join(out, f"batch-{epoch_id:06d}"))
            run.describe(None)

        t_c = time.perf_counter()
        feats = stream_features(read_xml_stream(run.spark, self.land), now=feed.NOW)
        construct = time.perf_counter() - t_c
        analysis = feats._jdf.queryExecution().tracker().phases().get("analysis")
        q = (
            feats.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.cp)
            .trigger(processingTime=f"{STREAM_TRIGGER_S} seconds")
            .start()
        )
        try:
            self.t0 = t0 = time.time() + 0.5
            gen = threading.Thread(target=self._generate, args=(t0,), daemon=True)
            run.threads.append(gen)
            gen.start()
            while gen.is_alive():
                fb, commits = self.batches()
                done = sum(1 for f, b in fb.items() if b in commits)
                self.backlog.append(len(self.due) - done)
                gen.join(timeout=0.5)
            q.processAllAvailable()
            progress = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
        if len(self.due) != self.n_files:
            run.fail(f"{self.tag}: generator landed {len(self.due)} of {self.n_files} files")
        file_batch, commits = self.batches()
        lat = []
        for i, (name, due) in enumerate(self.due.items()):
            b = file_batch.get(name)
            if b is None or b not in commits:
                run.fail(f"{self.tag}: {name} never committed")
            elif i >= self.n_warm:
                lat.append(commits[b] - due)
        self.progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        self.construct = construct
        self.analysis = analysis.get().durationMs() / 1e3 if analysis.isDefined() else 0.0
        return lat

    def check(self) -> None:
        want = feed.expected(self.alerts)
        got = feed.read_ndjson_features(self.out)
        ids = [g[0] for g in got]
        if len(ids) != len(set(ids)):
            self.run.fail(f"{self.tag}: {len(ids) - len(set(ids))} duplicate features")
        if len(got) != len(want) or feed.digest(got) != feed.digest(want):
            self.run.fail(
                f"{self.tag}: {len(got)} features (digest {feed.digest(got)}), "
                f"expected {len(want)} ({feed.digest(want)})"
            )

    def summary(self, lat: list[float]) -> dict:
        d = [p["durationMs"] for p in self.progress]
        st = [p["stateOperators"][0] for p in self.progress if p.get("stateOperators")]

        def med(key):
            return _median([x.get(key, 0) for x in d])

        return {
            "rate_alerts_per_s": self.rate,
            "files": self.n_files,
            "warmup_files": self.n_warm,
            "alerts_per_file": self.per_file,
            "relanded_per_file": self.n_reland,
            "lat_p50_s": _median(lat),
            "lat_p95_s": _pct(lat, 0.95),
            "lat_samples": len(lat),
            "gen.late_p50_s": _pct(self.late, 0.5),
            "gen.late_max_s": max(self.late, default=0.0),
            "streaming.batches": len(self.progress),
            "streaming.batch_rows_ms": [
                [p["numInputRows"], p["durationMs"].get("triggerExecution", 0)]
                for p in self.progress
            ],
            "streaming.backlog_files_max": max(self.backlog, default=0),
            "streaming.planning_ms": med("queryPlanning"),
            "streaming.latest_offset_ms": med("latestOffset"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.trigger_ms": med("triggerExecution"),
            "streaming.state_rows": st[-1].get("numRowsTotal", 0) if st else 0,
            "streaming.state_commit_ms": _median([s.get("commitTimeMs", 0) for s in st]),
            "streaming.dropped_duplicates": sum(
                s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for s in st
            ),
        }


def cap_stream(run: Run) -> None:
    rates = STREAM_RATES if run.trace else STREAM_RATES[:1]
    phases = [
        StreamPhase(run, rate, STREAM_SETTLE_S, run.args.seconds,
                    1 + i * 1_000_000, f"r{rate}")
        for i, rate in enumerate(rates)
    ]
    warm = StreamPhase(run, STREAM_RATES[0], 0, STREAM_WARMUP_S, 10_000_000, "warmup")
    run.start_session()
    run.record_conf()
    # a throwaway query absorbs the cold start (first micro-batches run
    # for seconds while code is generated and compiled)
    warm.execute()
    results = {}
    for ph in phases:
        run.attempted += ph.n_files
        lat = ph.execute()
        results[ph.tag] = (ph, lat)
    # set-up ends where the first phase's timed files begin
    run.ready_at = phases[0].t0 + STREAM_SETTLE_S
    # the headline operation: files at the lowest rate, where
    # per-micro-batch fixed costs dominate
    run.ops = results[phases[0].tag][1]
    for ph in (warm, *phases):
        ph.check()
    run.detail["phases"] = {tag: ph.summary(lat) for tag, (ph, lat) in results.items()}
    for tag, (ph, lat) in results.items():
        run.named(f"{tag}.lat_p50_s", _median(lat), "s", len(lat))
        run.named(f"{tag}.lat_p95_s", _pct(lat, 0.95), "s", len(lat))
    if run.trace:
        run.close()
        log = run.event_log()
        per_batch = []
        for ph, _ in results.values():
            for p in ph.progress:
                g = log.matching(lambda d, t=f"{ph.tag}|{p['batchId']}": d == t)
                per_batch.append(g.metrics(p["durationMs"].get("triggerExecution", 0) / 1e3))
        for k in per_batch[0] if per_batch else ():
            run.layers[k] = statistics.fmean(m[k] for m in per_batch)
        lo = phases[0]
        run.layers["py4j.construct_s"] = lo.construct
        run.layers["catalyst.analyze_s"] = lo.analysis
        run.layers["catalyst.plan_s"] = statistics.fmean(
            p["durationMs"].get("queryPlanning", 0) / 1e3 for p in lo.progress
        )


def operators(run: Run) -> None:
    import __spark_entry__ as contract

    from capbench import tables

    data = os.path.join(run.work, "tables")
    tables.write_tables(run.args.seed, data)
    run.detail["input"] = {"documents": tables.N_DOCS, "lineitem": tables.N_LINEITEM}
    qs = contract.queries()
    oracle = contract.oracle_sql()
    run.start_session()
    run.record_conf()
    # The untimed warm-up pass collects each result and checks it against
    # its oracle; timed passes run the same queries into the noop sink.
    for name in OPERATOR_QUERIES:
        ok, n = tables.oracle_matches(qs[name](run.spark, data), oracle[name], data)
        run.detail.setdefault("rows_out", {})[name] = n
        if not ok:
            run.fail(f"{name}: result differs from oracle_sql()")
    spans: dict[str, list[float]] = {}
    per_query: dict[str, list[float]] = {n: [] for n in OPERATOR_QUERIES}
    run.ready()
    while run.more():
        tag = f"op{len(run.ops)}"
        total = 0.0
        pass_spans: dict[str, float] = {}
        for name in OPERATOR_QUERIES:
            run.attempted += 1
            t0 = time.perf_counter()
            run.describe(f"{tag}|{name}")
            df = qs[name](run.spark, data)
            if run.trace:
                for k, v in _plan_spans(df, time.perf_counter() - t0).items():
                    pass_spans[k] = pass_spans.get(k, 0.0) + v
            df.write.format("noop").mode("overwrite").save()
            run.describe(None)
            wall = time.perf_counter() - t0
            per_query[name].append(wall)
            total += wall
        run.ops.append(total)
        if run.trace:
            _add_spans(spans, pass_spans)
    for name, walls_q in per_query.items():
        run.named(f"{name}_s", _median(walls_q), "s", len(walls_q))
    if run.trace:
        run.close()
        log = run.event_log()
        per_pass = [
            log.matching(lambda d, t=f"op{i}|": d.startswith(t)).metrics(wall)
            for i, wall in enumerate(run.ops)
        ]
        for k in per_pass[0]:
            run.layers[k] = statistics.fmean(m[k] for m in per_pass)
        run.detail["query_exec"] = {
            name: log.matching(lambda d, n=f"|{name}": d.endswith(n)).metrics(
                sum(per_query[name])
            )
            for name in OPERATOR_QUERIES
        }
        _span_layers(run, spans)


WORKLOADS = {
    "cap_refresh": cap_refresh,
    "cap_batch": cap_batch,
    "cap_stream": cap_stream,
    "operators": operators,
    "refresh_probe": refresh_probe,
}


def main() -> int:
    p = argparse.ArgumentParser(prog="python -m capbench.workloads")
    p.add_argument("workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()
    signal.signal(signal.SIGTERM, _stop_on_signal)
    run = Run(args)
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.close()
    with open(args.result, "w") as fh:
        json.dump(run.result(), fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
