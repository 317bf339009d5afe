"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: the host's
cores). Each query is forced through the noop sink so every column is
computed (a bare ``count()`` would let Catalyst prune the work away).
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from etl_capnz_spark.session import default_cpus, get_session  # noqa: E402

HEADLINE = [
    "cap_features",
    "cap_polygon_points",
    "cap_centroid_window",
    "cap_signature",
    "cap_remarks",
    "cap_xml_roundtrip",
    "feed_links",
    "tpch_q1",
    "tpch_region_revenue",
    "tpch_topk",
    "events_session",
    "events_tumbling",
    "dedup_exact",
    "dedup_minhash",
    "text_quality",
    "knn_brute",
    # round 3: crawl ingest stages (HTML extraction + context chunking)
    "extract_main_text",
    "chunk_documents",
    # round 4: hot-bucket-capped LSH + crawl-frontier politeness scheduler
    "dedup_lsh_capped",
    "crawl_frontier",
    # round 4b: corpus-wide line dedup (text-heavy reassembly shuffle) +
    # exact heavy hitters (MG candidate pass + one-scan verify)
    "dedup_lines_global",
    "events_heavy_hitters",
    # round 4c: warehouse maintenance (SCD-2 CDC merge, zero dim shuffles)
    "scd2_customer",
    # round 4d: mergeable quantile sketch + BM25 inverted-index probe
    "events_quantile_sketch",
    "text_bm25",
    # round 4e: end-to-end entity resolution (JW blocking -> components
    # -> survivorship) + deterministic random-walk corpus generation
    "entity_golden",
    "graph_walks",
    # round 6: exact substring-span dedup (Lee-et-al; the corpus-wide
    # shingle first-occurrence + reassembly shape) + distributed LR
    # training (10 integer full-batch gradient iterations)
    "dedup_substring_spans",
    "text_lr_train",
    # round 9: probe-only ANN serving over the persisted PQ/IVF-PQ
    # index (ADC shortlist + exact rerank, zero training in the timed
    # path — the index builds once during warmup), so an ADC/rerank
    # regression is visible standalone (VERDICT r8 #2)
    "knn_pq_indexed",
    "knn_ivfpq_indexed",
]


def _calibrate_inprocess(rounds: int = 6) -> float:
    """Fixed-size MIXED calibration kernel (no table I/O, no sf
    dependence). Two components per round, mirroring where host
    contention actually lands on the workload:

    * CPU/codegen: hash + md5 over generated longs — the JVM codegen
      shape CPU contention hits hardest (BENCH_r04: 22 envelope
      violations, all host noise; the two queries that did NOT inflate
      were the Python-kernel ones);
    * shuffle/memory: a groupBy over ~1M keys moving 4M rows carrying a
      32-char md5 payload (~250 MB through shuffle write+read) plus a
      range-partitioned sort — the r9 kernel was pure CPU and
      UNDER-read mixed-workload interference by ~1.1-1.2× (a 1.19×
      calibration window recorded ~1.22× uniform per-query inflation;
      VERDICT r9 #7), so the kernel now exercises the memory/shuffle
      path too.

    Runs in its OWN SparkSession inside a FRESH subprocess (see
    :func:`_calibrate`): an in-bench sample reads the bench JVM's
    accumulated GC debt / code-cache weight as a 1.5-2.2x slowdown on a
    provably idle host — the exact false signal the calibration exists
    to kill; a fresh JVM measures the HOST alone. Runs ``rounds``
    times; the first two are dropped (JIT ramp), the median of the rest
    is the host datum. Pinned kernel: any change invalidates every
    recorded ``ref_sec`` (re-seeded r10 for this kernel).
    """
    import statistics

    from etl_capnz_spark.session import get_session

    spark = get_session("bench-calibrate")
    spark.sparkContext.setLogLevel("ERROR")
    times = []
    for _ in range(rounds):
        t0 = time.time()
        (
            spark.range(0, 4_000_000, 1, 32)
            .selectExpr(
                "(id * 2654435761) % 999983 AS k",
                "md5(cast(id AS string)) AS s",
                "id",
            )
            .groupBy("k")
            .agg({"id": "sum", "s": "max"})
            .orderBy("k")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        times.append(time.time() - t0)
    spark.stop()
    return round(statistics.median(times[2:]), 4)


def _calibrate() -> float:
    """Run the calibration kernel in a fresh subprocess JVM and return
    its host datum; -1.0 if the probe fails (never fails the bench)."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--calibrate"],
            capture_output=True,
            text=True,
            timeout=180,
        )
        return float(proc.stdout.strip().splitlines()[-1])
    except Exception:
        return -1.0


def _host_factor(attempts: list, ref, ref_ok: bool) -> float:
    """Normalization factor: MIN over every calibration sample of every
    attempt / ref, clamped at 1.0 (timings are per-query MIN across the
    same attempts, so the factor comes from the same cleanest window; a
    faster-than-reference host must not TIGHTEN budgets)."""
    samples = [
        s for a in attempts for s in (a["before_sec"], a["after_sec"]) if s > 0
    ]
    if not (ref_ok and samples):
        return 1.0
    return max(1.0, round(min(samples) / ref, 3))


def _is_contended(last: dict, ref, ref_ok: bool, threshold: float) -> bool:
    """Contamination verdict on the FINAL attempt's WORSE sample —
    min() let BENCH_r08's mid-run contamination (before 1.50s, after
    3.83s vs ref 1.65) record contended:false (VERDICT r8 #1)."""
    worst = max(
        (s for s in (last["before_sec"], last["after_sec"]) if s > 0),
        default=-1.0,
    )
    return bool(ref_ok and worst > 0 and worst / ref >= threshold)


def main() -> None:
    if "--calibrate" in sys.argv:
        print(_calibrate_inprocess())
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    concurrent = (
        "--concurrent" in sys.argv
        or os.environ.get("SPARK_GRAFT_BENCH_CONCURRENT", "0") == "1"
    )
    # FAIR scheduling so concurrently-submitted queries share executor
    # slots instead of queueing FIFO — each bench thread gets its own
    # pool (undeclared pools share equally, weight 1). Creation-time
    # conf: harmless when concurrency is off.
    spark = get_session(
        "bench", extra_confs={"spark.scheduler.mode": "FAIR"}
    )

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]

    # Host-contention calibration (VERDICT r4 task 1): BENCH_r04
    # recorded 22 envelope violations that were 100% fleet noise
    # (median 2.07x inflation; every one vanished on the idle host).
    # The fix: sample a pinned calibration kernel in a FRESH
    # subprocess JVM right before the timed passes and again right
    # after them (fresh JVM = the sample reads the HOST, not the bench
    # JVM's accumulated GC debt; the timed passes sit between the two
    # samples, so sustained contention shows in both);
    # host_factor = min(sample)/ref, envelopes
    # evaluate on sec/host_factor, and contended=true above threshold
    # so a loaded-host artifact can defend itself.
    try:
        load_before = os.getloadavg()[0]
    except OSError:
        load_before = -1.0
    # Full untimed warmup pass: each query has its own generated code, so
    # warming one query leaves the others paying JIT + page-cache faults in
    # the timed pass (measured: cold first pass reads ~2x the steady state).
    # Steady-state is the number that scales — JIT amortizes to zero on a
    # real cluster run.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    if warmup:
        # TWO untimed passes: measured on a cold JVM, pass-2 timings for
        # the codegen-heavy document queries still carry 15-40% JIT
        # residue (e.g. dedup_minhash 14.0 -> 2.3 -> 2.0 -> 1.95 s); the
        # second warmup pass brings the timed pass to the steady state
        # the harness documents as its target.
        for _ in range(2):
            for name in names:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                # drop the DF reference NOW: localCheckpoint RDDs
                # (iterative queries) stay pinned until Python GC runs,
                # and 27 queries x 3 passes of leaked checkpoint blocks
                # tax whoever runs last (graph_walks measured 12.6 s in
                # bench vs 4.4 s standalone before this)
                gc.collect()

    # Envelopes + calibration reference load EARLY: the dirty-window
    # auto-rerun below needs ref_sec before the timed passes finish.
    env_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_ENVELOPES.json"
    )
    envelopes = None
    if os.path.exists(env_path):
        with open(env_path) as f:
            envelopes = json.load(f)
    calib = (envelopes or {}).get("calibration", {})
    ref = calib.get("ref_sec")
    ref_ok = bool(ref) and calib.get("cpus") == default_cpus()

    # TWO timed passes, per-query MIN: a single JVM stall (one observed
    # full-GC pause put an 8 s spike on one query of an otherwise-idle
    # run) lands on one pass only, and min-of-2 is the steady-state
    # number the envelope budgets actually model. Sustained contention
    # still shows: it inflates BOTH passes and the calibration samples.
    #
    # Contamination honesty (VERDICT r8 "what's wrong" #1): BENCH_r08
    # went contended MID-RUN — before-sample clean (1.50s vs 1.65 ref),
    # after-sample 3.83s, loadavg 3.4->17 — and the old min()-based
    # host_factor read 1.0 with contended:false, presenting +16%
    # uniform host noise as raw truth. Now: a window whose WORSE sample
    # exceeds dirty_threshold x ref auto-reruns the timed passes once
    # (per-query MIN merges across attempts, so the cleaner window
    # wins), and `contended` reports the FINAL window's worse sample —
    # a contaminated run can no longer be recorded as raw truth.
    timings: dict[str, float] = {}
    attempts: list[dict] = []
    dirty_threshold = calib.get("dirty_threshold", 1.5)
    for _attempt in range(2):
        # settle before probing: the bench JVM runs background GC /
        # cleanup for a few seconds after a full pass, and a probe
        # spawned into that window reads 4x on an idle host
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(5.0)
        calib_before = _calibrate()
        for _ in range(2):
            for name in names:
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                sec = round(time.time() - t0, 3)
                if name not in timings or sec < timings[name]:
                    timings[name] = sec
                gc.collect()
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(5.0)
        calib_after = _calibrate()
        try:
            load_after = os.getloadavg()[0]
        except OSError:
            load_after = -1.0
        attempts.append(
            {
                "before_sec": calib_before,
                "after_sec": calib_after,
                "loadavg_after": round(load_after, 2),
            }
        )
        dirty = (
            ref_ok
            and calib_before > 0
            and calib_after > 0
            and max(calib_before, calib_after) / ref >= dirty_threshold
        )
        if not dirty:
            break

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "warmup": "2x-full-pass" if warmup else "none",
    }

    # Self-reported regression check (VERDICT r3 item 5): compare each
    # timing against its recorded budget so a noise wiggle is
    # distinguishable from a real regression without eyeballing history.
    # Budgets only apply at the envelope's recorded sf. Timings are
    # normalized by host_factor so a contended fleet host can't record
    # false violations — BENCH_r04's failure mode.
    if envelopes is not None:
        # host_factor from the MIN over ALL samples of ALL attempts:
        # timings are per-query MIN across the same attempts, so the
        # normalization factor comes from the same (cleanest) window.
        # Clamp below at 1.0: a faster-than-reference host must not
        # TIGHTEN budgets (that would manufacture violations out of
        # the reference host's slowness, the same lie in the other
        # direction).
        host_factor = _host_factor(attempts, ref, ref_ok)
        last = attempts[-1]
        out["calibration"] = {
            "before_sec": last["before_sec"],
            "after_sec": last["after_sec"],
            "ref_sec": ref,
            "host_factor": host_factor,
            "loadavg_before": round(load_before, 2),
            "loadavg_after": last["loadavg_after"],
            "attempts": attempts,
        }
        # true means even the auto-rerun window was dirty and the raw
        # numbers are not idle-host truth
        out["contended"] = _is_contended(
            last, ref, ref_ok, calib.get("contended_threshold", 1.3)
        )
        if sf == envelopes.get("sf"):
            violations = {
                q: {
                    "sec": t,
                    "normalized_sec": round(t / host_factor, 3),
                    "budget_sec": envelopes["queries"][q]["budget_sec"],
                }
                for q, t in timings.items()
                if q in envelopes["queries"]
                and t / host_factor
                > envelopes["queries"][q]["budget_sec"]
            }
            out["envelope_violations"] = violations

    if concurrent:
        # Multi-tenant throughput: submit every headline query at once
        # from separate threads (one FAIR pool each) and measure the
        # wall-clock to drain them all. Overlap hides per-query stages
        # that underuse the cluster (single-partition windows, driver
        # synchronization points), so wall << serial sum is the win.
        from concurrent.futures import ThreadPoolExecutor

        sc = spark.sparkContext

        def run_one(name: str) -> None:
            sc.setLocalProperty("spark.scheduler.pool", f"bench_{name}")
            try:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        t0 = time.time()
        with ThreadPoolExecutor(max_workers=len(names)) as pool:
            futures = [pool.submit(run_one, n) for n in names]
            for f in futures:
                f.result()
        wall = round(time.time() - t0, 3)
        out["concurrent"] = {
            "wall_sec": wall,
            "n_queries": len(names),
            "speedup_vs_serial": round(total / wall, 2) if wall else None,
            "scheduler": "FAIR, one pool per query",
        }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
