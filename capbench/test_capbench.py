"""Tests of the benchmark itself: a clean run leaves no process behind;
a run whose workload process dies mid-run, or whose runner is
terminated, fails without a result and still leaves nothing behind; the
inputs follow the seed.

    python3 -m pytest capbench/test_capbench.py -q -p no:cacheprovider

Run from the repository root; each test starts real Spark processes.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from capbench import feed  # noqa: E402
from capbench.trace import _merge  # noqa: E402


def _marked(marker: str) -> list[tuple[int, str]]:
    """Processes whose command line or environment mentions ``marker``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().decode(errors="replace")
            with open(f"/proc/{name}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z" and (marker in cmd or marker in env):
            out.append((int(name), cmd))
    return out


def _start(workload: str, seconds: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "capbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def test_clean_run_reports_and_leaves_nothing():
    proc = _start("cap_refresh", 1)
    out, err = proc.communicate(timeout=180)
    assert proc.returncode == 0, err[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {"setup_s", "op_p50_s"}
    assert _marked(f".capbench/cap_refresh-{proc.pid}") == []


def _wait_for_jvm(marker: str) -> None:
    deadline = time.time() + 120
    while time.time() < deadline:
        if any("java" in cmd.split(" ")[0] for _, cmd in _marked(marker)):
            return
        time.sleep(0.5)
    raise AssertionError("the workload never started its JVM")


def test_workload_killed_mid_run_fails_and_leaves_nothing():
    proc = _start("cap_batch", 5)
    marker = f".capbench/cap_batch-{proc.pid}"
    try:
        _wait_for_jvm(marker)
        child = [p for p, cmd in _marked(marker) if "capbench.workloads" in cmd]
        assert len(child) == 1
        os.kill(child[0], signal.SIGKILL)
        out, err = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode != 0
    assert '"metrics"' not in out
    assert "FAILED cap_batch" in err
    assert _marked(marker) == []
    assert not os.path.exists(os.path.join(ROOT, marker))


def test_runner_terminated_mid_run_leaves_nothing():
    proc = _start("cap_stream", 5)
    marker = f".capbench/cap_stream-{proc.pid}"
    try:
        _wait_for_jvm(marker)
        proc.terminate()
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode != 0
    assert '"metrics"' not in out
    assert _marked(marker) == []
    assert not os.path.exists(os.path.join(ROOT, marker))


def test_inputs_follow_the_seed():
    a = [x.xml for x in feed.generate(5, 300)]
    assert a == [x.xml for x in feed.generate(5, 300)]
    assert a != [x.xml for x in feed.generate(6, 300)]


def test_reference_fan_out_rules():
    square = "0,10 1,10 1,11 0,11"
    alert = feed.Alert("", "A", "s", False, False, [square, "91,10 0,10"], "")
    ids = [f[0] for f in feed.alert_features(alert)]
    # polygons before the poisoned one emit, then the fallback point
    assert ids == ["A-0", "A-0-center", "A"]
    assert feed.alert_features(alert)[1][2] == [10.5, 0.5]
    assert feed.alert_features(alert)[2][2] == [174.0, -41.0]
    circle = feed.Alert("", "B", "s", False, False, [], "-40,170 25.5")
    assert feed.alert_features(circle) == [("B", "Point", [170.0, -40.0])]
    expired = feed.Alert("", "C", "s", False, True, [square], "")
    assert feed.alert_features(expired) == []


def test_interval_union():
    assert _merge([(0, 10), (5, 15), (20, 25)]) == 20
    assert _merge([]) == 0
