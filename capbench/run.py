"""One benchmark run: ``python3 capbench/run.py --workload W --seed N
--seconds S --trace 0|1``, from the root of a checkout.

The workload body (``capbench/workloads.py``) runs in a fresh child
process that leads its own session and process group, so everything it
starts (the Spark JVM, PySpark daemons and workers, CLI processes)
stays reachable. This parent:

* pins the child to the host: ``SPARK_GRAFT_CPUS`` from the usable CPU
  count, the checkout on ``PYTHONPATH`` for Python workers, and every
  scratch path (Spark local dirs, JVM and Python temp dirs, event logs)
  inside ``.capbench/`` of the checkout;
* samples the resident memory of the whole session while it runs;
* stops the session on every exit path, with a hard timeout, and then
  fails the run loudly if any process of the session is still alive;
* prints a provenance/detail JSON line, then the result line.

Exit status is 0 only when the workload finished and left nothing
running; otherwise no result line is printed.
"""

from __future__ import annotations

import argparse
import compileall
import contextlib
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("cap_refresh", "cap_batch", "cap_stream", "operators")
HARD_TIMEOUT_S = 150
EXIT_GRACE_S = 10
SAMPLE_EVERY_S = 0.5


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, session id) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return fields[0], int(fields[3])


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st and st[1] == sid and st[0] != "Z":
                out.append(int(name))
    return out


def describe(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        cmd = "?"
    return f"{pid}: {cmd[:160]}"


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


def kill_session(sid: int, grace_s: float = 5.0) -> None:
    """SIGTERM every member of the session, then SIGKILL what remains."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 5.0)):
        members = session_members(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while time.time() < deadline and session_members(sid):
            time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_memory_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return 0.0


def _jvm_opts(work: str) -> str:
    """JVM temp files inside the checkout, and no /tmp/hsperfdata file."""
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def spark_defaults(work: str, trace: bool) -> dict[str, str]:
    """Settings the benchmark adds through ``SPARK_CONF_DIR``: scratch
    paths kept inside the checkout, no console progress bars, and (traced
    runs only) an uncompressed single-file event log."""
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": _jvm_opts(work),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return confs


def child_env(root: str, work: str, trace: bool) -> dict[str, str]:
    conf_dir = os.path.join(work, "conf")
    for d in ("conf", "tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        for k, v in spark_defaults(work, trace).items():
            fh.write(f"{k} {v}\n")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(usable_cpus()),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_CONF_DIR": conf_dir,
        # the short-lived JVM spark-submit runs to build the driver command
        "SPARK_LAUNCHER_OPTS": _jvm_opts(work),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    return env


def git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 and os.path.exists(head) else "unknown"


def provenance(root: str, work: str, args: argparse.Namespace) -> dict:
    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
    ).stderr.splitlines()
    return {
        "nproc": usable_cpus(),
        "host_mem_gb": host_memory_gb(),
        "python": platform.python_version(),
        "java": java[0] if java else "unknown",
        "pyspark": importlib.metadata.version("pyspark"),
        "spark_defaults_added": spark_defaults(work, bool(args.trace)),
        "commit": git_commit(root),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="capbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # SIGTERM must unwind through the ``finally`` that stops the session
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(f"capbench: signal {signum}"))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_capnz_spark", "__init__.py")):
        print(f"capbench: no etl_capnz_spark package under {root}", file=sys.stderr)
        return 2
    # Byte-compile the program once per checkout, as installing it would,
    # so the first run does not pay for compiling what later runs reuse.
    compileall.compile_dir(os.path.join(root, "etl_capnz_spark"), quiet=1)
    compileall.compile_file(os.path.join(root, "__spark_entry__.py"), quiet=1)
    work = os.path.join(root, ".capbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = child_env(root, work, bool(args.trace))
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, "-m", "capbench.workloads", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--result", result_path,
    ]
    ticks_at = cpu_ticks()
    spawn_at = time.time()
    child = subprocess.Popen(
        cmd, cwd=root, env=env, start_new_session=True, stdout=sys.stderr
    )
    sid = child.pid
    peak = 0
    failure = None
    try:
        while child.poll() is None:
            peak = max(peak, rss_bytes(session_members(sid)))
            if time.time() - spawn_at > HARD_TIMEOUT_S:
                failure = f"timed out after {HARD_TIMEOUT_S} s"
                break
            time.sleep(SAMPLE_EVERY_S)
        if failure is None and child.returncode != 0:
            failure = f"workload process exited with {child.returncode}"
        # a clean exit still leaves the JVM a moment to notice and stop
        deadline = time.time() + EXIT_GRACE_S
        while failure is None and session_members(sid) and time.time() < deadline:
            peak = max(peak, rss_bytes(session_members(sid)))
            time.sleep(SAMPLE_EVERY_S)
        survivors = session_members(sid)
        if survivors and failure is None:
            failure = "processes survived the workload:\n  " + "\n  ".join(
                describe(pid) for pid in survivors
            )
    finally:
        kill_session(sid)
        if child.poll() is None:
            child.kill()
        child.wait()
        left = session_members(sid)
        res = None
        if os.path.exists(result_path):
            with open(result_path) as fh:
                res = json.load(fh)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    if left:
        failure = (failure or "") + "\nstill alive after SIGKILL:\n  " + "\n  ".join(
            describe(pid) for pid in left
        )
    if failure is None and res is None:
        failure = "workload wrote no result"
    if failure is not None:
        print(f"capbench: FAILED {args.workload}: {failure}", file=sys.stderr)
        return 1

    metrics = res["metrics"]
    if not args.trace:
        metrics["setup_s"] = {"value": res["ready_at"] - spawn_at, "unit": "s"}
    detail = {"provenance": provenance(root, work, args), **res["detail"]}
    named = detail.setdefault("named", {})
    named["peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB", "n": 1}
    named["failed_ops_ratio"] = {
        "value": res["failed"] / res["attempted"], "unit": "1", "n": res["attempted"],
    }
    if not args.trace:
        named["setup_s"] = {"value": metrics["setup_s"]["value"], "unit": "s", "n": 1}
    detail["provenance"]["spark_conf"] = res.get("spark_conf", {})
    # CPU time the hypervisor gave to other guests while this run ran: the
    # common cause when identical runs on a shared virtual machine differ
    steal, total = (b - a for a, b in zip(ticks_at, cpu_ticks()))
    detail["provenance"]["host_steal_share"] = steal / total if total else 0.0
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
