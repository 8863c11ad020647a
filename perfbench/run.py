"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload stream_catchup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Pins the run environment, stamps the
host's contamination data around the run, starts ``workload.py`` in a
fresh process group, and removes every process and file the run made.
The last line of standard output is the result object; the line before
it carries the run's details (every raw timing sample of the rounds
among them) and host stamp. With ``--trace 1`` the
metrics are the per-layer ones (see ``layers.py``).

Environment pinned for the workload process:

- ``PYTHONPATH`` starts with the checkout, so Spark's Python workers
  import the package whatever the working directory;
- ``SPARK_GRAFT_CPUS`` is the number of cores this process may use;
- ``SPARK_GRAFT_DRIVER_MEM`` is a quarter of physical memory, at most
  8 GiB, so the driver JVM fits the host;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir``
  point into a run-local directory that is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
#: a run whose closing calibration differs from its opening one by
#: more than this share is marked contaminated
DRIFT_LIMIT = 0.2


def calibrate() -> float:
    """Seconds for a fixed single-core busy loop (best of five)."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def host_stamp() -> dict:
    return {"calib_s": calibrate(), "loadavg": os.getloadavg()}


def driver_mem() -> str:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, total // 4 // (1 << 30)))}g"


def run_env(work: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's own scratch files (native libraries, artifact dirs) and
    # its perf-data file would otherwise land in /tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={env['TMPDIR']}", "-XX:-UsePerfData") if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the workload left in its process group (the driver
    JVM, Python workers) and wait until all of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "changedatacapture_spark")):
        print(f"perfbench: package changedatacapture_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = run_env(work)
    for d in (work, env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d)
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    opening = host_stamp()
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        stop_group(proc)
        closing = host_stamp()
        if a.trace:
            # keep the spans of a traced run beside the checkout's runs
            spans = os.path.join(work, "spans.jsonl")
            kept = os.path.join(base, f"spans-{a.workload}-{a.seed}.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, kept)
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        print(f"perfbench: workload timed out after {TIMEOUT_S} s", file=sys.stderr)
        return 1
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out)
        print(f"perfbench: workload exited with {proc.returncode}", file=sys.stderr)
        return 1
    info = json.loads(lines[-2])["info"]
    if a.trace:
        info["spans"] = os.path.relpath(kept, ROOT)
    drift = closing["calib_s"] / opening["calib_s"] - 1.0
    info["host"] = {
        "opening": opening,
        "closing": closing,
        "calib_drift": drift,
        "contaminated": abs(drift) > DRIFT_LIMIT,
    }
    print(json.dumps({"info": info}))
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
