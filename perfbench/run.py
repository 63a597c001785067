"""Benchmark launcher.

    python3 perfbench/run.py --workload bi_read --seed 1 --seconds 25 --trace 0

Run from the repository root. Prints the metrics of one run; the last
stdout line is a JSON object ``{"correct", "attempted", "failed",
"metrics"}`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Workloads and their op lists are in
``perfbench/workloads.json``; ``perfbench/report.py`` runs both modes
and prints the tracing overhead.

The launcher pins the run environment, then starts the measuring
process (``perfbench/runner.py``) in a session of its own, whose every
process it stops before returning:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may use (``nproc``);
  the session runs ``local[SPARK_GRAFT_CPUS]``.
- ``SPARK_GRAFT_DRIVER_MEM`` = 2g, or half the physical memory if that
  is less (the engine's default, 48g, exceeds small hosts).
- ``PYTHONPATH`` = the repository root, so Python workers import the
  engine wherever the command was started.
- ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's ``java.io.tmpdir``
  under a per-run root ``.perfbench_run/<workload>-<seed>-<pid>/``,
  removed after the run, so staging copies, checkpoints and shuffle
  files do not pile up.
- Spark's log (the measuring process's stderr) goes to a file in that
  root; its tail is printed to stderr if the run fails.

Every op sample (and, with ``--trace 1``, every layer span) is kept in
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.jsonl``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench import sysmon  # noqa: E402

PACKAGE = "olist_lakehouse_2_0_spark"
#: Whole-run limit: a run must end within 180 s, and this leaves time
#: to stop the run's processes and remove its scratch root.
TIMEOUT_S = 176.0
DRIVER_MEM_MB = 2048


def _driver_mem() -> str:
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(DRIVER_MEM_MB, phys_mb // 2)}m"


def pinned_env(repo: str, run_root: str) -> dict[str, str]:
    """This process's environment with the run's settings pinned (see
    the module docstring); creates the scratch directories."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "PYTHONPATH": repo,
        "TMPDIR": os.path.join(run_root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_root, "local"),
        # The JVM's own scratch (native-library extraction, artifact
        # dirs) under the run root too; no /tmp/hsperfdata file.
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
            "-XX:-UsePerfData"))),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("OMP_NUM_THREADS", None)
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(env[key], exist_ok=True)
    return env


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the run's session (the
    measuring process, the JVM, the pyspark daemon and its workers);
    return once none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        for pid in sysmon.session_members(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not sysmon.session_members(sid):
                return
            time.sleep(0.1)


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {repo}; run from the repository root",
              file=sys.stderr)
        return 2

    run_root = os.path.join(repo, ".perfbench_run",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pinned_env(repo, run_root)
    cmd = [sys.executable, "-m", "perfbench.runner",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-root", run_root]

    log_path = os.path.join(run_root, "spark.log")
    code, out = 1, ""
    # A launcher that is itself terminated still stops the run and
    # removes its root (the finally blocks below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=repo, env=env, stdout=subprocess.PIPE,
                                    stderr=log, stdin=subprocess.DEVNULL,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S - (time.monotonic() - started))
                code = proc.returncode
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {TIMEOUT_S:.0f} s", file=sys.stderr)
            finally:
                proc.kill()
                proc.wait()
                _stop_session(proc.pid)
        if code != 0:
            with open(log_path, errors="replace") as log:
                sys.stderr.write(log.read()[-8000:])
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass  # another run's root is still there
    if code != 0:
        print(f"perfbench: measuring process exited with {code}", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
