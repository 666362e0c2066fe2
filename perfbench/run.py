"""Benchmark launcher.

    python3 perfbench/run.py --workload point_query --seed 1 --seconds 30 --trace 0

Run from the repository root. Checks that the library and the test oracle
are present, puts the repository root on PYTHONPATH (Spark's Python
workers import the library from there), keeps Spark's scratch space and
temporary files under `.perfbench/` in the repository, and runs
`perfbench.main` in a session of its own. When the run ends, every process
left in that session is killed and waited for. The exit code is the
run's; a run that exceeds its time limit is killed and exits 3.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIME_LIMIT_S = 170


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes in session `sid`."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rfind(")") + 2:].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(d))
    return out


def reap_session(sid: int) -> None:
    """Kill what is left of session `sid` and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            left = session_members(sid)
            if not left:
                return
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def main() -> int:
    missing = [p for p in ("iresearch_spark/__init__.py", "tests/oracle.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {', '.join(missing)}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(state, "tmp")
    local = os.path.join(state, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.update({
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": env.get("SPARK_DRIVER_MEM", "2g"),
    })
    env.pop("SPARK_GRAFT_CPUS", None)  # cores = nproc, set by perfbench.main
    # a SIGTERM unwinds through the `finally` below, which reaps the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(
        [sys.executable, "-m", "perfbench.main", *sys.argv[1:]],
        cwd=ROOT,
        env=env,
        start_new_session=True,
    )
    try:
        code = child.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s, killed", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        reap_session(child.pid)
        child.wait()
    return code


if __name__ == "__main__":
    sys.exit(main())
