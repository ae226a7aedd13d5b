"""Layered benchmark of the CDC engine: one run of one workload.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Steps:

1. ``perfbench/gen.py`` writes the seeded inputs in a process of its own
   (reused from ``.perfbench/inputs`` when the same seed was generated
   before).
2. ``perfbench/workload.py`` runs the workload in a child process with
   an environment of its own: ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` point
   into this run's scratch directory and every ``SPARK_GRAFT_*`` knob is
   unset.
3. Every process the child left behind is stopped and waited for, and
   the scratch directory is removed, also when the run fails.

The last line of standard output is the child's JSON result. Without
the engine package next to ``perfbench/`` the run exits with code 2 and
prints no result.
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

from procfs import session_stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
KEEP_INPUTS = 4
DEADLINE_S = 170.0
WORKLOADS = ("bulk_replay", "stream_serve")


def _stop_session(sid: int) -> None:
    """SIGKILL whatever is left in the child's session (the Spark JVM,
    Python workers) and wait until it is gone."""
    end = time.monotonic() + 30
    while True:
        pids = [pid for pid, fields in session_stats(sid) if fields[0] != "Z"]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > end:
            raise RuntimeError(f"processes {pids} outlived their run")
        time.sleep(0.1)


def _inputs(workload: str, seed: int) -> str:
    """The generator's output directory for this seed, evicting the
    oldest other cached inputs beyond KEEP_INPUTS."""
    cache = os.path.join(STATE, "inputs")
    os.makedirs(cache, exist_ok=True)
    out = os.path.join(cache, f"{workload}-s{seed}")
    others = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache) if os.path.join(cache, d) != out),
        key=os.path.getmtime,
    )
    for d in others[: max(0, len(others) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(d, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", out],
        check=True, stdout=subprocess.DEVNULL, timeout=120,
    )
    os.utime(out)
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="one benchmark run of one workload")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--slots", type=int, default=3,
                   help="Spark task slots; 1 gives the single-thread baseline")
    a = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sql_graph_visualizer_spark")):
        print("perfbench: the engine package is missing next to perfbench/", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    inputs = _inputs(a.workload, a.seed)
    scratch = os.path.join(STATE, f"scratch-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        TMPDIR=os.path.join(scratch, "tmp"),
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM of the run (the spark-submit launcher too): temp files
        # in the scratch directory and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
    )
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"), "--workload", a.workload,
        "--inputs", inputs, "--scratch", scratch, "--seconds", str(a.seconds),
        "--seed", str(a.seed), "--trace", str(a.trace), "--slots", str(a.slots),
    ]
    child = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE, text=True,
                             start_new_session=True)
    try:
        try:
            out, _ = child.communicate(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its deadline", file=sys.stderr)
            _stop_session(child.pid)
            child.communicate()
            return 1
        _stop_session(child.pid)
    finally:
        if child.poll() is None:
            _stop_session(child.pid)
            child.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if child.returncode != 0 or not lines:
        print(f"perfbench: workload exited with {child.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
