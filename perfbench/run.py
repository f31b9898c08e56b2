"""Benchmark entry point.

    python3 perfbench/run.py --workload job_resume --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Generates (or reuses) the seeded input of
the workload, then starts the measuring process (``measure.py``) in a fresh
interpreter and a new process group, with the environment the Python
workers need, and prints its result line. Every file it writes lives under
``.perfbench_work/`` in the checkout; the per-run directory is deleted at
the end, the inputs and span traces are kept.

Exits non-zero without a result when the checkout holds no program, when
the measuring process fails, or when it runs past its time limit.
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
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "pbx_ds_ocr_server_spark"
CHILD_TIMEOUT_S = 170
KEEP_INPUTS = 11  # per workload; older seeds are deleted
STOP_GRACE_S = 15.0


def group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(b")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != b"Z":
            pids.append(int(name))
    return pids


def stop_group(pgid: int) -> None:
    """Wait for every process of the group to end; kill what outlives
    ``STOP_GRACE_S`` (the JVM and workers normally exit on their own once
    the measuring process closes the session)."""
    deadline = time.time() + STOP_GRACE_S
    while group_members(pgid) and time.time() < deadline:
        time.sleep(0.2)
    if group_members(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while group_members(pgid):
            time.sleep(0.1)


def prune_inputs(workload: str) -> None:
    root = os.path.join(WORK, "inputs")
    mine = [os.path.join(root, d) for d in os.listdir(root)
            if d.startswith(workload + "_")]
    mine.sort(key=os.path.getmtime)
    for old in mine[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    inp = gen.ensure_inputs(WORK, args.workload, args.seed,
                            WORKLOADS[args.workload].size)
    os.utime(inp)
    prune_inputs(args.workload)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    env = dict(os.environ)
    # the program's own driver heap default applies, whatever the caller's
    # environment says
    env.pop("SPARK_DRIVER_MEM", None)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--input", inp, "--run-dir", run_dir,
        "--trace-out",
        os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
        "--spawn-time", repr(time.time()),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print("perfbench: measuring process timed out", file=sys.stderr)
        return 1
    finally:
        stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: measuring process exited {proc.returncode}",
              file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
