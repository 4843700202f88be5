"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the seeded inputs (cached in
``.perfbench_cache/``, outside the measured process), starts one fresh
measured process (``harness.py``) on ``local[nproc / 2]``, stops every
process that one started, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. Failure details and extra facts go to stderr and to
``.perfbench_results/``.

Workloads, metric definitions and recorded settings: BENCHMARK.json
and perfbench/settings.json.
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


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. PySpark's worker daemons move
    to process groups of their own, but stay in the session."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, _pgrp, session = stat[stat.rindex(")") + 2:].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(d))
    return pids


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGKILL what is left of the measured process's session (the JVM
    and its Python workers) and wait until it is empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        pids = _session_pids(proc.pid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_files", "query_mix", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    for need in ("meza_spark", "__spark_entry__.py", "tools"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/; run "
                  "from the root of a full checkout", file=sys.stderr)
            return 2

    sys.path.insert(0, HERE)
    import gen

    inputs = gen.ensure_inputs(ROOT, args.workload, args.seed)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-"
                        f"{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    machine = gen.SETTINGS["machine"]
    env = dict(os.environ,
               # half the CPUs run tasks; the rest keep the driver, the
               # Python workers, JIT and GC off the task threads' CPUs
               SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) // 2)),
               SPARK_GRAFT_DRIVER_MEM=machine["SPARK_GRAFT_DRIVER_MEM"],
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               TMPDIR=os.path.join(work, "tmp"),
               # every JVM, spark-submit's launcher included: temp files
               # inside the checkout, no /tmp/hsperfdata
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                                 " -XX:-UsePerfData",
               PYSPARK_PYTHON=sys.executable,
               PYTHONHASHSEED="0")
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "harness.py"), args.workload,
         str(args.seed), str(args.seconds), str(args.trace), inputs, work,
         repr(t0), out],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    t_end = time.time()
    try:
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: measured process failed (exit {code})",
                  file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = res["detail"]
    os.makedirs(os.path.join(ROOT, ".perfbench_results"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_results",
                           f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    for fail in detail["failures"]:
        print(f"perfbench: FAILED {fail['job']}: {fail['error']}: "
              f"{fail['message']}", file=sys.stderr)
    print(json.dumps({k: v for k, v in detail.items() if k != "failures"}),
          file=sys.stderr)
    print(f"perfbench: total {time.time() - t_start:.1f} s, measured process "
          f"{t_end - t0:.1f} s", file=sys.stderr)
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
