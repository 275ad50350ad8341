"""Benchmark runner: one run of one workload, by name and seed.

    python3 benchmark/run.py --workload ct_store --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run happens in a fresh child process
(workloads.py) with:

- SPARK_GRAFT_CPUS set to this machine's core count, so the session runs
  on local[nproc];
- the checkout on PYTHONPATH, which the engine's Python workers need;
- a private temp root, `.bench_work/` in the checkout, wiped before every
  run, as working directory, TMPDIR, JVM temp dir and Spark local dir, so
  nothing an earlier run left behind is reused and nothing is written
  outside the checkout.

One run at a time: a second runner waits for the first (a lock file in
the checkout). While the child runs, the runner samples the summed RSS of
its process tree (driver JVM and Python workers) from /proc/<pid>/stat,
a counter read that does not perturb the run the way walking a multi-GB
JVM's /proc/<pid>/smaps does. It kills the tree if the run outlives its
deadline and waits until every process of it has ended. It records the
1-minute load average, CPU steal and the wall and CPU time of a fixed
Python loop at the start and at the end of the run on standard error, so
an outlier run can be attributed (the host's slow stretches show in the
loop's wall time more than in its steal counter).

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the gated end-to-end metrics; with --trace 1 they are the per-layer
metrics of a traced run (event log on) and the peak RSS, and the ledger
is written to .bench_work/ledger.json.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ct_store", "llm_curate")
# A run must end within 180 s; the child is killed before that.
CHILD_DEADLINE_S = 165.0


def _proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, pgid, vsize bytes, rss bytes) for every live
    process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            # fields after the parenthesised command name
            rest = stat[stat.rindex(")") + 2 :].split()
            out[int(name)] = (int(rest[1]), int(rest[2]), int(rest[20]), int(rest[21]) * page)
        except (OSError, ValueError, IndexError):
            continue
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree_rss(root: int) -> int:
    """Summed RSS of `root` and its descendants. A child with its parent's
    executable and address-space size is a fork that has not yet exec'd
    (the JVM spawns shell helpers this way, sharing its pages): it is
    skipped, or it would count the JVM twice."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if pid not in table:
            continue
        ppid, _, vsize, rss = table[pid]
        parent = table.get(ppid)
        if pid != root and parent and parent[2] == vsize and _exe(pid) == _exe(ppid):
            continue
        total += rss
    return total


def _group_alive(pgid: int) -> bool:
    return any(g == pgid for _, g, *_ in _proc_table().values())


def _host_state() -> dict:
    def cpu():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0

    t0, s0 = cpu()
    time.sleep(0.25)
    t1, s1 = cpu()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    w0, c0 = time.perf_counter(), time.process_time()
    x = 0
    for i in range(1_000_000):
        x += i
    return {
        "load1": load1,
        "steal_pct": 100.0 * (s1 - s0) / max(t1 - t0, 1),
        "loop_wall_ms": 1e3 * (time.perf_counter() - w0),
        "loop_cpu_ms": 1e3 * (time.process_time() - c0),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ct_mapreduce_spark", "session.py")):
        print("run from the root of a ct-spark checkout", file=sys.stderr)
        return 2

    # held until this process exits
    lock = open(os.path.join(root, ".bench_lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = _host_state()
    print(f"host at start: {json.dumps(host)}", file=sys.stderr)

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # as nproc counts
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["TMPDIR"] = work
    # every JVM of the run (the launcher and the driver) keeps its temp
    # files in the private root and writes no /tmp/hsperfdata file
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    env["SPARK_LOCAL_DIRS"] = work
    env["PYTHONHASHSEED"] = "0"
    out = os.path.join(work, "result.json")
    spawned = time.time()
    child = subprocess.Popen(
        [
            sys.executable,
            os.path.join(HERE, "workloads.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--spawned-at", repr(spawned),
            "--out", out,
        ],
        cwd=work,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    peak = 0
    killed = False
    while child.poll() is None:
        peak = max(peak, _tree_rss(child.pid))
        if time.time() - spawned > CHILD_DEADLINE_S:
            killed = True
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            break
        time.sleep(0.2)
    # the JVM and Python workers share the child's process group; make
    # sure none of them outlives the run
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while _group_alive(child.pid):
        time.sleep(0.05)
    print(f"host at end: {json.dumps(_host_state())}", file=sys.stderr)
    if killed or child.returncode != 0 or not os.path.exists(out):
        print(
            f"workload process failed (exit {child.returncode}, killed={killed})",
            file=sys.stderr,
        )
        return 1
    with open(out) as f:
        result = json.load(f)
    if args.trace:
        # per-layer, not gated: it did not repeat within any bound (the
        # driver heap grows as the collector decides, and the count of
        # live Python workers varies)
        result["metrics"]["process.peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB"}
    share = result["failed"] / max(result["attempted"], 1)
    print(
        f"operations failed: {result['failed']} of {result['attempted']} ({share:.1%})",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": result["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
