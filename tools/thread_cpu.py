#!/usr/bin/env python3
"""Split a command's JVM CPU time by thread group.

Usage:
  python3 tools/thread_cpu.py -- <command> [args...]

Runs <command>, and while it runs samples /proc/<pid>/task/*/stat of every
`java` process that descends from it (perfbench's run.py starts one JVM; a
build step may start another before it). Each sample records, per thread,
its name (the kernel's 15-character `comm`) and its user + system CPU ticks.

When the command exits, it prints the CPU cores each thread group used over
a window of WINDOW seconds that ends TAIL seconds before the last sample,
which with perfbench's `--seconds 8` falls inside the timed phase. A group is
a thread name with its numbering removed, with a few JVM and Spark names
spelled out (`executor tasks`, `C2 compiler`, `GC`, ...). `total` is the sum
of the groups; `process` is the JVMs' own /proc/<pid>/stat counter over the
same window, which also counts threads that ended inside it.

Example, the CPU split of perfbench's timed `gen_parquet` phase:
  python3 tools/thread_cpu.py -- python3 perfbench/run.py \
      --workload gen_parquet --seed 1 --seconds 8 --trace 0

Exits with the command's exit code. Reads /proc only; Linux only.
"""
import os
import re
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
INTERVAL = 0.25  # seconds between samples
WINDOW = 5.0  # seconds of the reported window
# seconds left out before the last sample: the JVM's shutdown and perfbench's
# output check after its timed phase (up to ~3 s for `gen_parquet`)
TAIL = 4.0

# name prefix (of the 15-character comm) -> group; first match wins
GROUPS = [
    ("Executor task l", "executor tasks"),
    ("C2 CompilerThre", "C2 compiler"),
    ("C1 CompilerThre", "C1 compiler"),
    ("GC Thread", "GC"),
    ("G1 ", "GC"),
    ("VM Thread", "VM thread"),
    ("VM Periodic Tas", "VM thread"),
]


def group_of(name):
    if name == "java":  # the launcher's main thread keeps the process name
        return "main"
    for prefix, group in GROUPS:
        if name.startswith(prefix):
            return group
    return re.sub(r"[\s#_-]*\d+$", "", name) or name


def read_stat(path):
    """(comm, utime + stime ticks) of one /proc stat file, None if it is gone."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    lp, rp = text.index("("), text.rindex(")")
    fields = text[rp + 2:].split()
    # fields[0] is field 3 (state); utime and stime are fields 14 and 15
    return text[lp + 1:rp], int(fields[11]) + int(fields[12])


def children():
    """pid -> parent pid of every process visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    text = f.read()
                out[int(entry)] = int(text[text.rindex(")") + 2:].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    return out


def jvms_under(root):
    parents = children()
    found, frontier = [], {root}
    while frontier:
        frontier = {pid for pid, ppid in parents.items() if ppid in frontier}
        for pid in frontier:
            stat = read_stat(f"/proc/{pid}/stat")
            if stat and stat[0] == "java":
                found.append(pid)
    return found


def sample(jvms):
    """{(pid, tid): (name, ticks)} plus {pid: process ticks}."""
    threads, procs = {}, {}
    for pid in jvms:
        stat = read_stat(f"/proc/{pid}/stat")
        if stat is None:
            continue
        procs[pid] = stat[1]
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            t = read_stat(f"/proc/{pid}/task/{tid}/stat")
            if t is not None:
                threads[(pid, int(tid))] = t
    return threads, procs


def report(samples):
    if len(samples) < 2:
        return "thread_cpu: fewer than two samples of a JVM; nothing to report"
    end_t = samples[-1][0] - TAIL
    start_t = end_t - WINDOW
    inside = [s for s in samples if start_t <= s[0] <= end_t]
    if len(inside) < 2:
        return f"thread_cpu: the run sampled a JVM for {samples[-1][0] - samples[0][0]:.1f} s, " \
               f"too short for a {WINDOW} s window {TAIL} s before its end"
    first, last = inside[0], inside[-1]
    span = last[0] - first[0]
    # a thread's CPU in the window: its last value minus its value at the
    # window's start (0 if it started inside the window)
    latest = {}
    for _, threads, _ in inside[1:]:
        latest.update(threads)
    cores = {}
    for key, (name, ticks) in latest.items():
        before = first[1].get(key, (name, 0))[1]
        g = group_of(name)
        cores[g] = cores.get(g, 0.0) + (ticks - before) / TICK / span
    process = sum(last[2].get(pid, 0) - first[2].get(pid, last[2].get(pid, 0))
                  for pid in last[2]) / TICK / span
    lines = [f"thread_cpu: {span:.1f} s window ending {TAIL} s before the last sample, "
             f"{os.cpu_count()} cpus",
             f"{'cores':>7}  group"]
    for g, c in sorted(cores.items(), key=lambda kv: -kv[1]):
        if c >= 0.005:
            lines.append(f"{c:7.2f}  {g}")
    lines.append(f"{sum(cores.values()):7.2f}  total")
    lines.append(f"{process:7.2f}  process")
    return "\n".join(lines)


def main():
    cmd = sys.argv[2:] if sys.argv[1:2] == ["--"] else sys.argv[1:]
    if not cmd:
        sys.exit("usage: thread_cpu.py -- <command> [args...]")

    proc = subprocess.Popen(cmd)
    samples = []  # (monotonic seconds, threads, processes)
    while proc.poll() is None:
        jvms = jvms_under(proc.pid)
        if jvms:
            threads, procs = sample(jvms)
            if threads:
                samples.append((time.monotonic(), threads, procs))
        time.sleep(INTERVAL)
    print(report(samples), flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
