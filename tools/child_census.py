#!/usr/bin/env python3
"""Histogram of the child processes a running JVM starts, read from /proc.

Usage:
    python3 tools/child_census.py (--pid PID | --match TEXT)
        [--delay S] [--seconds S]

--match waits for the first `java` process whose command line contains
TEXT (for example `pipebench.Main`; a JVM that sbt forks gets its arguments
from a file, so give such a JVM's --pid). After --delay seconds it polls
every thread's /proc/<pid>/task/<tid>/children for --seconds and prints one
line per child command, most frequent first, then a summary.

Children are seen by polling, so a child that starts and ends between two
polls is missed: the counts are sightings, a lower bound on the number of
processes started. The summary also gives the CPU time of the JVM's reaped
children (`cutime + cstime` of /proc/<pid>/stat) over the window, which
counts every child however short, and the number of polls made.

Example, the live phase of the cdc_ingest benchmark (about 20-25 s after the
JVM starts):

    python3 pipebench/run.py --workload cdc_ingest --seed 2 --seconds 15 \\
        --trace 0 &
    python3 tools/child_census.py --match pipebench.Main --delay 25 --seconds 10
"""
import argparse
import collections
import os
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")


def read(path):
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return None


def find(text, timeout_s=300):
    me = os.getpid()
    end = time.time() + timeout_s
    while time.time() < end:
        for d in os.listdir("/proc"):
            if d.isdigit() and int(d) != me:
                cmd = read(f"/proc/{d}/cmdline") or b""
                if cmd.split(b"\0")[0].endswith(b"java") and text.encode() in cmd:
                    return int(d)
        time.sleep(0.2)
    sys.exit(f"child_census: no process matching {text!r}")


def child_ticks(pid):
    stat = read(f"/proc/{pid}/stat")
    if stat is None:
        return None
    f = stat[stat.rindex(b")") + 2:].split()
    return int(f[13]) + int(f[14])  # cutime, cstime (fields 16, 17)


PENDING = "(started, not yet exec'd)"


def command(pid, parent_cmd):
    """argv[0]'s base name and first argument, PENDING while the child is
    still a copy of the JVM or Java's spawn helper, or None once gone."""
    cmd = read(f"/proc/{pid}/cmdline")
    if not cmd:
        return None
    argv = cmd.rstrip(b"\0").split(b"\0")
    if cmd == parent_cmd or argv[0].endswith(b"jspawnhelper"):
        return PENDING
    words = [os.path.basename(argv[0]).decode(errors="replace")]
    if len(argv) > 1:
        words.append(argv[1].decode(errors="replace")[:40])
    return " ".join(words)


def census(pid, seconds):
    seen = {}  # child pid -> its command, once exec'd
    parent_cmd = read(f"/proc/{pid}/cmdline")
    tasks, tasks_at, polls = [], 0.0, 0
    end = time.time() + seconds
    while time.time() < end:
        now = time.time()
        if now - tasks_at > 0.5:
            try:
                tasks = os.listdir(f"/proc/{pid}/task")
            except OSError:
                break
            tasks_at = now
        for tid in tasks:
            kids = read(f"/proc/{pid}/task/{tid}/children")
            for c in (kids or b"").split():
                cmd = command(int(c), parent_cmd)
                if cmd is not None and (cmd != PENDING or int(c) not in seen):
                    seen[int(c)] = cmd
        polls += 1
    return seen, polls


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    who = ap.add_mutually_exclusive_group(required=True)
    who.add_argument("--pid", type=int)
    who.add_argument("--match")
    ap.add_argument("--delay", type=float, default=0.0)
    ap.add_argument("--seconds", type=float, default=10.0)
    a = ap.parse_args()

    pid = a.pid or find(a.match)
    time.sleep(a.delay)
    t0, ticks0 = time.time(), child_ticks(pid)
    seen, polls = census(pid, a.seconds)
    window, ticks1 = time.time() - t0, child_ticks(pid)

    hist = collections.Counter(seen.values())
    for cmd, n in hist.most_common():
        print(f"{n:7d}  {cmd}")
    cpu = "n/a" if None in (ticks0, ticks1) else f"{(ticks1 - ticks0) / TICK:.2f} s"
    print(f"pid {pid}: {len(seen)} children seen in {window:.1f} s, "
          f"{polls} polls ({1000 * window / max(polls, 1):.1f} ms apart), "
          f"reaped-children CPU {cpu}")


if __name__ == "__main__":
    main()
