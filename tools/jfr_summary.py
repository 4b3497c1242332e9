#!/usr/bin/env python3
"""Where a JFR recording of a graft job spends its time, forks and allocations.

Usage: python3 tools/jfr_summary.py <recording.jfr | print.json> [--top N] [--depth N]
                                   [--frame REGEX] [--thread REGEX]

Reads the JSON that `jfr print --json` writes (a .jfr file is passed through
`jfr print` once per event type below; a .json file is read as that output)
and prints three things:
  - executor threads' CPU samples (`jdk.ExecutionSample` on Spark's
    "Executor task launch worker" threads): the top self frames (the frame
    on top of the stack) and the top inclusive frames (anywhere in the
    stack, counted once per sample), each as a share of those samples;
    with --frame REGEX, also how many of those samples have a frame
    matching REGEX (`re.search`) anywhere on the stack, 0 included;
    with --thread REGEX, the same for the samples of every thread whose
    name matches REGEX (`re.search`) instead, e.g. `--thread '^main$'` for
    the driver's main thread;
  - `jdk.ProcessStart`: every process the JVM started, grouped by
    executable, with one example command line;
  - `jdk.ObjectAllocationSample`: the top allocation sites (the allocating
    frame and its caller) by sampled bytes, over all threads.

Record with the JVM flag -XX:StartFlightRecording=filename=rec.jfr,settings=profile
(the `profile` settings sample execution every 10 ms and enable the process
and allocation events).
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys

EXECUTOR_THREAD = "Executor task launch worker"
SAMPLE = "jdk.ExecutionSample"
PROCESS = "jdk.ProcessStart"
ALLOC = "jdk.ObjectAllocationSample"
# a lambda's hidden class is named per JVM run ($$Lambda$2067+0x00007f3c.../316349046)
LAMBDA = re.compile(r"\$\$Lambda\$\d+\+0x[0-9a-f]+/\d+")


def frame_name(frame):
    m = frame["method"]
    cls = LAMBDA.sub("$$Lambda", m["type"]["name"])
    return cls.replace("/", ".") + "." + m["name"]


def frames(event):
    st = event["values"].get("stackTrace") or {}
    return [frame_name(f) for f in st.get("frames") or []]


def thread_name(event):
    v = event["values"]
    t = v.get("sampledThread") or v.get("eventThread") or {}
    return t.get("javaName") or t.get("osName") or ""


def load(path, depth):
    """The recording's events of the three types, as `jfr print --json` has them."""
    if path.endswith(".json"):
        with open(path) as fh:
            return json.load(fh)["recording"]["events"]
    events = []
    # one event type per `jfr print`, so only one type's JSON is in memory
    # at a time; process starts and allocations need only the top frames
    for etype, d in ((SAMPLE, depth), (PROCESS, 1), (ALLOC, 2)):
        out = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", str(d),
             "--events", etype, path],
            check=True, capture_output=True, text=True).stdout
        events += json.loads(out)["recording"]["events"]
    return events


def pct(n, total):
    return 100.0 * n / total if total else 0.0


def most_common(counter, top):
    """The `top` largest entries, ties by name, so a report is stable."""
    return sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:top]


def summarize(events, top, frame=None, thread=None):
    """The report's lines."""
    by_type = collections.defaultdict(list)
    for e in events:
        by_type[e["type"]].append(e)
    lines = []

    samples = by_type[SAMPLE]
    if thread is None:
        who, picked = "executor", lambda name: name.startswith(EXECUTOR_THREAD)
    else:
        who, picked = f"thread {thread}", re.compile(thread).search
    execs = [frames(e) for e in samples if picked(thread_name(e))]
    lines.append(f"{who} CPU samples: {len(execs)} of {len(samples)} "
                 "execution samples")
    if frame is not None:
        rx = re.compile(frame)
        n = sum(1 for fs in execs if any(rx.search(f) for f in fs))
        lines.append(f"{who} samples with a frame matching {frame}: "
                     f"{n} of {len(execs)} ({pct(n, len(execs)):.1f}%)")
    self_c = collections.Counter(fs[0] for fs in execs if fs)
    incl_c = collections.Counter(f for fs in execs for f in set(fs))
    for title, c in (("top self frames", self_c),
                     ("top inclusive frames", incl_c)):
        lines.append(f"{title}:")
        for f, n in most_common(c, top):
            lines.append(f"  {pct(n, len(execs)):5.1f}% {n:7d}  {f}")

    starts = by_type[PROCESS]
    lines.append(f"process starts: {len(starts)}")
    cmds = collections.defaultdict(list)
    for e in starts:
        cmd = e["values"].get("command") or ""
        cmds[os.path.basename(cmd.split(" ")[0])].append(cmd)
    for exe, cs in sorted(cmds.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        lines.append(f"  {len(cs):7d}  {exe}  e.g. {cs[0][:100]}")

    allocs = by_type[ALLOC]
    site_w = collections.Counter()
    for e in allocs:
        fs = frames(e)
        site = " <- ".join(fs[:2]) if fs else "(no stack)"
        site_w[site] += e["values"].get("weight") or 0
    total = sum(site_w.values())
    lines.append(f"allocation samples: {len(allocs)}, "
                 f"{total / 2**20:.1f} MiB sampled weight")
    lines.append("top allocation sites:")
    for site, w in most_common(site_w, top):
        lines.append(f"  {pct(w, total):5.1f}% {w / 2**20:10.1f} MiB  {site}")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help=".jfr file, or the JSON `jfr print --json` wrote")
    ap.add_argument("--top", type=int, default=15, help="rows per table")
    ap.add_argument("--depth", type=int, default=48,
                    help="stack depth of execution samples read from a .jfr")
    ap.add_argument("--frame", metavar="REGEX",
                    help="count executor samples with a matching frame")
    ap.add_argument("--thread", metavar="REGEX",
                    help="summarize the samples of threads whose name matches "
                         "instead of the executor threads")
    args = ap.parse_args(argv)
    print("\n".join(summarize(load(args.recording, args.depth), args.top,
                              args.frame, args.thread)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
