#!/usr/bin/env python3
"""Rank the costs in a JDK Flight Recorder recording, using only the JDK's
`jfr` command-line tool.

Usage: python3 scripts/jfr_top.py <recording.jfr> alloc|cpu [thread-prefix]

  alloc  top allocation sites by sampled weight (jdk.ObjectAllocationSample):
         the allocating frame with the allocated class, then every method by
         the weight allocated under it (inclusive)
  cpu    top CPU frames by sample count (jdk.ExecutionSample): the top frame,
         then every method by the samples it is on the stack of (inclusive)

A thread prefix keeps only the events of threads whose name starts with it.
Record with `settings=profile` for allocation samples.
"""
import collections
import subprocess
import sys

DEPTH = 64
TOP = 25
UNITS = {"bytes": 1, "byte": 1, "kB": 1e3, "MB": 1e6, "GB": 1e9, "TB": 1e12}


def events(path, name):
    """Yield each event of type `name` as a dict of its top-level fields,
    with its stack trace as `frames` (method names, innermost first)."""
    p = subprocess.Popen(["jfr", "print", "--events", name, "--stack-depth", str(DEPTH), path],
                         stdout=subprocess.PIPE, text=True)
    ev, in_stack = None, False
    for line in p.stdout:
        line = line.rstrip()
        if ev is None:
            if line.startswith("jdk.") and line.endswith("{"):
                ev = {"frames": []}
        elif line == "}":
            yield ev
            ev = None
        elif in_stack:
            if line == "  ]":
                in_stack = False
            elif line.strip() != "...":  # "..." marks a truncated stack
                ev["frames"].append(line.strip().split("(", 1)[0])
        elif line.startswith("  ") and not line.startswith("   ") and " = " in line:
            k, v = line.strip().split(" = ", 1)
            if k == "stackTrace":
                in_stack = True
            else:
                ev[k] = v
    p.wait()
    if p.returncode != 0:
        sys.exit(f"jfr print failed on {path}")


def size(v):
    """'4.0 MB' -> 4e6 bytes."""
    n, unit = v.split()[:2]
    return float(n.replace(",", "")) * UNITS[unit]


def thread_of(ev):
    t = ev.get("eventThread") or ev.get("sampledThread") or ""
    return t[1:t.index('"', 1)] if t.startswith('"') else t


def ranked(title, counter, total, fmt):
    print(f"\n{title}")
    for key, w in counter.most_common(TOP):
        print(f"  {fmt(w):>12} {100 * w / total:5.1f}%  {key}")


def by_weight(path, name, weigh, prefix, site, fmt, what):
    self_w, incl = collections.Counter(), collections.Counter()
    total = 0
    for ev in events(path, name):
        if not thread_of(ev).startswith(prefix):
            continue
        w = weigh(ev)
        total += w
        if ev["frames"]:
            self_w[site(ev)] += w
        for f in set(ev["frames"]):
            incl[f] += w
    if not total:
        sys.exit(f"no {name} events" + (f" on threads '{prefix}*'" if prefix else ""))
    print(f"{what}: {fmt(total)}" + (f" on threads '{prefix}*'" if prefix else ""))
    ranked("self (top frame)", self_w, total, fmt)
    ranked(f"inclusive (top {DEPTH} frames)", incl, total, fmt)


def main():
    if len(sys.argv) not in (3, 4) or sys.argv[2] not in ("alloc", "cpu"):
        sys.exit(__doc__)
    path, mode = sys.argv[1], sys.argv[2]
    prefix = sys.argv[3] if len(sys.argv) == 4 else ""
    if mode == "alloc":
        by_weight(path, "jdk.ObjectAllocationSample", lambda ev: size(ev["weight"]), prefix,
                  lambda ev: f"{ev['frames'][0]}  [{ev.get('objectClass', '?').split(' (')[0]}]",
                  lambda w: f"{w / 1e6:,.0f} MB", "sampled allocation")
    else:
        by_weight(path, "jdk.ExecutionSample", lambda ev: 1, prefix,
                  lambda ev: ev["frames"][0], lambda w: f"{w:,}", "CPU samples")


if __name__ == "__main__":
    main()
