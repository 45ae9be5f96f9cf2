#!/usr/bin/env python3
"""Self-test of the benchmark's seeding: the same seed gives byte-identical
inputs and the same operation sequence; another seed gives different ones.

    python3 perfbench/selftest.py
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


def sequence(classes, workload, seed):
    cmd = run.java_cmd(classes, run.BUILD) + [
        "--workload", workload, "--seed", str(seed), "--seconds", "0", "--trace", "0",
        "--cores", "1", "--inputs", "-", "--out", "-", "--plan-only"]
    return subprocess.run(cmd, capture_output=True, text=True, check=True).stdout


def main():
    root = os.path.join(run.BUILD, "selftest")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        ok = gen.selftest(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    classes, _ = run.build()
    for w in ["replica_query", "corpus_pipeline", "stream_ops"]:
        a, b, c = (sequence(classes, w, s) for s in (11, 11, 12))
        same, differ = a == b, a != c
        ok &= same and differ
        print(f"{w} sequence: same-seed identical={same} other-seed differs={differ}")
    print("selftest", "PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
