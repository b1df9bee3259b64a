#!/usr/bin/env python3
"""Sizing probe, outside the benchmark runs (see perfbench/README.md):

    python3 perfbench/sizing.py --decode binary --frames 500 --rate 200 --seconds 120

One burst into the epic-socket stream with the chosen decode; prints the
committed frames, live connection threads and resident memory each second.
"""
import argparse
import os
import shutil
import subprocess

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--decode", choices=("array", "binary"), default="array")
    ap.add_argument("--frames", type=int, default=500)
    ap.add_argument("--rate", type=float, default=200.0)
    ap.add_argument("--seconds", type=int, default=120)
    args = ap.parse_args()
    cp = run.build()
    work = os.path.relpath(os.path.join(run.WORK, f"sizing-{os.getpid()}"), run.ROOT)
    os.makedirs(os.path.join(run.ROOT, work))
    java_opts = [f"--add-opens={p}=ALL-UNNAMED" for p in run.ADD_OPENS] + [
        f"-Xmx{run.SUT_HEAP}", f"-Djava.io.tmpdir={os.path.join(run.ROOT, work)}"]
    try:
        subprocess.run(["java", *java_opts, "-cp", cp, "perfbench.Sizing",
                        "--decode", args.decode, "--frames", str(args.frames),
                        "--rate", str(args.rate), "--seconds", str(args.seconds),
                        "--work", work], cwd=run.ROOT, stdin=subprocess.DEVNULL,
                       timeout=args.seconds + 120)
    finally:
        shutil.rmtree(os.path.join(run.ROOT, work), ignore_errors=True)


if __name__ == "__main__":
    main()
