#!/usr/bin/env python3
"""Open-loop load generator for the stream_ingest workload.

    python3 perfbench/feeder.py --src <staging> --dst <input> \
        --start-ms <epoch ms> --period-ms <ms> --log <file>

A single-threaded process separate from the engine: it atomically renames
the staged files (in name order) into the input directory, file i due at
start + i * period, whether or not the engine keeps up. Each line of the
log is `<file name> <due ms> <actual ms>`, so lateness of the generator
itself is recorded next to every arrival.
"""
import argparse
import os
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--start-ms", type=int, required=True)
    ap.add_argument("--period-ms", type=int, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    lines = []
    for i, name in enumerate(sorted(os.listdir(a.src))):
        due = a.start_ms + i * a.period_ms
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(a.src, name), os.path.join(a.dst, name))
        lines.append(f"{name} {due} {int(time.time() * 1000)}\n")
    with open(a.log, "w") as f:
        f.writelines(lines)


if __name__ == "__main__":
    main()
