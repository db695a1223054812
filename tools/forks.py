#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

    jfr print --events jdk.ProcessStart --stack-depth 64 rec.jfr \\
        | python3 tools/forks.py [--ops N]

Reads the `jfr print` text of `jdk.ProcessStart` events (stdin or a file
argument) and prints the process starts per command (the first word of
the command line, e.g. `chmod`) and per first graft, Spark or parquet
frame: the innermost stack frame whose class is under `graft.`,
`org.apache.spark.` or `org.apache.parquet.` -- the engine code that
asked for the process. With `--ops N` every count is also divided by N
(say, the number of `IngestionJob.run` calls the recording covers).

Without libhadoop, Hadoop's local file system forks `chmod` for every
file it creates and every dir it makes; this is how to find who asks.
"""
import argparse
import collections
import os
import re
import sys

OURS = ("graft.", "org.apache.spark.", "org.apache.parquet.")
FRAME = re.compile(r"^\s+([\w$.<>]+)\(.*\)")
COMMAND = re.compile(r'^\s+command = "(.*)"\s*$')


def events(lines):
    """Yield (command, frames) per jdk.ProcessStart event."""
    command, frames, inside = None, [], False
    for line in lines:
        if line.startswith("jdk.ProcessStart {"):
            command, frames, inside = None, [], True
        elif inside and line.startswith("}"):
            yield command or "?", frames
            inside = False
        elif inside:
            m = COMMAND.match(line)
            if m:
                command = m.group(1)
                continue
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))


def caller(frames):
    """The innermost graft, Spark or parquet frame, as Class.method."""
    for f in frames:
        if f.startswith(OURS):
            return f
    return "(no graft/spark/parquet frame)"


def table(title, counts, ops):
    total = sum(counts.values())
    print(f"{title}: {total} process starts" +
          (f", {total / ops:.2f} per op over {ops} ops" if ops else ""))
    for k, n in counts.most_common():
        per = f"  {n / ops:7.2f}/op" if ops else ""
        print(f"  {n:6d}{per}  {k}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("file", nargs="?", help="jfr print output (default: stdin)")
    ap.add_argument("--ops", type=int, default=0,
                    help="divide every count by this many ops")
    a = ap.parse_args()
    src = open(a.file) if a.file else sys.stdin
    by_command, by_caller = collections.Counter(), collections.Counter()
    for command, frames in events(src):
        by_command[command.split(" ")[0]] += 1
        by_caller[caller(frames)] += 1
    table("per command", by_command, a.ops)
    table("per first graft/spark/parquet frame", by_caller, a.ops)


if __name__ == "__main__":
    try:
        main()
        sys.stdout.flush()
    except BrokenPipeError:
        # the reader (say, `head`) closed the pipe: stop without a
        # traceback, and keep the exit-time flush from raising again
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(1)
