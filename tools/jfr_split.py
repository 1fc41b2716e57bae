#!/usr/bin/env python3
"""Split a connector run's CPU samples by where the time goes.

    jfr print --events jdk.ExecutionSample --stack-depth 64 rec.jfr > samples.txt
    python3 tools/jfr_split.py samples.txt      # or: ... | python3 tools/jfr_split.py

Reads the text `jfr print` writes for `jdk.ExecutionSample` events (files
named on the command line, else stdin), keeps the samples of the
connector threads (`bench-source`, `bench-sink`) and puts each in one
class, by the outermost stack frame that names one:

  check   the benchmark's own record check (`perfbench.Content`)
  decode  `decodeFramed`/`decodeChecked`, or the codec's reader
  encode  `encodeFramed`, or the codec's writer
  poll    a consumer `poll`
  commit  a sink commit or a source offset commit
  other   anything else (the run loop, produce, the record generator)

Outermost first, so a source's offset commit counts as commit even though
it encodes, and a decoded record read by the check counts as check.
Prints one row per class with its samples and share, per thread and in
total. A claim on a connector workload can be sized against the check's
share: a program change can only move the rest.
"""
import re
import sys
from collections import Counter

THREADS = ("bench-source", "bench-sink")

# (class, frame pattern), tried on each frame from the outermost in
RULES = [
    ("check", re.compile(r"^perfbench\.Content\$")),
    ("decode", re.compile(r"\.(decodeFramed|decodeChecked)\(|AvroCodec\$Reader\.")),
    ("encode", re.compile(r"\.encodeFramed\(|AvroCodec\$Writer\.")),
    ("poll", re.compile(r"\.poll\(")),
    ("commit", re.compile(r"\.(commit|commitWithRetry|commitOffset)\(")),
]
CLASSES = [name for name, _ in RULES] + ["other"]


def samples(lines):
    """Yields (thread, frames leaf first) per execution sample."""
    thread, frames, in_stack = None, None, False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif frames is None:
            continue
        elif s.startswith("sampledThread"):
            m = re.search(r'"([^"]*)"', s)
            thread = m.group(1) if m else None
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s.split(" line:")[0])
        elif s == "}":
            yield thread, frames
            frames = None


def classify(frames):
    for frame in reversed(frames):
        for name, pattern in RULES:
            if pattern.search(frame):
                return name
    return "other"


def main():
    paths = sys.argv[1:]
    counts = {t: Counter() for t in THREADS}
    for path in paths or ["-"]:
        f = sys.stdin if path == "-" else open(path, encoding="utf-8")
        with f:
            for thread, frames in samples(f):
                if thread in counts:
                    counts[thread][classify(frames)] += 1
    total = sum(counts.values(), Counter())
    n = sum(total.values())
    if n == 0:
        sys.exit("no execution samples on the connector threads")
    cols = list(THREADS) + ["total"]
    print("class   " + "".join(f"{c:>22}" for c in cols))
    for cls in CLASSES:
        row = []
        for c in cols:
            k = total if c == "total" else counts[c]
            m = sum(k.values())
            row.append(f"{k[cls]:>12} {100.0 * k[cls] / m if m else 0.0:>8.1f}%")
        print(f"{cls:<8}" + "".join(row))
    print(f"{'samples':<8}" + "".join(
        f"{sum((total if c == 'total' else counts[c]).values()):>22}" for c in cols))


if __name__ == "__main__":
    main()
