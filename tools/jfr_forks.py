#!/usr/bin/env python3
"""Count the OS processes a JVM started, from a JFR recording.

    python3 tools/jfr_forks.py FILE.jfr [--top N]

Runs `jfr print --events jdk.ProcessStart --stack-depth 64 FILE.jfr` and
counts the launches by command verb (the executable's base name) x the
first graft or Spark frame of the launching stack, and by verb x thread
(a stream thread's query ids dropped and digits folded to `N`, so a pool
counts as one). Record a
benchmark run with, for example:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr \\
        python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 20 --trace 0

(every JVM the command starts writes the same file; the run's own JVM
is the last to exit, so its recording is the one left).
"""
import argparse
import collections
import re
import subprocess
import sys

OWN_FRAMES = ("graft.", "org.apache.spark.")


def parse_events(text):
    """`jfr print` text -> [{"command", "thread", "frames"}], one per
    jdk.ProcessStart event; frames are `pkg.Class.method`, innermost
    first."""
    events, cur, in_stack = [], None, False
    for line in text.splitlines():
        s = line.strip()
        if s == "jdk.ProcessStart {":
            cur, in_stack = {"command": "", "thread": "", "frames": []}, False
        elif cur is None:
            continue
        elif in_stack:
            if s == "]":
                in_stack = False
            elif s and s != "...":
                cur["frames"].append(s.split("(", 1)[0])
        elif s.startswith("command = "):
            cur["command"] = s[len("command = "):].strip('"')
        elif s.startswith("eventThread = "):
            m = re.match(r'eventThread = "(.*)" \(', s)
            cur["thread"] = m.group(1) if m else s[len("eventThread = "):]
        elif s == "stackTrace = [":
            in_stack = True
        elif s == "}":
            events.append(cur)
            cur = None
    return events


def verb(command):
    """Base name of the executable: `/bin/chmod 0644 f` -> `chmod`."""
    head = command.split()[0] if command.split() else "?"
    return head.rsplit("/", 1)[-1]


def own_frame(frames):
    return next((f for f in frames if f.startswith(OWN_FRAMES)), "(no graft/Spark frame)")


def thread_group(name):
    """Pool threads count as one: a stream thread's `[id = ..., runId =
    ...]` suffix is dropped and digits fold to `N`."""
    return re.sub(r"\d+", "N", re.sub(r"\s*\[id = [^\]]*\]", "", name))


def tally(events):
    """(by verb, by (verb, first own frame), by (verb, thread group))."""
    by_verb = collections.Counter(verb(e["command"]) for e in events)
    by_frame = collections.Counter((verb(e["command"]), own_frame(e["frames"])) for e in events)
    by_thread = collections.Counter((verb(e["command"]), thread_group(e["thread"])) for e in events)
    return by_verb, by_frame, by_thread


def report(events, top=15):
    by_verb, by_frame, by_thread = tally(events)
    out = [f"{len(events)} processes started"]
    out += [f"  {n:6d}  {v}" for v, n in by_verb.most_common()]
    out.append("by verb x first graft/Spark frame:")
    out += [f"  {n:6d}  {v:10s} {f}" for (v, f), n in by_frame.most_common(top)]
    out.append("by verb x thread:")
    out += [f"  {n:6d}  {v:10s} {t}" for (v, t), n in by_thread.most_common(top)]
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    text = subprocess.run(
        ["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "64", a.recording],
        check=True, capture_output=True, text=True).stdout
    print(report(parse_events(text), a.top))


if __name__ == "__main__":
    sys.exit(main())
