"""Top self and inclusive frames of a JFR recording's execution samples
on the threads whose name starts with a prefix (default: Spark's
``Executor task launch``). Self counts the top frame of each stack,
inclusive every distinct frame on it, read 64 frames deep.

With ``--compilations`` it instead sums the JIT's ``jdk.Compilation``
time per compiler tier (C1, C2) and per package of the compiled method:
Spark's generated classes, the rest of Catalyst, the JDK, and other. The
default settings record only compilations over 100 ms; record with a
``.jfc`` copy whose ``jdk.Compilation`` threshold is ``0 ms`` to see them
all.

Usage: python scripts/jfr_hot_frames.py <recording.jfr> [thread_prefix] [top_n]
       python scripts/jfr_hot_frames.py --compilations <recording.jfr>
"""

import collections
import re
import subprocess
import sys

THREAD = re.compile(r'sampledThread = "([^"]*)"')
LINE_SUFFIX = re.compile(r"\s+line:.*$")
FIELD = re.compile(r'^\s*(\w+) = "?([^"]*)"?$')
SECONDS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PACKAGES = (
    ("generated", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
    ("catalyst", ("org.apache.spark.sql.catalyst.",)),
    ("jdk", ("java.", "javax.", "jdk.", "sun.", "com.sun.")),
)


def samples(path: str, depth: int = 64):
    """Yield (thread name, frames top first) per ``jdk.ExecutionSample``."""
    cmd = ["jfr", "print", "--stack-depth", str(depth),
           "--events", "jdk.ExecutionSample", path]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
        thread, frames = None, None
        for line in proc.stdout:
            text = line.strip()
            if m := THREAD.search(line):
                thread = m.group(1)
            elif text.startswith("stackTrace = ["):
                frames = []
            elif frames is not None:
                if text == "]":
                    yield thread, frames
                    frames = None
                elif text != "...":
                    frames.append(LINE_SUFFIX.sub("", text))
    if proc.returncode:
        raise SystemExit(f"jfr print exited with {proc.returncode}")


def duration_s(text: str) -> float:
    """A JFR duration such as "0.256 ms", "1.20 s" or "1 m 5 s" in seconds."""
    parts = text.split()
    return sum(float(n) * SECONDS[u] for n, u in zip(parts[::2], parts[1::2]))


def package(method: str) -> str:
    for name, prefixes in PACKAGES:
        if method.startswith(prefixes):
            return name
    return "other"


def compilations(path: str) -> None:
    """Print JIT compile seconds and counts per tier and per package."""
    cmd = ["jfr", "print", "--events", "jdk.Compilation", path]
    secs, counts, event = collections.Counter(), collections.Counter(), {}
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
        for line in proc.stdout:
            if line.startswith("}"):
                tier = event.get("compiler", "?").upper()
                for key in ((tier, "all"), (tier, package(event.get("method", "")))):
                    secs[key] += duration_s(event.get("duration", "0 s"))
                    counts[key] += 1
                event = {}
            elif m := FIELD.match(line):
                event[m.group(1)] = m.group(2)
    if proc.returncode:
        raise SystemExit(f"jfr print exited with {proc.returncode}")
    print(f"{'tier':5} {'package':10} {'compile_s':>10} {'methods':>8}")
    for (tier, pkg), n in sorted(counts.items(), key=lambda kv: (kv[0][0], -secs[kv[0]])):
        print(f"{tier:5} {pkg:10} {secs[tier, pkg]:10.3f} {n:8d}")


def main() -> None:
    if sys.argv[1] == "--compilations":
        compilations(sys.argv[2])
        return
    path = sys.argv[1]
    prefix = sys.argv[2] if len(sys.argv) > 2 else "Executor task launch"
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    self_n, incl_n, total = collections.Counter(), collections.Counter(), 0
    for thread, frames in samples(path):
        if thread is None or not thread.startswith(prefix) or not frames:
            continue
        total += 1
        self_n[frames[0]] += 1
        incl_n.update(set(frames))
    print(f"{total} samples on threads starting with {prefix!r}")
    for title, counts in (("self", self_n), ("inclusive", incl_n)):
        print(f"\n-- top {top} {title}")
        for frame, n in counts.most_common(top):
            print(f"{100 * n / max(total, 1):5.1f}%  {n:6d}  {frame}")


if __name__ == "__main__":
    main()
