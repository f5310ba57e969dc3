"""Top self and inclusive frames of a JFR recording's execution samples
on the threads whose name starts with a prefix (default: Spark's
``Executor task launch``). Self counts the top frame of each stack,
inclusive every distinct frame on it, read 64 frames deep.

Usage: python scripts/jfr_hot_frames.py <recording.jfr> [thread_prefix] [top_n]
"""

import collections
import re
import subprocess
import sys

THREAD = re.compile(r'sampledThread = "([^"]*)"')
LINE_SUFFIX = re.compile(r"\s+line:.*$")


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


def main() -> None:
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
