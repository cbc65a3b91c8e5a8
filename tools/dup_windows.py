#!/usr/bin/env python3
"""Find copy-pasted blocks: repeated windows of consecutive source lines.

Each `*.scala` file under src/main is reduced to its stripped lines, skipping
blanks, comment lines (`//`, `*`, `/*`), imports and lines that only close
brackets. Every run of WINDOW consecutive kept lines is a window; a window
that occurs N > 1 times (anywhere in the scanned files) counts N - 1 repeats.
A repeat is charged to the file of the occurrence it counts. Windows that
occur at least MIN times are listed with their places and text.

Usage (from the repo root): python3 tools/dup_windows.py
"""
import re
import signal
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path("src/main")
WINDOW = 6
MIN = 3
CLOSER = re.compile(r"^[\s)\]}]*[,;]?[\s)\]}]*$")
SKIP_PREFIX = ("//", "*", "/*", "import ")


def kept_lines(path):
    out = []
    for n, raw in enumerate(path.read_text().splitlines(), 1):
        s = raw.strip()
        if not s or s.startswith(SKIP_PREFIX) or CLOSER.match(s):
            continue
        out.append((n, s))
    return out


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    files = sorted(ROOT.rglob("*.scala"))

    where = defaultdict(list)  # window text -> [(file, first line), ...]
    for f in files:
        lines = kept_lines(f)
        for i in range(len(lines) - WINDOW + 1):
            key = "\n".join(s for _, s in lines[i:i + WINDOW])
            where[key].append((f, lines[i][0]))

    per_file = Counter()
    for occ in where.values():
        for f, _ in occ[1:]:
            per_file[f] += 1
    print(f"repeats: {sum(per_file.values())} in {len(files)} files")
    for f, n in per_file.most_common():
        print(f"  {n:5d}  {f}")

    frequent = sorted(((k, v) for k, v in where.items() if len(v) >= MIN),
                      key=lambda kv: (-len(kv[1]), str(kv[1][0][0]), kv[1][0][1]))
    print(f"windows occurring >= {MIN} times: {len(frequent)}")
    for key, occ in frequent:
        spots = ", ".join(f"{f.name}:{n}" for f, n in occ)
        print(f"\n-- x{len(occ)}: {spots}")
        for s in key.splitlines():
            print(f"   | {s}")


if __name__ == "__main__":
    main()
