#!/usr/bin/env python3
"""Report verbatim copies of six or more code lines under src/main/scala.

Each file's lines are stripped; blank lines and lines starting with //, /* or *
are dropped. A window is 6 consecutive kept lines joined by newlines; windows
shorter than 120 characters are skipped. A window is duplicated when its text
occurs at two or more positions (same file or different files).

Prints, per file, the number of kept lines that lie in at least one duplicated
window, then the total. --groups also lists each duplicated window's positions.

    python3 tools/dup_report.py [--groups] [root]
"""
import pathlib
import sys
from collections import defaultdict

WINDOW, MIN_CHARS = 6, 120


def kept_lines(path):
    out = []
    for no, raw in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
        s = raw.strip()
        if s and not s.startswith(("//", "/*", "*")):
            out.append((no, s))
    return out


def main(argv):
    groups_flag = "--groups" in argv
    args = [a for a in argv if a != "--groups"]
    root = pathlib.Path(args[0] if args else "src/main/scala")
    files = {str(p.relative_to(root)): kept_lines(p) for p in sorted(root.rglob("*.scala"))}
    positions = defaultdict(list)
    for name, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            text = "\n".join(s for _, s in lines[i:i + WINDOW])
            if len(text) >= MIN_CHARS:
                positions[text].append((name, i))
    dup = {text: pos for text, pos in positions.items() if len(pos) > 1}
    covered = defaultdict(set)
    for pos in dup.values():
        for name, i in pos:
            covered[name].update(range(i, i + WINDOW))
    for name in sorted(covered, key=lambda n: (-len(covered[n]), n)):
        print(f"{len(covered[name]):6d}  {name}")
    print(f"{sum(len(c) for c in covered.values()):6d}  total")
    if groups_flag:
        for text, pos in sorted(dup.items(), key=lambda kv: kv[1]):
            where = ", ".join(f"{n}:{files[n][i][0]}" for n, i in pos)
            print(f"\n== {where}\n{text}")


if __name__ == "__main__":
    main(sys.argv[1:])
