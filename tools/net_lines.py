#!/usr/bin/env python3
"""Net change in src/main/**/*.scala lines by kind against a git revision.

    python3 tools/net_lines.py <git-rev>

Compares the working tree with <git-rev> and prints, per kind, the line
count at the revision, now, and the difference. Kinds: `blank` (only
whitespace), `comment` (a `//` line, or a line of a `/* ... */` or
scaladoc block that starts a line), and `code` (everything else, including
code with a trailing comment). Run from the repository root.
"""
import pathlib
import subprocess
import sys

PREFIX = "src/main/"


def kinds(text):
    counts = {"code": 0, "comment": 0, "blank": 0}
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            counts["comment"] += 1
            in_block = "*/" not in s
        elif not s:
            counts["blank"] += 1
        elif s.startswith("//"):
            counts["comment"] += 1
        elif s.startswith("/*"):
            counts["comment"] += 1
            in_block = "*/" not in s[2:]
        else:
            counts["code"] += 1
    return counts


def total(sources):
    out = {"code": 0, "comment": 0, "blank": 0}
    for text in sources:
        for k, v in kinds(text).items():
            out[k] += v
    return out


def at_rev(rev):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", PREFIX],
        check=True, capture_output=True, text=True).stdout.split()
    for n in names:
        if n.endswith(".scala"):
            yield subprocess.run(["git", "show", f"{rev}:{n}"], check=True,
                                 capture_output=True, text=True).stdout


def now():
    for p in sorted(pathlib.Path(PREFIX).rglob("*.scala")):
        yield p.read_text()


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    before, after = total(at_rev(argv[1])), total(now())
    print(f"{'kind':<8} {argv[1][:12]:>12} {'now':>8} {'change':>8}")
    for k in ("code", "comment", "blank"):
        print(f"{k:<8} {before[k]:>12,} {after[k]:>8,} {after[k] - before[k]:>+8,}")
    b, a = sum(before.values()), sum(after.values())
    print(f"{'total':<8} {b:>12,} {a:>8,} {a - b:>+8,}")


if __name__ == "__main__":
    main(sys.argv)
