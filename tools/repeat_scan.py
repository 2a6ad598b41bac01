#!/usr/bin/env python3
"""Count source lines that repeat an earlier 6-line window exactly.

Usage: python3 tools/repeat_scan.py [root]     (default: src/main/scala)

Definition, fixed so two runs of the scan always agree:
- Files are the *.scala files under <root>, visited in sorted path order.
- Each line is stripped of leading and trailing whitespace. Blank lines,
  comment lines (starting with //, /*, * or */) and import lines are
  dropped before windowing; the rest keep their order.
- A window is 6 consecutive kept lines of one file. A window whose text
  was already seen earlier (in the same file or an earlier one) marks
  all 6 of its lines as repeated. Each line counts once.

Prints the total repeated-line count, then one "<count>  <file>" line per
file with any repeats, largest first.
"""
import sys
from pathlib import Path

WINDOW = 6


def kept_lines(path: Path) -> list:
    out = []
    for raw in path.read_text(encoding="utf-8").splitlines():
        line = raw.strip()
        if not line or line.startswith(("//", "/*", "*", "import ")):
            continue
        out.append(line)
    return out


def scan(root: Path) -> dict:
    seen = set()
    counts = {}
    for path in sorted(root.rglob("*.scala")):
        lines = kept_lines(path)
        marked = set()
        for i in range(len(lines) - WINDOW + 1):
            key = "\n".join(lines[i:i + WINDOW])
            if key in seen:
                marked.update(range(i, i + WINDOW))
            else:
                seen.add(key)
        if marked:
            counts[str(path.relative_to(root))] = len(marked)
    return counts


def main() -> None:
    root = Path(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
    counts = scan(root)
    print(f"total {sum(counts.values())}")
    for name, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {name}")


if __name__ == "__main__":
    main()
