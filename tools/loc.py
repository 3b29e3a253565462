#!/usr/bin/env python3
"""Count code, comment and blank lines of the main sources.

A blank line is whitespace only. A comment line starts (after
indentation) with `//`, `/*` or `*`, or lies inside a `/* ... */` block.
Every other line is code.

Usage: python3 tools/loc.py [root]   (default: src/main beside this tool)

`root` may be a directory (every `*.scala` under it) or one file.
"""
import sys
from pathlib import Path

root = Path(sys.argv[1]) if len(sys.argv) > 1 else \
    Path(__file__).resolve().parent.parent / "src" / "main"

if not root.exists():
    sys.exit(f"{root}: no such file or directory")

total = code = comment = blank = 0
for f in [root] if root.is_file() else sorted(root.rglob("*.scala")):
    in_block = False
    for line in f.read_text(encoding="utf-8").splitlines():
        s = line.strip()
        total += 1
        if not s:
            blank += 1
        elif in_block or s.startswith(("//", "/*", "*")):
            comment += 1
            if s.startswith("/*"):
                in_block = True
        else:
            code += 1
        if in_block and "*/" in s:
            in_block = False

print(f"{root}: {total} lines: {code} code, {comment} comment, {blank} blank")
