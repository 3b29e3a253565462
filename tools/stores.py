#!/usr/bin/env python3
"""List the stored layouts under a tmpdir, one line per layout dir.

Every stored layout lives at `<tmpdir>/graft-<kind>/<tag>`. For each one
this prints its kind and tag, `done` or `torn` (whether its `__done`
marker is present), its file count, and a sha256 over the sorted
(relative path, size, mtime_ns) of its files. Two runs over the same
tmpdir compare with `diff`: a line that changed is a store whose files
were rewritten, added or removed.

Usage: python3 tools/stores.py <tmpdir>
"""
import hashlib
import os
import sys
from pathlib import Path


def fingerprint(layout: Path):
    files = []
    for dirpath, _, names in os.walk(layout):
        for n in names:
            p = Path(dirpath, n)
            st = p.lstat()
            files.append((p.relative_to(layout).as_posix(), st.st_size,
                          st.st_mtime_ns))
    h = hashlib.sha256()
    for rel, size, mtime in sorted(files):
        h.update(f"{rel}\t{size}\t{mtime}\n".encode("utf-8"))
    return len(files), h.hexdigest()


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    root = Path(sys.argv[1])
    for kind_dir in sorted(root.glob("graft-*")):
        if not kind_dir.is_dir():
            continue
        kind = kind_dir.name[len("graft-"):]
        for layout in sorted(p for p in kind_dir.iterdir() if p.is_dir()):
            state = "done" if (layout / "__done").exists() else "torn"
            n, digest = fingerprint(layout)
            print(f"{kind} {layout.name} {state} {n} {digest}")


if __name__ == "__main__":
    main()
