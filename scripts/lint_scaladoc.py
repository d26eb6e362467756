#!/usr/bin/env python3
"""Fail on orphaned scaladoc: a `/** ... */` block followed by another
`/**` with only blank lines between them. Scaladoc attaches a doc comment
to the next definition only, so the first block of such a stack documents
nothing.

Usage: python3 scripts/lint_scaladoc.py [root ...]   (default: src)
Prints one `file:line` per orphaned block (the line its `/**` opens on)
and exits 1 if there is any.
"""
import pathlib
import sys


def orphans(text):
    """Yield the 1-based opening line of every doc block that is followed,
    after only blank lines, by another doc block."""
    i, n = 0, len(text)
    while True:
        start = text.find("/**", i)
        if start < 0:
            return
        end = text.find("*/", start + 3)
        if end < 0:
            return
        rest = text[end + 2:]
        if rest.lstrip().startswith("/**"):
            yield text.count("\n", 0, start) + 1
        i = end + 2


def main(argv):
    roots = [pathlib.Path(a) for a in argv] or [pathlib.Path("src")]
    bad = []
    for root in roots:
        files = [root] if root.is_file() else sorted(root.rglob("*.scala"))
        for f in files:
            text = f.read_text(encoding="utf-8")
            bad += [f"{f}:{line}" for line in orphans(text)]
    for b in bad:
        print(f"orphaned scaladoc block (another /** follows it): {b}")
    print(f"[lint_scaladoc] {len(bad)} orphaned block(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
