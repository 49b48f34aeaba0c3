#!/usr/bin/env python3
"""Net line change per file between two revisions, for src/main and src/test.

    python3 tools/net_lines.py <base> [<head>]

Without <head> the working tree is compared (tracked and untracked files
that git does not ignore). For every file whose content changed it prints two
nets, head minus base: physical lines, and non-blank non-comment lines.
A line is a comment line when, trimmed, it starts with `//`, `/*` or `*`.
Each tree gets a total line.
"""
import subprocess
import sys

TREES = ("src/main", "src/test")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True).stdout


def files_at(rev):
    if rev is None:
        out = git("ls-files", "--cached", "--others", "--exclude-standard", "--", *TREES)
    else:
        out = git("ls-tree", "-r", "--name-only", rev, "--", *TREES)
    return set(out.decode().splitlines())


def text_at(rev, path):
    if rev is None:
        try:
            with open(path, "rb") as f:
                return f.read().decode("utf-8", "replace")
        except FileNotFoundError:  # deleted but still in the index
            return ""
    return git("show", f"{rev}:{path}").decode("utf-8", "replace")


def counts(text):
    lines = text.splitlines()
    code = sum(1 for l in lines
               if l.strip() and not l.strip().startswith(("//", "/*", "*")))
    return len(lines), code


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    base = sys.argv[1]
    head = sys.argv[2] if len(sys.argv) == 3 else None
    before, after = files_at(base), files_at(head)
    for tree in TREES:
        rows = []
        for path in sorted(p for p in before | after if p.startswith(tree + "/")):
            old = text_at(base, path) if path in before else None
            new = text_at(head, path) if path in after else None
            if old != new:
                (bp, bc), (ap, ac) = counts(old or ""), counts(new or "")
                rows.append((ap - bp, ac - bc, path))
        print(tree)
        for phys, code, path in rows:
            print(f"  {phys:+6d} {code:+6d}  {path}")
        print(f"  {sum(r[0] for r in rows):+6d} {sum(r[1] for r in rows):+6d}  total"
              "  (physical, non-blank non-comment)")


if __name__ == "__main__":
    main()
