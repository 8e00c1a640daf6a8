#!/usr/bin/env python3
"""Net code lines a change adds and removes under src/main and src/test.

    python3 tools/netlines.py <base> [<head>]

Compares two git revisions (or <base> against the working tree,
untracked files included, when <head> is omitted) and prints, per
changed file, the added and removed lines that hold code: blank lines
and comment-only lines (`//` lines, and every line inside a `/* ... */`
block) are not counted. Comment state is tracked over each whole file,
so a diff line is classified by the file it belongs to, not by its
text alone. The totals for src/main and src/test follow, then the
`spark.graft.*` conf keys (knobs) that src/main code lines spell as
string literals, counted at both revisions, with the keys gained and
lost.
"""
import re
import subprocess
import sys

ROOTS = ("src/main", "src/test")
HUNK = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")
KNOB = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def source(rev, path):
    """The file's lines at `rev` (None = working tree); [] if absent."""
    try:
        if rev is None:
            with open(path, encoding="utf-8") as f:
                return f.read().splitlines()
        return git("show", f"{rev}:{path}").splitlines()
    except (OSError, subprocess.CalledProcessError):
        return []


def code_lines(lines):
    """1-based numbers of the lines holding code (not blank, not comment)."""
    code, in_block = set(), False
    for n, line in enumerate(lines, 1):
        rest, has_code = line, False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block, rest = False, rest[end + 2:]
                continue
            stripped = rest.lstrip()
            if not stripped or stripped.startswith("//"):
                break
            if stripped.startswith("/*"):
                in_block, rest = True, stripped[2:]
                continue
            has_code = True
            # a block comment opened after code on the same line
            start = stripped.find("/*")
            if start >= 0 and '"' not in stripped[:start]:
                in_block, rest = True, stripped[start + 2:]
                continue
            break
        if has_code:
            code.add(n)
    return code


def changed(base, head, path):
    """(old line numbers removed, new line numbers added) in `path`."""
    args = ["diff", "-U0", base] + ([head] if head else []) + ["--", path]
    removed, added = [], []
    for line in git(*args).splitlines():
        m = HUNK.match(line)
        if m:
            o, oc, a, ac = (int(m.group(1)), int(m.group(2) or 1),
                            int(m.group(3)), int(m.group(4) or 1))
            removed += range(o, o + oc)
            added += range(a, a + ac)
    return removed, added


def is_commit(rev):
    return subprocess.run(("git", "rev-parse", "--verify", "--quiet",
                           rev + "^{commit}"), capture_output=True).returncode == 0


def main(argv):
    # an option or an unknown revision would reach `git diff` as an
    # argument and die there with a traceback: print the usage instead
    if len(argv) not in (2, 3) or any(a.startswith("-") for a in argv[1:]):
        sys.exit(__doc__)
    base, head = argv[1], (argv[2] if len(argv) == 3 else None)
    for rev in (base, head):
        if rev is not None and not is_commit(rev):
            sys.exit(f"unknown revision: {rev}\n{__doc__}")
    names = ["diff", "--name-only", base] + ([head] if head else []) + ["--"]
    files = set(git(*(names + list(ROOTS))).splitlines())
    untracked = set()
    if head is None:  # new files not yet staged count in full
        untracked = set(git("ls-files", "--others", "--exclude-standard", "--",
                            *ROOTS).splitlines())
    totals = {r: [0, 0] for r in ROOTS}
    for path in sorted((files | untracked) - {""}):
        if path in untracked:
            removed, added = [], range(1, len(source(None, path)) + 1)
        else:
            removed, added = changed(base, head, path)
        old_code = code_lines(source(base, path))
        new_code = code_lines(source(head, path))
        plus = sum(1 for n in added if n in new_code)
        minus = sum(1 for n in removed if n in old_code)
        root = next(r for r in ROOTS if path.startswith(r + "/"))
        totals[root][0] += plus
        totals[root][1] += minus
        print(f"{path}: +{plus} -{minus}")
    for root, (plus, minus) in totals.items():
        print(f"{root} total: +{plus} -{minus} (net {plus - minus:+d})")
    old, new = knobs(base), knobs(head)
    print(f"src/main conf keys: {len(old)} -> {len(new)}"
          + "".join(f" +{k}" for k in sorted(new - old))
          + "".join(f" -{k}" for k in sorted(old - new)))


def knobs(rev):
    """The `spark.graft.*` keys quoted on src/main code lines at `rev`."""
    if rev is None:
        paths = git("ls-files", "--cached", "--others", "--exclude-standard",
                    "--", ROOTS[0]).splitlines()
    else:
        paths = git("ls-tree", "-r", "--name-only", rev, "--",
                    ROOTS[0]).splitlines()
    keys = set()
    for path in paths:
        lines = source(rev, path)
        for n in code_lines(lines):
            keys.update(KNOB.findall(lines[n - 1]))
    return keys


if __name__ == "__main__":
    main(sys.argv)
