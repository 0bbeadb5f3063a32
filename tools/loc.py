#!/usr/bin/env python3
"""Line counts for the Scala sources: raw lines and code lines
(non-blank, non-comment) under src/main and src/test, plus, given a git
rev, the per-file code-line delta of the working tree against it.

Usage: python3 tools/loc.py [REV]
  With no REV, prints the two scope totals only. With REV (any commit
  name git accepts), also prints every file whose code-line count
  changed and the totals at REV, so a change can state its delta.

Comment stripping knows `//`, `/* ... */` (nested, as in Scala) and
string literals, triple-quoted ones included; it is a counter, not a
parser.
"""
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
SCOPES = ("src/main", "src/test")


def code_lines(text):
    """Number of lines holding something other than blanks and comments."""
    n, depth, triple = 0, 0, False
    for line in text.splitlines():
        code, i, in_str = triple and bool(line.strip()), 0, False
        while i < len(line):
            two = line[i:i + 2]
            if triple:
                if line.startswith('"""', i):
                    triple, i = False, i + 3
                else:
                    i += 1
            elif depth:
                if two == "/*":
                    depth, i = depth + 1, i + 2
                elif two == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            elif in_str:
                if line[i] == "\\":
                    i += 2
                    continue
                in_str = line[i] != '"'
                i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                code, triple, i = True, True, i + 3
            else:
                in_str = line[i] == '"'
                code = code or not line[i].isspace()
                i += 1
        n += code
    return n


def git(*args):
    return subprocess.run(("git", "-C", str(REPO)) + args, check=True,
                          capture_output=True, text=True).stdout


def tree_counts():
    """{path: (raw, code)} for the working tree's Scala sources."""
    out = {}
    for scope in SCOPES:
        for f in sorted((REPO / scope).rglob("*.scala")):
            text = f.read_text(encoding="utf-8")
            out[str(f.relative_to(REPO))] = (len(text.splitlines()), code_lines(text))
    return out


def rev_counts(rev):
    """{path: (raw, code)} for the Scala sources at `rev`."""
    out = {}
    for path in git("ls-tree", "-r", "--name-only", rev, "--", *SCOPES).split():
        if path.endswith(".scala"):
            text = git("show", f"{rev}:{path}")
            out[path] = (len(text.splitlines()), code_lines(text))
    return out


def totals(counts):
    return {s: tuple(sum(v[k] for p, v in counts.items() if p.startswith(s + "/"))
                     for k in (0, 1)) for s in SCOPES}


def main(argv):
    now = tree_counts()
    now_t = totals(now)
    if len(argv) > 1:
        rev = argv[1]
        then = rev_counts(rev)
        then_t = totals(then)
        print(f"code-line delta per file against {rev}:")
        for path in sorted(set(now) | set(then)):
            a, b = then.get(path, (0, 0))[1], now.get(path, (0, 0))[1]
            if a != b:
                print(f"  {b - a:+6d}  {a:6d} -> {b:6d}  {path}")
    print(f"{'scope':10s} {'raw':>7s} {'code':>7s}")
    for s in SCOPES:
        raw, code = now_t[s]
        line = f"{s:10s} {raw:7d} {code:7d}"
        if len(argv) > 1:
            line += f"   ({raw - then_t[s][0]:+d} raw, {code - then_t[s][1]:+d} code vs {argv[1]})"
        print(line)


if __name__ == "__main__":
    main(sys.argv)
