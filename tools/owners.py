#!/usr/bin/env python3
"""Check that each single-owner rule of the Scala sources is spelled only
by its owner.

Usage (from the root of a checkout):

    python3 tools/owners.py [root]      # default root: src/main/scala/graft

Each rule is a regular expression matched against Scala code with its
comments and the contents of its string literals blanked out, so a rule
named in a doc comment or an oracle's SQL string does not count. An owner
is a file (relative to the root) or `file:def`, a method of that file: a
site lies in a method when the nearest `def` above it is that one. A rule
with a `limit` speaks only about its owners and caps how often it may be
spelled there.

Prints `file:line: <rule> outside <owners>` (or `... has no owner`, or
`... spelled N times, at most M`) for every offending site and exits 1 when there is one; exits 0
when every rule holds.
"""
import os
import re
import sys

RULES = [
    # (rule, regex, owners, limit)
    ("row_number()", r"\brow_number\(\)",
     ["operators/Rankings.scala", "operators/Quantize.scala"], None),
    ("getNanos / setNanos(", r"\bgetNanos\b|\bsetNanos\(",
     ["streaming/Micros.scala"], None),
    ("conf.set(", r"\bconf\.set\(", ["Sessions.scala"], None),
    ("the 1e-6 grid literal 1000000.0", r"\b1000000\.0\b",
     ["functions/Portable.scala"], None),
    ("lit(gridScale)", r"\blit\(gridScale\)", [], None),
    # Decode slices a caller's hex payload, not an md5 digest
    ("md5 hex slicing conv(substring(", r"\bconv\(substring\(",
     ["functions/HashFns.scala", "operators/Decode.scala"], None),
    ('MessageDigest.getInstance("MD5")', r"\bMessageDigest\.getInstance\(",
     ["functions/HashExprs.scala", "operators/Multimodal.scala:gridGray",
      "functions/VectorFns.scala:signMatrix"], None),
    ("the bigram zip_with(", r"\bzip_with\(", ["operators/LanguageModel.scala"], 1),
    ("the logistic training loop", r"for \(_ <- 1 to iters\)",
     ["operators/Classifier.scala"], 1),
    # the as-of match: the merge operator, reached from AsOf and from q48;
    # the one following-rows window is matchNext, the tests' reference
    ("Window.unboundedFollowing", r"\bWindow\.unboundedFollowing\b",
     ["operators/AsOf.scala:matchNext"], None),
    ("AsOfJoinApi.asOfJoin(", r"\bAsOfJoinApi\.asOfJoin\(",
     ["operators/AsOf.scala", "queries/DerivedQueries.scala"], None),
]

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
CHAR = re.compile(r"'(\\.|[^\\'\n])'")


def blank(text):
    """`text` with comments and string-literal contents replaced by spaces
    (newlines kept, so line numbers hold)."""
    out = []
    i, n = 0, len(text)

    def keep_newlines(s):
        return "".join(c if c == "\n" else " " for c in s)

    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(keep_newlines(text[i:j]))
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(keep_newlines(text[i:j]))
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # a closing run of 4+ quotes
                j += 1
            out.append('"' + keep_newlines(text[i + 1:j - 1]) + '"')
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            out.append('"' + keep_newlines(text[i + 1:j - 1]) + '"')
            i = j
        elif CHAR.match(text, i):
            j = CHAR.match(text, i).end()
            out.append("'" + " " * (j - i - 2) + "'")
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def sites(root):
    """(relative path, line number, enclosing def, code line) of every
    Scala code line under `root`."""
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, root)
            with open(path, encoding="utf-8") as fh:
                code = blank(fh.read()).split("\n")
            enclosing = None
            for no, line in enumerate(code, 1):
                m = DEF.search(line)
                if m:
                    enclosing = m.group(1)
                yield rel, no, enclosing, line


def owned(rel, enclosing, owners):
    return any(o == rel or o == f"{rel}:{enclosing}" for o in owners)


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main/scala/graft"
    lines = list(sites(root))
    bad = []
    for rule, regex, owners, limit in RULES:
        pattern = re.compile(regex)
        hits = [(rel, no, enc) for rel, no, enc, line in lines if pattern.search(line)]
        inside = [h for h in hits if owned(h[0], h[2], owners)]
        if limit is None:
            where = "outside " + " or ".join(owners) if owners else "has no owner"
            bad += [f"{rel}:{no}: {rule} {where}"
                    for rel, no, enc in hits if not owned(rel, enc, owners)]
        elif len(inside) > limit:
            bad += [f"{rel}:{no}: {rule} spelled {len(inside)} times, at most {limit}"
                    for rel, no, _ in inside]
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
