#!/usr/bin/env python3
"""List public Scala definitions that no program code calls.

For every public `def` and `object` in src/main, count the references to
its name in the comment-stripped sources of src/main and perfbench/src,
minus its own definition sites. A name with no reference left is printed
as `path:line Owner.name`, unless the allowlist below names it (an
object is kept with its `main` or an allowed member). Specs do
not count as callers: a name only a test calls is exactly what the scan
is for.

The match is by name only. Two definitions that share a name count as
called if either is, and a name that also appears as a field or local
is counted as called. So a printed name is a candidate to check by hand,
and a silent one is not proof of a caller.

Usage, from the repository root:
    python3 scripts/uncalled.py [--root DIR]
Exit status is 1 when any name is printed, 0 otherwise.
"""
import argparse
import os
import re
import sys
from collections import Counter

# Public names kept without a program caller, each for a stated reason.
ALLOW = {
    # Deployment entry points: a deployment calls them, the engine does not.
    "Pcap.readFile",
    "DecodePipeline.pcapEnvelopes",
    "Mmdb.openFile",
    "FlowKafka.rawFlowSink",
    "FlowKafka.rawFlowSource",
    "FlowKafka.enrichedSink",
    "Lpm.fromCsv",
    # Test references: specs check faster paths against them, or drive the
    # durable stores' streaming entry points through kill/replay/heal.
    "Dedup.lshCandidates",
    "MediaStore.startClips",
}

DEFN = re.compile(r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?|override|final|"
                  r"implicit|lazy|sealed|abstract|case)\s+)*"
                  r"(def|object|class|trait|val|var)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string literals and line
    numbers intact."""
    out, i, n = [], 0, len(text)
    depth = 0
    while i < n:
        c = text[i]
        two = text[i:i + 2]
        if depth:
            if two == "/*":
                depth += 1
                i += 2
            elif two == "*/":
                depth -= 1
                i += 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(text[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif two == "//":
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif two == "/*":
            depth = 1
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(root, sub):
    for d, _, files in os.walk(os.path.join(root, sub)):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=".")
    args = ap.parse_args()

    uses = Counter()
    defs = []  # (path, line, owner, name, public, kind)
    def_sites = Counter()
    for sub in ("src/main", "perfbench/src"):
        for path in scala_files(args.root, sub):
            code = strip_comments(open(path, encoding="utf-8").read())
            uses.update(IDENT.findall(code))
            owners = []  # (indent, name)
            for no, line in enumerate(code.split("\n"), 1):
                m = DEFN.match(line)
                if not m:
                    continue
                indent, mods, kind, name = (len(m.group(1)), m.group(2) or "",
                                            m.group(3), m.group(4))
                while owners and owners[-1][0] >= indent:
                    owners.pop()
                def_sites[name] += 1
                if sub == "src/main" and kind in ("def", "object"):
                    public = not re.search(r"\b(private|protected|override)\b", mods)
                    owner = owners[-1][1] if owners else ""
                    defs.append((os.path.relpath(path, args.root), no, owner,
                                 name, public, kind))
                if kind in ("object", "class", "trait"):
                    owners.append((indent, name))

    # an object that holds a main or an allowed member is kept with it
    kept = {q.split(".")[0] for q in ALLOW}
    kept.update(owner for _, _, owner, name, _, _ in defs if name == "main")
    found = []
    for path, no, owner, name, public, kind in defs:
        qual = f"{owner}.{name}" if owner else name
        if (not public or name in ("main", "apply", "unapply") or qual in ALLOW
                or (kind == "object" and name in kept)):
            continue
        if uses[name] - def_sites[name] <= 0:
            found.append(f"{path}:{no} {qual}")
    for f in found:
        print(f)
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
