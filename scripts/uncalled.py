#!/usr/bin/env python3
"""List public Scala definitions that no program code calls.

For every public `def` and `object` in src/main, count the references to
its name in the code of src/main and perfbench/src (comments and literal
contents blanked, see strip_comments), minus its own definition sites. A name with no reference left is printed
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
    "FlowStore.maintain",          # the scheduled merge + TTL pass
    "DocJsonl",                    # the corpus-drop JSONL source and
    "DocJsonl.good",               # its clean and drop-count splits
    "DocJsonl.dropCounts",
    "MetadataCache.expireAndRefresh",  # the SNMP cache's sweep timer
    "MetadataCache.toDim",         # the broadcast dimension enrichment reads
    "Mmdb.prefixEntries",          # a GeoIP database into LPM entries
    "Schema.withConfig",           # the deployment's schema config
    "Live.tableNow",               # the RIB flush before a broadcast
    "EmbedStore.rehash",           # the width migration the advisory names
    # Test references: specs check faster paths against them, or drive the
    # durable stores' streaming entry points through kill/replay/heal.
    "Dedup.lshCandidates",
    "MediaStore.startClips",
    "SnmpCodec.getResponse",       # the agent side a spec's fake agent sends
    "Ip.compareBytes",             # the uint128 order a property spec checks
    "Schema.structType",           # the stored and rollup column sets
    "Schema.rollupStructType",     # SchemaSpec pins
    # Observables: monitoring and specs read a component's verdict here
    # instead of scraping its logs.
    "Live.rebuilds",
    "EmbedStore.lastAdvisory",
    "ConsoleApi.cacheTtls",
    # Store reads a deployment calls and no engine path does; specs pin
    # each (the exporters table's replacing read, the purge decisions
    # against their from-scratch twins).
    "FlowStore.exporters",
    "MediaStore.purge",
    "MediaStore.clipFrames",
    "EmbedStore.vectors",
    "EmbedStore.purge",
    # The offline codebook trainer the IVF and product-quantizer docs
    # name; KMeansSpec pins its Lloyd iterations.
    "KMeans.fit",
}

DEFN = re.compile(r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?|override|final|"
                  r"implicit|lazy|sealed|abstract|case)\s+)*"
                  r"(def|object|class|trait|val|var)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")
CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")


def strip_comments(text):
    """Blank out // and /* */ comments and the contents of string and
    character literals, keeping line numbers intact. A name inside a
    literal is text, not a reference: an error message that names its
    own method must not count as that method's caller. An interpolated
    string (s"", f"", raw"") keeps its `$name` and `${expr}` splices,
    which are code. A `//` inside a literal is not read as a comment."""
    out = []
    _code(text, 0, out, splice=False)
    return "".join(out)


def _blank(s):
    return "".join("\n" if c == "\n" else " " for c in s)


def _code(text, i, out, splice):
    """Copy code from `i`, blanking comments and literal contents. Inside
    a `${` splice, stop after the brace that closes it."""
    n, depth = len(text), 0
    while i < n:
        c = text[i]
        two = text[i:i + 2]
        if two == "//":
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif two == "/*":
            nest, j = 1, i + 2
            while j < n and nest:
                if text.startswith("/*", j):
                    nest, j = nest + 1, j + 2
                elif text.startswith("*/", j):
                    nest, j = nest - 1, j + 2
                else:
                    j += 1
            out.append(_blank(text[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            i = _string(text, i, out, interp)
        elif c == "'" and CHAR.match(text, i):
            m = CHAR.match(text, i)
            out.append("'" + " " * (len(m.group(0)) - 2) + "'")
            i = m.end()
        elif splice and c == "{":
            depth += 1
            out.append(c)
            i += 1
        elif splice and c == "}":
            if depth == 0:
                out.append(" ")
                return i + 1
            depth -= 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return i


def _string(text, i, out, interp):
    """Blank the string literal opening at `i` (keeping the splices of an
    interpolated one) and return the index after it."""
    n = len(text)
    q = '"""' if text.startswith('"""', i) else '"'
    out.append(q)
    j = i + len(q)
    while j < n:
        if text.startswith(q, j):
            # a triple-quoted string ends at the last quote of a run
            while len(q) == 3 and text.startswith('"', j + 3):
                out.append(" ")
                j += 1
            out.append(q)
            return j + len(q)
        c = text[j]
        if len(q) == 1 and c == "\n":  # unterminated: stop at the line end
            return j
        if len(q) == 1 and c == "\\":
            out.append(_blank(text[j:j + 2]))
            j += 2
        elif interp and c == "$" and text[j + 1:j + 2] in ("$", '"'):
            out.append("  ")
            j += 2
        elif interp and text.startswith("${", j):
            out.append("  ")
            j = _code(text, j + 2, out, splice=True)
        elif interp and c == "$" and IDENT.match(text, j + 1):
            m = IDENT.match(text, j + 1)
            out.append(" " + m.group(0))
            j = m.end()
        else:
            out.append(_blank(c))
            j += 1
    return j


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
