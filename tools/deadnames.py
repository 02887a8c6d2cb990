#!/usr/bin/env python3
"""Dead-member scan over src/main.

Usage: python3 tools/deadnames.py [--all]

Strips comments from every src/main/**/*.scala file, then lists each
`def`, `val`, `var`, `object`, `class` or `trait` that is neither
`override` nor plain `private` (`private[pkg]` members are scanned) and
whose name occurs exactly once in the stripped sources: the declaration
itself is its only mention, so no main code can reach it. String text is
stripped too (a name in an error message or SQL text is no use), except
the names an interpolated string splices in.

Exits 1 if a hit is not in ALLOW below (each entry states why the member
stays), and also if an ALLOW entry no longer matches a hit, so the list
cannot outlive the members it excuses. `--all` prints allowed hits too.
"""
import os
import re
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
SRC = os.path.join(ROOT, "src", "main")

# "<file stem>.<name>" -> why a member with no main-code caller stays.
ALLOW = {
    "SparkEntry.entry":
        "root: the smoke entry point, called by name from outside the repo",
    "Verify.Verify":
        "root: the correctness main that dumps every query for the DuckDB "
        "oracle",
    "Explain.Explain":
        "graft/tools root: the plan-explain main",
    "Scale.ScaleDataGen":
        "graft/tools root: the scale-slice generator main",
    "Scale.ScaleRehearsal":
        "graft/tools root: the scale-rehearsal main",
    "Raster.Raster":
        "root: the raster2points CLI main and the library API perfbench drives",
    "GeoTiffSource.GeoTiffSource":
        "data source class, loaded by name through the DataSourceRegister "
        "service file and .format(\"geotiff\")",
    "GraftFunctions.GraftExtensions":
        "registration root: loaded by name through "
        "spark.sql.extensions=graft.plans.GraftExtensions",
    "Artifacts.sessionBound":
        "test hook: ArtifactsSpec counts the session-bound entries",
    "GraftFunctions.removePlanRewrites":
        "test hook: specs uninstall the plan rewrites to compare plans",
    "SetSimilarityJoin.prefixCandidates":
        "test hook: SetSimilarityJoinSpec counts the prefix-filter "
        "candidates the join scores",
    "WatermarkDropGuard.dropped":
        "inspection hook of the guard every watermark declaration installs "
        "(WatermarkDropGuardSpec)",
    "WatermarkDropGuard.assertClean":
        "inspection hook of the guard every watermark declaration installs "
        "(WatermarkDropGuardSpec)",
    "WatermarkDropGuard.uninstall":
        "inspection hook of the guard every watermark declaration installs "
        "(WatermarkDropGuardSpec)",
    "WatermarkDropGuard.awaitQuiescence":
        "inspection hook of the guard every watermark declaration installs "
        "(WatermarkDropGuardSpec)",
    "WatermarkDropGuard.autoGuard":
        "inspection hook of the guard every watermark declaration installs "
        "(WatermarkDropGuardSpec)",
    "LshIndexStore.readAll":
        "reference IngestPipelineSpec checks the streaming ingest against; "
        "the ingest is kept for the observed-metrics work planned on it",
}

DECL = re.compile(
    r"^(?P<mods>[ \t]*(?:(?:final|sealed|abstract|implicit|lazy|case|"
    r"protected(?:\[\w+\])?|private(?:\[\w+\])?|override)\s+)*)"
    r"(?:def|val|var|object|class|trait)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)",
    re.M)
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
INTERP = re.compile(r"\$\{[^}]*\}|\$[A-Za-z_][A-Za-z0-9_]*")


def literal(text, i, j, quote):
    """A string literal text[i:j] reduced to its quotes plus, when it is
    interpolated (s"", f"", raw""), the names it splices in: a member
    named only in plain string text (an error message, SQL) is no use."""
    interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
    body = text[i + len(quote):j - len(quote)]
    kept = " ".join(INTERP.findall(body)) if interpolated else ""
    return quote + kept + "\n" * body.count("\n") + quote


def strip_comments(text):
    """Blank out // and /* */ comments (nested) and plain string text,
    keeping interpolated names and every newline so line numbers
    survive."""
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(literal(text, i, j, '"""'))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(literal(text, i, j + 1, '"'))
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or
                                         (text[i + 1] == "\\" and i + 3 < n)):
            j = text.find("'", i + 2 if text[i + 1] != "\\" else i + 3)
            out.append("' '")
            i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scan():
    files = {}
    for d, _, names in os.walk(SRC):
        for f in sorted(names):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    files[p] = strip_comments(fh.read())
    counts = {}
    for text in files.values():
        for w in WORD.findall(text):
            counts[w] = counts.get(w, 0) + 1
    hits = []
    for p, text in sorted(files.items()):
        stem = os.path.splitext(os.path.basename(p))[0]
        for m in DECL.finditer(text):
            mods = m.group("mods").split()
            if "override" in mods or "private" in mods:
                continue
            name = m.group("name")
            if counts.get(name, 0) == 1:
                line = text.count("\n", 0, m.start("name")) + 1
                hits.append((f"{stem}.{name}",
                             f"{os.path.relpath(p, ROOT)}:{line}"))
    return hits


def main(argv):
    show_all = "--all" in argv
    hits = scan()
    bad = [(k, where) for k, where in hits if k not in ALLOW]
    stale = sorted(set(ALLOW) - {k for k, _ in hits})
    for k, where in hits:
        if k in ALLOW and show_all:
            print(f"allowed {where} {k}: {ALLOW[k]}")
    for k, where in bad:
        print(f"DEAD {where} {k}")
    for k in stale:
        print(f"STALE allow-list entry {k}: no longer a one-mention member")
    print(f"{len(hits)} one-mention members, {len(bad)} not allowed, "
          f"{len(stale)} stale allow-list entries")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
