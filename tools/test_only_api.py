#!/usr/bin/env python3
"""Check the public API in src/main that only tests use against a keep table.

A def is test-only when it is a public `def` declared in an object, class
or trait body under src/main and its name appears nowhere outside
comments in src/main, perfbench/src or tools (this file excepted).  The
defining token itself does not count as a reference; `override` and
`implicit` defs, and members of private templates, are skipped.  Names
are matched as whole words, so an overloaded name counts as referenced
when any overload is.

KEEP below maps each test-only def that stays, as `<file stem>.<name>`,
to the one-line reason it stays.  The tool prints

    file:line name [test files naming it]

for every test-only def not in KEEP, and

    KEEP Stem.name: no longer a test-only def

for every KEEP entry that matches none, and exits 1 if it printed
anything, 0 otherwise.

Usage: python3 tools/test_only_api.py   (from the repository root)
"""

import io
import os
import re
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = "src/main"
TEST = "src/test"
USERS = ("src/main", "perfbench/src", "tools")

DEF = re.compile(
    r"^\s*((?:(?:final|override|implicit|lazy|private|protected)"
    r"(?:\[[\w.]+\])?|@[\w.]+)\s+)*def\s+([A-Za-z_]\w*)")
TEMPLATE = re.compile(r"\b(object|class|trait)\b|^\s*(extends|with)\b")


STREAM_STATE = "streaming-only semantics: "
KEEP = {
    # reference parity: the pyconnect API surface
    "Configs.fromJsonString": "reference parity (config from a JSON string)",
    "Configs.jsonFile": "reference parity (config from a JSON file)",
    "Configs.hideSensitive": "reference parity (masked config rendering)",
    "Logging.debug": "reference parity (logger level method)",
    "Logging.warn": "reference parity (logger level method)",
    "FileConnectors.forSink": "reference parity (file sink factory)",
    "FileConnectors.forSource": "reference parity (file source factory)",
    "FileConnectors.forOffsetConsumer":
        "reference parity (offset consumer factory)",
    "SchemaRegistryHttp.getById": "reference parity (registry lookup by id)",
    "Connector.statusInfo": "reference parity (connector status report)",
    # session seams
    "SqlSurface.registerTables":
        "registers a data directory's tables on a GraftExtensions session",
    "ApproxDistinctRule.enable": "switches the optimizer rule on a session",
    "ApproxDistinctRule.disable": "switches the optimizer rule off again",
    "BandedRangeJoinRule.enable": "switches the optimizer rule on a session",
    "BandedRangeJoinRule.disable": "switches the optimizer rule off again",
    "Logging.configureForTest":
        "points the log sink at a stream without touching env or JUL",
    # references the kept operators are checked against
    "StreamOps.batchTumblingCounts":
        "batch reference for the windowed stream equivalence tests",
    "TextOps.bpeTrainState":
        "sequential BPE trainer that bpeTrainBatched(k = 1) must reproduce",
    "Percentiles.contByRank":
        "whole-group PERCENTILE_CONT that contByRankSplit must match",
    "VectorOps.cosine":
        "interpreted cosine that the native graft_cosine must match",
    "Clustering.wcss":
        "Lloyd's objective that shows kMeansCentroids converges",
    "Graph.itemSimilarity":
        "its hand golden is the one exact-value check of itemSimilarityFrom",
    # operators whose body has no gated twin
    "Clustering.kMeansCentroids":
        "float Lloyd's trainer, the centroid source knnIvf and semanticDedup "
        "document; the gated kMeansShared is integer and differs in rules",
    "Dedup.embeddingNearDupPairs":
        "float-cosine hyperplane LSH, the Scala form of the SQL near-dup "
        "join over graft_hyperplane/graft_cosine",
    "ZOrder.zOrderWrite": "the only writer of the Z-ordered layout",
    "AvroStreamOps.decodeKafkaShaped":
        "decodes the Kafka (key, value) binary shape of a stream",
    # stream operators whose semantics a batch body cannot express
    "StreamOps.tumblingCounts": STREAM_STATE + "watermarked window state",
    "StreamOps.sessionCounts": STREAM_STATE + "watermarked session windows",
    "StreamOps.dedupWithinWatermark":
        STREAM_STATE + "dropDuplicatesWithinWatermark",
    "StreamOps.nearDedupWithinWatermark":
        STREAM_STATE + "dropDuplicatesWithinWatermark on a simhash key",
    "StreamOps.dedupRateStream": STREAM_STATE + "watermarked window state",
    "StreamOps.lastTouchStream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.runningUserCounts": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.hllRegistersStream": STREAM_STATE + "mapGroupsWithState",
    "StreamOps.cmsRegistersStream": STREAM_STATE + "mapGroupsWithState",
    "StreamOps.quantileSketchStream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.funnelDepthStream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.funnelWindowedStream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.scd2Stream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.arrivalGapsStream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.ewmaStream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.rollingWauStream":
        STREAM_STATE + "dropDuplicatesWithinWatermark and window state",
    "StreamOps.holtStream": STREAM_STATE + "flatMapGroupsWithState",
    "StreamOps.ohlcStream": STREAM_STATE + "watermarked window state",
    "StreamOps.peakRateStream": STREAM_STATE + "watermarked window state",
    "StreamOps.asofJoinStreamStatic":
        STREAM_STATE + "stream-static as-of join",
    "StreamOps.corpusReportStream": STREAM_STATE + "watermarked window state",
    "StreamOps.corpusPrepStream":
        STREAM_STATE + "dropDuplicatesWithinWatermark",
    "StreamOps.invIndexDeltaStream":
        STREAM_STATE + "stream-static left join; q261's full outer join "
        "cannot run on a stream",
}


def scala_code(text):
    """(code, braces): `code` is `text` with comments blanked (strings
    kept); `braces` also blanks string and char literals, for brace
    counting.  Newlines survive, so line numbers stay valid."""
    code, braces = [], []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            blank = " " * (j - i)
            code.append(blank)
            braces.append(blank)
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
            blank = re.sub(r"[^\n]", " ", text[i:j])
            code.append(blank)
            braces.append(blank)
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            code.append(text[i:j])
            braces.append(re.sub(r"[^\n]", " ", text[i:j]))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            code.append(text[i:j])
            braces.append(" " * (j - i))
            i = j
        elif c == "'" and re.match(r"'(\\.[^']*|[^'\\\n])'", text[i:i + 8]):
            j = text.index("'", i + 2) + 1
            code.append(text[i:j])
            braces.append(" " * (j - i))
            i = j
        else:
            code.append(c)
            braces.append(c)
            i += 1
    return "".join(code), "".join(braces)


def python_code(text):
    """`text` without its comments."""
    out = []
    try:
        for tok in tokenize.generate_tokens(io.StringIO(text).readline):
            if tok.type != tokenize.COMMENT:
                out.append(tok.string)
    except (tokenize.TokenError, SyntaxError):
        return text
    return " ".join(out)


def sources(top, exts):
    for d, _, files in os.walk(os.path.join(ROOT, top)):
        for f in sorted(files):
            path = os.path.join(d, f)
            if f.endswith(exts) and path != os.path.abspath(__file__):
                yield path


def code_of(path):
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    if path.endswith(".py"):
        return python_code(text), None
    return scala_code(text)


def public_defs(code, braces):
    """(line, name) of public defs that are direct members of a public
    template body (not of a block, an anonymous class or a method)."""
    # stack entry per open brace: True = public template body
    stack, out = [], []
    for lineno, (cline, bline) in enumerate(
            zip(code.split("\n"), braces.split("\n")), 1):
        m = DEF.match(cline)
        if m and stack and all(stack):
            mods = m.group(1) or ""
            if not re.search(r"\b(private|protected|override|implicit)\b",
                             mods):
                out.append((lineno, m.group(2)))
        for ch in bline:
            if ch == "{":
                template = bool(TEMPLATE.search(bline)) \
                    and "new " not in bline
                stack.append(template and "private" not in bline
                             and "protected" not in bline)
            elif ch == "}" and stack:
                stack.pop()
    return out


def words(code):
    counts = {}
    for w in re.findall(r"[A-Za-z_]\w*", code):
        counts[w] = counts.get(w, 0) + 1
    return counts


def main():
    os.chdir(ROOT)
    use = {}
    decls = []
    for top in USERS:
        for path in sources(top, (".scala", ".py")):
            code, braces = code_of(path)
            for w, k in words(code).items():
                use[w] = use.get(w, 0) + k
            if top == MAIN and braces is not None:
                for lineno, name in public_defs(code, braces):
                    decls.append((os.path.relpath(path, ROOT), lineno,
                                  name))
    ndefs = {}
    for _, _, name in decls:
        ndefs[name] = ndefs.get(name, 0) + 1
    tests = {}
    for path in sources(TEST, (".scala",)):
        for w in words(code_of(path)[0]):
            tests.setdefault(w, []).append(os.path.basename(path))
    printed = False
    test_only = set()
    for rel, lineno, name in decls:
        if use.get(name, 0) <= ndefs[name]:
            key = "%s.%s" % (os.path.splitext(os.path.basename(rel))[0],
                             name)
            test_only.add(key)
            if key not in KEEP:
                print("%s:%d %s [%s]" % (rel, lineno, name,
                                         ", ".join(tests.get(name, []))))
                printed = True
    for key in sorted(set(KEEP) - test_only):
        print("KEEP %s: no longer a test-only def" % key)
        printed = True
    return 1 if printed else 0


if __name__ == "__main__":
    sys.exit(main())
