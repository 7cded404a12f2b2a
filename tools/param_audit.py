#!/usr/bin/env python3
"""Single-value parameter audit and caller audit for the Scala sources.

Parameter audit: lists every `def` parameter in src/main, collects the
argument it gets at every call site in src/main, src/test and
perfbench/src (named, positional or left at its default), and flags the
parameters whose argument set has one value:

  - a default-valued parameter that every caller leaves at its default;
  - a parameter that every caller sets to the same literal, directly or
    through a pass-through (the caller forwards one of its own parameters,
    whose own set is that one literal).

Caller audit: lists every `def`, `class`, `object` and `trait` of
src/main that is a member of a type body or a top-level type, is not
`override` and not plain `private`/`protected`, and that nothing in
src/main or perfbench/src mentions (tests do not count). A mention
inside the member's own text is recursion, not a caller; an `apply` or
`unapply` is used through its owner's name; an object holding a
mentioned or kept member is used through it; a `main` is called by the
launcher, and a class named in a src/main/resources file (a
ServiceLoader registration) is used by its loader.

The parse is textual (comments blanked, brackets matched), so treat the
output as a worklist to read, not a proof. A call or mention is
attributed to the object it names:

  - `Obj.f` belongs to `Obj`'s `f` only (or to `f` of a type nested in
    `Obj`);
  - a bare `f` belongs to `Obj`'s `f` only inside the file that
    defines it (unless the enclosing top-level object defines its own
    `f`) or after an import of `Obj`'s members (`import ...Obj._`,
    `import ...Obj.{f, ...}`);
  - `x.f` on a lower-case receiver (a value, a package path) or on an
    expression (`g(y).f`) may be any owner's `f`.

A def passed as a function value (`flatMap(f)`, `transform(Obj.f)`,
`(f _)`) counts as a call whose every argument is unknown (not a
literal).

Every flagged parameter must be on KEEP_LIST and every unmentioned
member on CALLER_KEEP, each with its reason. The script exits 1 when one
is not, or when an entry of either list no longer matches a hit (a stale
entry).

Usage: python3 tools/param_audit.py [repo-root]
"""
import bisect
import os
import re
import sys
from collections import defaultdict

root = sys.argv[1] if len(sys.argv) > 1 else "."

# Parameters that stay settable although every call site in the tree
# passes one literal (or leaves one default): "Obj.f(param)" -> reason.
KEEP_LIST = {
    "GraftKafkaTestSource.publish(key)":
        "perfbench compiles against it; a Kafka record key is a producer "
        "setting",
    "KafkaSource.stream(minPartitions)":
        "perfbench compiles against it; a Kafka deployment option",
    "StreamingJobs.startDetection(trigger)":
        "deployment setting: tests pass 1 s, the reference triggers every "
        "60 s",
    "StreamingJobs.startSessions(trigger)":
        "deployment setting: tests pass 1 s, the reference triggers every "
        "60 s",
    "StreamingJobs.startDedup(trigger)":
        "deployment setting: tests pass 1 s, the reference triggers every "
        "60 s",
    "Sinks.ensureIndex(name)":
        "deployment setting: the document index a deployment writes to",
    "Sinks.consoleReport(groupCol)":
        "deployment setting: the column a console report tallies by",
    "SimilarityJoinKernels.firstCommonBand(bandBits)":
        "test reference for firstCommonBandWords, whose band widths come "
        "from the exec's geometry",
}

# Public defs, classes and objects of src/main that nothing in src/main
# or perfbench/src references, kept on purpose: "Obj.name" -> reason.
CALLER_KEEP = {
    # reference entry points: a deployment starts or calls these
    "BatchJobs.runAll":
        "reference entry point: every report job in one call, as the "
        "reference's batch suite runs them",
    "StreamingJobs.startDetection":
        "reference entry point: the job1 bot-detection topology",
    "StreamingJobs.startSessions":
        "reference entry point: the job4 session-tracking topology",
    "StreamingJobs.startDedup":
        "reference entry point: the job5 stream-hygiene topology",
    "Sources.csvHeaderless":
        "reference source S4: headerless CSV with positional names",
    "Sources.csvQuarantine":
        "reference source S5: PERMISSIVE CSV with a dead-letter column",
    "Replay.rateLimited":
        "reference source S8: the producer replay at a fixed rate",
    "KafkaSource.events":
        "reference source S1: the decoded event stream from Kafka",
    "Sinks.consoleReport":
        "reference sink K2: the per-batch console report callback",
    "Sinks.indexSinkPartitions":
        "reference sink K3: executor-side document indexing",
    "Sinks.FileIndexSink":
        "reference sink K3: the durable backend of indexSinkPartitions",
    "Sinks.IndexSink.ensureIndex":
        "reference sink K4: the out-of-band index mapping bootstrap",
    "Sinks.awaitAny":
        "reference sink K7: block until any query of a fan-out stops",
    "TextFunctions.parsePseudoList":
        "reference parity parser of the stringified list columns",
    "TextFunctions.stripEmoji":
        "reference parity emoji stripping before location matching",
    "Tables.events":
        "one accessor per table: the catalog reads events through "
        "Queries.events, and Tables stays the full table set",
    # test references: the plain form a fused or bounded path must equal
    "Graphs.kcore":
        "test reference: the unbounded peel kcoreBounded must equal",
    "TweetAlerts.imbalanceAlerts":
        "test reference: SQ2 alone, against the fused detector pass",
    "TweetAlerts.emptyDescriptionAlerts":
        "test reference: SQ3 alone, against the fused detector pass",
    "TweetAlerts.newAccountAlerts":
        "test reference: SQ4 alone, against the fused detector pass",
    "SimilarityJoinKernels.signature":
        "test reference: the per-row band signature the exec packs",
    "SimilarityJoinKernels.firstCommonBand":
        "test reference: the scalar form of firstCommonBandWords",
    "Privacy.generalizeToK":
        "the generalization walk whose chosen step the catalog's "
        "generalizationAudit reports and tests pin",
    # streaming twins of catalog queries, each with its own logic
    "CdcStream.maintain": "streaming twin of the CDC MERGE (q165)",
    "CdcStream.readSnapshot": "streaming twin of the CDC MERGE (q165)",
    "CdcStream.vacuum": "streaming twin of the CDC MERGE (q165)",
    "PairTableStream.maintain": "streaming twin of the pair table (q116)",
    "PairTableStream.readForKey": "streaming twin of the pair table (q116)",
    "QualityMonitor.maintain": "streaming twin of the quality monitors",
    "QualityMonitor.report": "streaming twin of the quality monitors",
    "QualityMonitor.batchReport": "streaming twin of the quality monitors",
    "SearchIngest.ingest": "streaming twin of the search index (q160)",
    "SearchIngest.docLens": "streaming twin of the search index (q160)",
    "TrendIngest.ingest": "streaming twin of the trend build (q180)",
    "TrendIngest.serveTopK": "streaming twin of the trend build (q180)",
    "ScdAsof.asofEnrichScdState":
        "streaming twin of the as-of SCD queries, keyed-state regime",
    "StreamOps.asofEnrichScd":
        "streaming twin of the as-of SCD queries, broadcast regime",
    "StreamOps.scd2Stream": "streaming twin of the SCD2 build (q154)",
    "StreamOps.funnelStream": "streaming twin of the ordered funnel",
    "StreamOps.observed":
        "the per-batch metric set a streaming topology observes",
    "StreamOps.purchaseAttribution":
        "the inner interval join; the catalog replays its outer twin",
    "Sinks.vectorIngest":
        "streaming twin of the vector index append (q138)",
    "StateStores.useRocksDb":
        "RocksDB state for large-keyspace stateful queries",
    "Multimodal.extractFeatures":
        "the partition-batched media feature pass, the codec seam",
    "Multimodal.fromBinary":
        "documents into the media schema that extractFeatures reads",
    # scale-path layouts: no sf-size query needs them
    "Writers.rangeClusteredParquet":
        "scale-path layout: one key range per file",
    "Writers.zorderedParquet":
        "scale-path layout: two-column Z-order clustering",
    "ZOrderExpressions.quant16":
        "scale-path layout: the 16-bit grid zorderedParquet needs",
    "FileManifest.prunedRead":
        "scale-path read: footer-stats file skipping",
    "Skew.saltedJoin":
        "scale-path join: a salted hot key AQE cannot split",
    # the crash-safe compaction API: a caller runs each phase itself
    "Compaction.recover": "crash-safe compaction: restart recovery",
    "PendingCompaction.commit":
        "crash-safe compaction: the deferred commit phase",
    "CdcStream.compactCurrentDeferred":
        "crash-safe compaction of the CDC current table, commit deferred",
    "VectorIndex.compactWrite":
        "crash-safe compaction of the vector index's assignments",
}

DEF = re.compile(r"(?<![\w.])def\s+([A-Za-z_]\w*)\s*")
IMPORT = re.compile(r"\bimport\s+([\w.]+)\.(_|\{[^}]*\}|\w+)")
OBJ = re.compile(r"(?m)^(?:(?:private(?:\[\w+\])?|final|case|sealed|abstract)\s+)*"
                 r"(?:object|class|trait)\s+(\w+)")
CALL = re.compile(r"(?<![\w])(\w+)\s*(?=\()")
# a def passed as a function value: a whole argument `f`, `Obj.f`, `f _`
ETA = re.compile(r"(?<=[(,])\s*(?:(\w+)\s*\.\s*)?([A-Za-z_]\w*)"
                 r"(?:\s+_)?\s*(?=[,)])")
PARAM = re.compile(
    r"(?:val\s+|var\s+)?(\w+)\s*:\s*((?:[^=]|=>)+?)(?:=(?!>)\s*(.+))?$", re.S)
NAMED = re.compile(r"(\w+)\s*=(?![=>])\s*(.+)$", re.S)
NUM = r"-?[\d.]+[LDdf]?"
LITERAL = re.compile(
    rf'^({NUM}(\s*(<<|\*)\s*{NUM})*|"[^"]*"|true|false|None)$')


def scala_files(sub):
    for dp, _, fs in os.walk(os.path.join(root, sub)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(dp, f)


def literal_end(t, i):
    """Index after the string or char literal starting at `t[i]`, or None
    when none starts there. A triple-quoted string ends at the last quote
    of the run that closes it (`s\"\"\""a"\"\"\"` holds `"a"`)."""
    n = len(t)
    if t.startswith('"""', i):
        k = t.find('"""', i + 3)
        if k < 0:
            return n
        while k + 3 < n and t[k + 3] == '"':
            k += 1
        return k + 3
    if t[i] == '"':
        j = i + 1
        while j < n and t[j] not in '"\n':
            j += 2 if t[j] == "\\" else 1
        return j + 1
    if t[i] == "'" and i + 2 < n:
        if t[i + 1] == "\\":
            k = t.find("'", i + 2)
            return n if k < 0 else k + 1
        if t[i + 2] == "'":
            return i + 3
    return None


def blank_comments(t):
    """`t` with comments replaced by spaces (offsets and lines kept)."""
    out, i, n = list(t), 0, len(t)
    while i < n:
        if t.startswith("//", i):
            j = t.find("\n", i)
            j = n if j < 0 else j
        elif t.startswith("/*", i):
            j = t.find("*/", i + 2)
            j = n if j < 0 else j + 2
        else:
            i = literal_end(t, i) or i + 1
            continue
        for k in range(i, j):
            if t[k] != "\n":
                out[k] = " "
        i = j
    return "".join(out)


def group(t, i, o, c):
    """t[i] == o: (text inside the matching bracket, index after it)."""
    depth, j = 0, i
    while j < len(t):
        end = literal_end(t, j)
        if end:
            j = end
            continue
        if t[j] == o:
            depth += 1
        elif t[j] == c:
            depth -= 1
            if depth == 0:
                return t[i + 1:j], j + 1
        j += 1
    return t[i + 1:], len(t)


def split_top(s):
    """Top-level comma split of an argument or parameter list."""
    parts, depth, cur, j = [], 0, [], 0
    while j < len(s):
        end = literal_end(s, j)
        if end:
            cur.append(s[j:end])
            j = end
            continue
        ch = s[j]
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        j += 1
    if "".join(cur).strip():
        parts.append("".join(cur))
    return [p.strip() for p in parts]


class Source:
    def __init__(self, path):
        self.rel = os.path.relpath(path, root)
        self.t = blank_comments(open(path).read())
        self.nl = [i for i, ch in enumerate(self.t) if ch == "\n"]
        om = list(OBJ.finditer(self.t))
        self.opos = [m.start() for m in om]
        self.onames = [m.group(1) for m in om]
        # (position, object, imported member names or None for `_`)
        self.imports = []
        for m in IMPORT.finditer(self.t):
            sel = m.group(2)
            names = None if sel == "_" else {
                n.split("=>")[0].strip() for n in sel.strip("{}").split(",")}
            if names is not None and "_" in names:
                names = None
            self.imports.append((m.start(), m.group(1).split(".")[-1], names))

    def imports_member(self, pos, obj, name):
        """Whether `obj`'s member `name` is imported before `pos`."""
        return any(ip < pos and o == obj and (ns is None or name in ns)
                   for ip, o, ns in self.imports)

    def line(self, pos):
        return bisect.bisect_right(self.nl, pos) + 1

    def owner(self, pos):
        k = bisect.bisect_right(self.opos, pos) - 1
        return self.onames[k] if k >= 0 else "?"


# --- parameters: (obj, def, list index, position, name, default) --------
params = []
def_starts = defaultdict(list)  # file -> [(pos, obj, def)]
for path in scala_files("src/main"):
    src = Source(path)
    for m in DEF.finditer(src.t):
        if "override" in src.t[max(0, m.start() - 12):m.start()]:
            continue
        name, j = m.group(1), m.end()
        if j < len(src.t) and src.t[j] == "[":
            _, j = group(src.t, j, "[", "]")
        obj = src.owner(m.start())
        def_starts[src.rel].append((m.start(), obj, name))
        li = 0
        while True:
            k = j
            while k < len(src.t) and src.t[k] in " \n":
                k += 1
            if k >= len(src.t) or src.t[k] != "(":
                break
            inner, j = group(src.t, k, "(", ")")
            if not inner.strip().startswith("implicit"):
                for pi, p in enumerate(split_top(inner)):
                    pm = PARAM.match(p)
                    if pm:
                        params.append(dict(
                            obj=obj, fn=name, li=li, pi=pi, name=pm.group(1),
                            default=(pm.group(3) or "").strip() or None,
                            file=src.rel,
                            where=f"{src.rel}:{src.line(m.start())}"))
            li += 1

# name -> the top-level objects that define a def of that name
owners = defaultdict(set)
for rel, starts in def_starts.items():
    for _, obj, name in starts:
        owners[name].add(obj)


def prev(t, pos):
    """Index of the last non-blank character before `pos` (-1 if none)."""
    pos -= 1
    while pos >= 0 and t[pos].isspace():
        pos -= 1
    return pos


def receiver(t, pos):
    """What the name at `pos` is selected from: the word before its `.`,
    "<expr>" after `).`-style chains, or None for a bare name."""
    dot = prev(t, pos)
    if dot < 0 or t[dot] != ".":
        return None
    end = prev(t, dot) + 1
    start = end
    while start > 0 and (t[start - 1].isalnum() or t[start - 1] == "_"):
        start -= 1
    return t[start:end] if start < end else "<expr>"


def attributed(recv, src, pos, chain, def_file, name):
    """Whether a mention of `name` at `pos` of `src`, selected from
    `recv`, can be the member `name` of the type `chain` (outermost
    first) defined in `def_file` (see the module doc)."""
    if recv:
        return recv in chain or not recv[0].isupper()
    if src.rel == def_file:
        encl = src.owner(pos)
        return encl == chain[0] or encl not in owners[name]
    return any(src.imports_member(pos, o, name) for o in chain)

# --- call sites ---------------------------------------------------------
calls = defaultdict(list)
for sub in ("src/main", "src/test", "perfbench/src"):
    for path in scala_files(sub):
        src = Source(path)
        starts = sorted(def_starts.get(src.rel, []))

        def record(name, q, pos, lists):
            k = bisect.bisect_left(starts, (pos,)) - 1
            calls[name].append(dict(
                q=q, lists=lists, src=src, pos=pos,
                caller=starts[k][1:] if k >= 0 else None))

        for m in CALL.finditer(src.t):
            name = m.group(1)
            if name not in owners or \
                    src.t[max(0, m.start() - 6):m.start()].rstrip() \
                    .endswith("def"):
                continue
            lists, j = [], m.end()
            while j < len(src.t) and src.t[j] == "(":
                inner, j = group(src.t, j, "(", ")")
                lists.append(split_top(inner))
            record(name, receiver(src.t, m.start()), m.start(), lists)
        for m in ETA.finditer(src.t):
            if m.group(2) in owners:
                record(m.group(2), m.group(1), m.start(2), None)


def raw_values(p):
    """(value, calling def) for every call of p's def."""
    out = []
    for c in calls[p["fn"]]:
        if not attributed(c["q"], c["src"], c["pos"], [p["obj"]],
                          p["file"], p["fn"]):
            continue
        if c["lists"] is None:  # passed as a function value
            out.append(("<eta>", c["caller"]))
            continue
        if p["li"] >= len(c["lists"]):
            out.append(("<default>" if p["default"] else "<unapplied>",
                        c["caller"]))
            continue
        named, pos = {}, []
        for a in c["lists"][p["li"]]:
            nm = NAMED.match(a)
            if nm and not a.startswith("("):
                named[nm.group(1)] = nm.group(2).strip()
            else:
                pos.append(a)
        if p["name"] in named:
            v = named[p["name"]]
        elif p["pi"] < len(pos):
            v = pos[p["pi"]]
        else:
            v = "<default>" if p["default"] else "<unresolved>"
        out.append((re.sub(r"\s+", " ", v), c["caller"]))
    return out


by_def = defaultdict(dict)
for p in params:
    by_def[(p["obj"], p["fn"])][p["name"]] = p


def resolved(p, seen=()):
    """p's argument set, pass-throughs replaced by the forwarded set."""
    vals = set()
    for v, caller in raw_values(p):
        fwd = by_def.get(caller, {}).get(v) if caller else None
        if fwd is not None and id(fwd) not in seen:
            vals |= resolved(fwd, seen + (id(p),))
        else:
            vals.add(v)
    return vals


n_default, left_default, one_literal = 0, [], []
for p in params:
    direct = {v for v, _ in raw_values(p)}
    vals = resolved(p)
    if p["default"] is not None:
        n_default += 1
    if p["default"] is not None and direct == {"<default>"}:
        left_default.append(p)
    elif len(vals) == 1 and LITERAL.match(next(iter(vals))):
        one_literal.append((p, next(iter(vals)), direct != vals))

def key(p):
    return f"{p['obj']}.{p['fn']}({p['name']})"


def mark(p):
    return "kept" if key(p) in KEEP_LIST else "NOT KEPT"


print(f"default-valued parameters: {n_default}")
print(f"default-valued, every caller leaves the default: {len(left_default)}")
for p in left_default:
    print(f"  [{mark(p)}] {p['where']} {p['obj']}.{p['fn']}"
          f"({p['name']} = {p['default']})")
print(f"one literal at every call site: {len(one_literal)}")
for p, v, through in one_literal:
    via = " (through a pass-through)" if through else ""
    print(f"  [{mark(p)}] {p['where']} {key(p)} = {v}{via}")

flagged = [p for p in left_default] + [p for p, _, _ in one_literal]
unkept = [key(p) for p in flagged if key(p) not in KEEP_LIST]
stale = sorted(set(KEEP_LIST) - {key(p) for p in flagged})
for k in stale:
    print(f"keep-list entry matches no flagged parameter: {k}")
print(f"flagged: {len(flagged)}, on the keep-list: "
      f"{len(flagged) - len(unkept)}, not kept: {len(unkept)}")


# --- caller audit -------------------------------------------------------
MEMBER = re.compile(r"(?<![\w.])(def|object|class|trait)\s+([A-Za-z_]\w*)")
NOT_PUBLIC = re.compile(r"\boverride\b|\b(private|protected)\b(?!\[)")
HEAD = re.compile(r"\b(def|object|class|trait|new)\b\s*(\w*)")
WORD = re.compile(r"(?<![\w$])[A-Za-z_]\w*")


def frames(t):
    """The brace spans of `t`: [start, end, name] per `{`, name the type
    whose body it opens, or None for a brace that opens no public class,
    object or trait body (a def body, a block, an anonymous class, a
    private type)."""
    out, stack, last, i, n = [], [], 0, 0, len(t)
    while i < n:
        end = literal_end(t, i)
        if end:
            i = end
            continue
        ch = t[i]
        if ch == "{":
            heads = list(HEAD.finditer(t, last, i))
            name = heads[-1].group(2) if heads and heads[-1].group(1) in (
                "object", "class", "trait") else None
            if name and NOT_PUBLIC.search(
                    t[t.rfind("\n", 0, heads[-1].start()) + 1:
                      heads[-1].start()]):
                name = None  # a private type's members are private
            stack.append([i, n, name])
            out.append(stack[-1])
            last = i + 1
        elif ch == "}":
            if stack:
                stack.pop()[1] = i
            last = i + 1
        elif ch == ";":
            last = i + 1
        i += 1
    return out


def chain_at(spans, pos):
    """Names of the braces enclosing `pos`, outermost first."""
    return [s[2] for s in spans if s[0] < pos < s[1]]


class Entity:
    def __init__(self, src, m, chain):
        self.src, self.pos, self.kind = src, m.start(2), m.group(1)
        self.name, self.chain = m.group(2), chain
        self.key = ".".join(chain + [self.name])
        self.refs = []


# entities: every def, class, object and trait of src/main that is a
# member of a type body (not a local def) and neither `override` nor
# plain `private`/`protected` (qualified `private[pkg]` is audited: it
# is visible to the whole package)
entities, by_name, def_pos = [], defaultdict(list), defaultdict(set)
sources = {}
for sub in ("src/main", "perfbench/src"):
    for path in scala_files(sub):
        src = Source(path)
        src.spans = frames(src.t)
        sources[src.rel] = src
        for m in MEMBER.finditer(src.t):
            def_pos[src.rel].add(m.start(2))
            if sub != "src/main":
                continue
            chain = chain_at(src.spans, m.start())
            if None in chain:
                continue
            line_start = src.t.rfind("\n", 0, m.start()) + 1
            mods = src.t[line_start:m.start()]
            if NOT_PUBLIC.search(mods):
                continue
            e = Entity(src, m, chain)
            entities.append(e)
            by_name[e.name].append(e)


SIBLING = re.compile(r"(?<![\w.])(def|val|var|object|class|trait|type)\s")


def innermost(spans, pos):
    inside = [s for s in spans if s[0] < pos < s[1]]
    return max(inside, key=lambda s: s[0]) if inside else None


# an entity's own text runs from its name to the next member of the same
# body (or the body's end): a mention in there is recursion, not a caller
for e in entities:
    frame = innermost(e.src.spans, e.pos)
    e.end = frame[1] if frame else len(e.src.t)
    for m in SIBLING.finditer(e.src.t, e.pos):
        if m.start() >= e.end:
            break
        if innermost(e.src.spans, m.start()) is frame:
            e.end = m.start()
            break


def refers(e, src, pos, recv):
    """Whether the word at `pos` in `src` can name entity `e`."""
    if src is e.src and e.pos <= pos < e.end:
        return False
    if not e.chain:  # a top-level type: any unqualified or package mention
        return recv is None or not recv[0].isupper()
    return attributed(recv, src, pos, e.chain, e.src.rel, e.name)


for src in sources.values():
    t = src.t
    for m in WORD.finditer(t):
        name = m.group(0)
        if name not in by_name or m.start() in def_pos[src.rel]:
            continue
        after = t[m.end():m.end() + 3].lstrip()
        if after.startswith("=") and not after.startswith(("==", "=>")) \
                and t[prev(t, m.start())] in "(,":
            continue  # a named argument
        recv = receiver(t, m.start())
        for e in by_name[name]:
            if refers(e, src, m.start(), recv):
                e.refs.append(f"{src.rel}:{src.line(m.start())}")

# a ServiceLoader registration names its class in a resource file
for dp, _, fs in os.walk(os.path.join(root, "src/main/resources")):
    for f in fs:
        for w in re.findall(r"\w+", open(os.path.join(dp, f)).read()):
            for e in by_name.get(w, []):
                if not e.chain:
                    e.refs.append(os.path.relpath(os.path.join(dp, f), root))

# a `main` is called by the JVM launcher, and makes its object an entry
for e in entities:
    if e.kind == "def" and e.name == "main" and len(e.chain) == 1:
        e.refs.append("<launcher>")
        for o in entities:
            if not o.chain and o.name == e.chain[0]:
                o.refs.append("<launcher>")

# `apply`/`unapply` are called through their owner's name; an object
# holding a referenced or kept member is referenced through it
for e in sorted(entities, key=lambda e: -len(e.chain)):
    owner = ".".join(e.chain)
    if e.refs or e.key in CALLER_KEEP:
        for o in entities:
            if o.key == owner and e.name not in ("apply", "unapply"):
                o.refs.append(f"<member {e.name}>")
for e in entities:
    if e.name in ("apply", "unapply") and not e.refs:
        if any(o.key == ".".join(e.chain) and o.refs for o in entities):
            e.refs.append("<owner>")

used = {e.key for e in entities if e.refs}  # any overload
uncalled = sorted({e.key: e for e in entities
                   if e.key not in used}.values(),
                  key=lambda e: (e.src.rel, e.pos))
keys = {e.key for e in uncalled}
uncalled_kept = [e for e in uncalled if e.key in CALLER_KEEP]
print(f"public defs, classes and objects in src/main: {len(entities)}")
print(f"referenced nowhere in src/main or perfbench/src: {len(uncalled)}")
for e in uncalled:
    mark_c = "kept" if e.key in CALLER_KEEP else "NOT KEPT"
    print(f"  [{mark_c}] {e.src.rel}:{e.src.line(e.pos)} {e.kind} {e.key}")
stale_c = sorted(set(CALLER_KEEP) - keys)
for k in stale_c:
    print(f"caller keep-list entry matches no uncalled entity: {k}")
print(f"uncalled: {len(uncalled)}, on the keep-list: {len(uncalled_kept)}, "
      f"not kept: {len(uncalled) - len(uncalled_kept)}")
sys.exit(1 if unkept or stale or stale_c
         or len(uncalled) > len(uncalled_kept) else 0)
