#!/usr/bin/env python3
"""Single-value parameter audit for the Scala sources.

Lists every `def` parameter in src/main, collects the argument it gets at
every call site in src/main, src/test and perfbench/src (named, positional
or left at its default), and flags the parameters whose argument set has
one value:

  - a default-valued parameter that every caller leaves at its default;
  - a parameter that every caller sets to the same literal, directly or
    through a pass-through (the caller forwards one of its own parameters,
    whose own set is that one literal).

The parse is textual (comments blanked, brackets matched), so treat the
output as a worklist to read, not a proof. A call is attributed to the
object it names:

  - `Obj.f(...)` belongs to `Obj`'s `f` only;
  - a bare `f(...)` belongs to `Obj`'s `f` only inside the file that
    defines it (unless the enclosing top-level object defines its own
    `f`) or after an import of `Obj`'s members (`import ...Obj._`,
    `import ...Obj.{f, ...}`);
  - `x.f(...)` on a lower-case receiver (a value, a package path) may
    be any owner's `f`.

A def passed as a function value (`flatMap(f)`, `transform(Obj.f)`,
`(f _)`) counts as a call whose every argument is unknown (not a
literal).

Every flagged parameter must be on KEEP_LIST below with its reason; the
script exits 1 when one is not, and names keep-list entries that no
longer match a flagged parameter.

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
    "Sinks.indexSinkBatch(index)":
        "deployment setting: the document index a deployment writes to",
    "Sinks.consoleReport(groupCol)":
        "deployment setting: the column a console report tallies by",
    "Sources.withConstant(name)":
        "the reference injects a constant column per source (bitcoin, "
        "ethereum)",
    "Sources.withConstant(value)":
        "the reference injects both `bitcoin` and `ethereum`",
    "SimilarityJoinKernels.firstCommonBand(bandBits)":
        "test reference for firstCommonBandWords, whose band widths come "
        "from the exec's geometry",
}

DEF = re.compile(r"(?<![\w.])def\s+([A-Za-z_]\w*)\s*")
IMPORT = re.compile(r"\bimport\s+([\w.]+)\.(_|\{[^}]*\}|\w+)")
OBJ = re.compile(r"(?m)^(?:(?:private|final|case|sealed|abstract)\s+)*"
                 r"(?:object|class|trait)\s+(\w+)")
CALL = re.compile(r"(?<![\w])(?:(\w+)\s*\.\s*)?(\w+)\s*(?=\()")
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
        elif t.startswith('"""', i):
            j = t.find('"""', i + 3)
            i = n if j < 0 else j + 3
            continue
        elif t[i] == '"':
            j = i + 1
            while j < n and t[j] not in '"\n':
                j += 2 if t[j] == "\\" else 1
            i = j + 1
            continue
        else:
            i += 1
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
        ch = t[j]
        if t.startswith('"""', j):
            k = t.find('"""', j + 3)
            j = len(t) if k < 0 else k + 3
            continue
        if ch == '"':
            j += 1
            while j < len(t) and t[j] != '"':
                j += 2 if t[j] == "\\" else 1
        elif ch == o:
            depth += 1
        elif ch == c:
            depth -= 1
            if depth == 0:
                return t[i + 1:j], j + 1
        j += 1
    return t[i + 1:], len(t)


def split_top(s):
    """Top-level comma split of an argument or parameter list."""
    parts, depth, cur, j = [], 0, [], 0
    while j < len(s):
        ch = s[j]
        if ch == '"':
            k = j + 1
            while k < len(s) and s[k] != '"':
                k += 2 if s[k] == "\\" else 1
            cur.append(s[j:k + 1])
            j = k + 1
            continue
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

owners = defaultdict(set)
for p in params:
    owners[p["fn"]].add(p["obj"])

# --- call sites ---------------------------------------------------------
calls = defaultdict(list)
for sub in ("src/main", "src/test", "perfbench/src"):
    for path in scala_files(sub):
        src = Source(path)
        starts = sorted(def_starts.get(src.rel, []))

        def record(m, lists):
            k = bisect.bisect_left(starts, (m.start(),)) - 1
            calls[m.group(2)].append(dict(
                q=m.group(1), lists=lists, src=src, pos=m.start(),
                encl=src.owner(m.start()),
                caller=starts[k][1:] if k >= 0 else None))

        for m in CALL.finditer(src.t):
            name = m.group(2)
            if name not in owners or \
                    src.t[max(0, m.start(2) - 6):m.start(2)].rstrip() \
                    .endswith("def"):
                continue
            lists, j = [], m.end()
            while j < len(src.t) and src.t[j] == "(":
                inner, j = group(src.t, j, "(", ")")
                lists.append(split_top(inner))
            record(m, lists)
        for m in ETA.finditer(src.t):
            if m.group(2) in owners:
                record(m, None)


def reaches(c, p):
    """Whether call `c` can be a call of p's def (see the module doc)."""
    q = c["q"]
    if q:
        return q == p["obj"] or not q[0].isupper()
    if c["src"].rel == p["file"]:
        return c["encl"] == p["obj"] or c["encl"] not in owners[p["fn"]]
    return c["src"].imports_member(c["pos"], p["obj"], p["fn"])


def raw_values(p):
    """(value, calling def) for every call of p's def."""
    out = []
    for c in calls[p["fn"]]:
        if not reaches(c, p):
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
sys.exit(1 if unkept else 0)
