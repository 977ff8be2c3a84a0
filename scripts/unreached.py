#!/usr/bin/env python3
"""List the public graft.* methods that no production entry point reaches.

    sbt compile && python3 scripts/unreached.py [--defaults] [classes_dir]

Disassembles every class under classes_dir (default
target/scala-2.13/classes) with the JDK's `javap -c -p`, builds a call graph
from the invoke instructions, and walks it from the production roots:

  * every method of SparkEntry, Bench, Verify, QueryProbe, PlanAudit,
    GraftExtensions and SmokeMain (and their nested classes); the six
    query-family objects (TsQueries ... RelQueries) are reached through
    SparkEntry's registry, which calls each family's `queries`;
  * every graft method the benchmark sources under perfbench/scala name:
    `Object.method` on an imported graft object, `new Class(...)`, and any
    method of an imported graft class called as `.method`.

A reached method reaches what it invokes, the lambda bodies it defines
(`$anonfun$<method>$N`), and every method of a class it instantiates with
`new` (Spark calls an Expression's methods by virtual dispatch). A call on a
class that inherits the method reaches the inherited definition.

Prints one line per public method that stays unreached (`Owner.method`), or
one `Owner.*` line for a class none of whose methods is reached; Scala
synthetics (case-class members, default-argument getters, static
forwarders, accessors of case-class fields) are left out. ScaleSmoke and
the test specs are not roots, so a def only they call is listed.

With --defaults it lists instead each default parameter of a reached public
method that no reached call site sets (`Owner.method(param)`): a call that
omits argument N also invokes the getter `method$default$N`, so N is unset
when every reached call of the method comes with a call of that getter. A
method the benchmark sources call counts as setting every parameter.
"""
import collections
import os
import re
import subprocess
import sys

ROOTS = ("SparkEntry", "Bench", "Verify", "QueryProbe", "PlanAudit",
         "GraftExtensions", "SmokeMain")
CASE_SYNTHETICS = {
    "copy", "productArity", "productElement", "productPrefix",
    "productIterator", "productElementName", "productElementNames",
    "canEqual", "equals", "hashCode", "toString", "apply", "unapply",
    "tupled", "curried", "readResolve", "writeReplace", "fromProduct",
}

HEADER = re.compile(r"^(?:[a-z]+ )*(?:class|interface) ([\w.$]+)(.*) \{$")
METHOD = re.compile(r"^  ([\w .$<>,\[\]?]*?)([\w$<>]+)\([^)]*\)(?: throws [\w.$, ]+)?;$")
FIELD = re.compile(r"^  [\w .$<>,\[\]?]*? ([\w$]+);$")
CALL = re.compile(r"// (?:Interface)?Method (?:([\w/$]+)\.)?(\"?[\w$<>]+\"?):")
NEW = re.compile(r"// class ([\w/$]+)$")
MODULE = re.compile(r"// Field ([\w/$]+\$)\.MODULE\$:")
DEFAULT = re.compile(r"^(.+)\$default\$(\d+)$")
LOCAL = re.compile(r"^\s+(\d+)\s+\d+\s+(\d+)\s+([\w$]+)\s+\S+$")


def strip_generics(s):
    while "<" in s:
        s = re.sub(r"<[^<>]*>", "", s)
    return s


def load(classes_dir, params=False):
    files = []
    for dirpath, _, names in os.walk(os.path.join(classes_dir, "graft")):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".class")]
    classes = {}
    for i in range(0, len(files), 200):
        flags = ["-c", "-p"] + (["-l"] if params else [])
        out = subprocess.run(["javap"] + flags + files[i:i + 200],
                             capture_output=True, text=True, check=True).stdout
        cls = meth = None
        for line in out.splitlines():
            v = LOCAL.match(line)
            if v and meth is not None:
                if v.group(1) == "0":  # a parameter: in scope from pc 0
                    meth["params"].append((int(v.group(2)), v.group(3)))
                continue
            h = HEADER.match(line)
            if h:
                name = h.group(1).replace(".", "/")
                rest = re.sub(r"\b(extends|implements)\b", ",", strip_generics(h.group(2)))
                supers = [s.strip().replace(".", "/") for s in rest.split(",") if s.strip()]
                cls = classes[name] = {"supers": supers, "methods": {}, "fields": set()}
                meth = None
                continue
            if cls is None:
                continue
            m = METHOD.match(line)
            if m:
                mods, mname = m.group(1), m.group(2)
                if mname == name.rsplit("/", 1)[-1].replace("$", "."):
                    mname = "<init>"
                meth = cls["methods"].setdefault(mname, {
                    "public": "public" in mods.split(), "static": "static" in mods.split(),
                    "calls": collections.Counter(), "news": set(),
                    "modules": set(), "params": []})
                continue
            f = FIELD.match(line)
            if f and meth is None:
                cls["fields"].add(f.group(1))
                continue
            if meth is None:
                continue
            c = CALL.search(line)
            if c:
                owner = c.group(1) or name
                meth["calls"][(owner, c.group(2).strip('"'))] += 1
            elif re.search(r"\bnew\b", line):
                n = NEW.search(line)
                if n:
                    meth["news"].add(n.group(1))
            mo = MODULE.search(line)
            if mo:
                meth["modules"].add(mo.group(1))
    return classes


def perfbench_roots(classes, src_dir):
    text = ""
    for dirpath, _, names in os.walk(src_dir):
        for n in names:
            if n.endswith(".scala"):
                with open(os.path.join(dirpath, n)) as fh:
                    text += fh.read() + "\n"
    imported = set()
    for pkg, names in re.findall(r"import (graft[\w.]*)\.(\{[^}]*\}|\w+)", text):
        for n in names.strip("{}").split(","):
            imported.add(pkg.replace(".", "/") + "/" + n.strip())
    roots = set()
    dotted = set(re.findall(r"\.(\w+)", text))
    for cls in imported:
        mod = cls + "$"
        for obj_method in re.findall(r"\b%s\.(\w+)" % re.escape(cls.rsplit("/", 1)[-1]), text):
            roots.add((mod, obj_method))
        if re.search(r"\bnew %s\b" % re.escape(cls.rsplit("/", 1)[-1]), text):
            roots.add(("new", cls))
        for c in (cls, mod):
            for mname in classes.get(c, {}).get("methods", {}):
                if mname in dotted:
                    roots.add((c, mname))
    return roots


def resolve(classes, owner, name):
    # the classes that define `name`, searching owner then its supertypes
    seen, todo = set(), [owner]
    while todo:
        c = todo.pop(0)
        if c in seen or c not in classes:
            continue
        seen.add(c)
        if name in classes[c]["methods"]:
            yield c
        todo += classes[c]["supers"]


def walk(classes, roots):
    reached, instantiated = set(), set()
    stack = list(roots)

    def ancestors(c):
        out, todo = set(), list(classes.get(c, {}).get("supers", []))
        while todo:
            s = todo.pop()
            if s in classes and s not in out:
                out.add(s)
                todo += classes[s]["supers"]
        return out

    def overrides(c):
        names = set()
        for a in ancestors(c):
            names |= set(classes[a]["methods"])
        return [(c, m) for m in classes[c]["methods"] if m in names]

    while stack:
        item = stack.pop()
        if item[0] == "new":
            c = item[1]
            if c in instantiated or c not in classes:
                continue
            instantiated.add(c)
            stack += [(c, m) for m in classes[c]["methods"]]
            stack += [(a, m) for a in ancestors(c) for m in classes[a]["methods"]]
            continue
        if item[0] == "module":
            c = item[1]
            if c in instantiated or c not in classes:
                continue
            instantiated.add(c)
            stack += [(c, "<clinit>"), (c, "<init>")] + overrides(c)
            continue
        owner, name = item
        for c in resolve(classes, owner, name):
            if (c, name) in reached:
                continue
            reached.add((c, name))
            m = classes[c]["methods"][name]
            stack += list(m["calls"])
            # an object's own initializer instantiates it; that is module
            # access, not a `new` that Spark could dispatch into
            for n in m["news"] | m["modules"]:
                stack.append(("module", n) if n.endswith("$") else ("new", n))
            base = "new" if name in ("<init>", "<clinit>") else name
            prefix = "$anonfun$" + base + "$"
            stack += [(c, k) for k in classes[c]["methods"] if k.startswith(prefix)]
    return reached, instantiated


def listed(classes, c, m, info):
    """Whether `c.m` is a public method written in the source."""
    cls = classes[c]
    if not info["public"] or m.startswith("<") or "$" in m:
        return False
    if info["static"] and c + "$" in classes:
        return False  # static forwarder of an object method
    case = "productElement" in cls["methods"]
    companion = classes.get(c[:-1]) if c.endswith("$") else None
    if (case or (companion and "productElement" in companion["methods"])) \
            and m in CASE_SYNTHETICS:
        return False
    if case and m in cls["fields"]:
        return False
    return True


def display(c):
    return c.replace("/", ".").rstrip("$").replace("$", ".")


def unset_defaults(classes, reached, perf_roots):
    """`Owner.method(param)` for each default parameter of a reached public
    method that every reached call of the method leaves at its default."""
    calls = collections.Counter()    # (class, method) -> reached calls
    omitted = collections.Counter()  # (class, method, N) -> calls omitting N
    for c, name in reached:
        for (owner, callee), n in classes[c]["methods"][name]["calls"].items():
            target = next(resolve(classes, owner, callee), None)
            d = DEFAULT.match(callee)
            if target is None:
                continue
            if d:
                omitted[(target, d.group(1), int(d.group(2)))] += n
            else:
                calls[(target, callee)] += n
    lines = []
    for (c, m, i), n in sorted(omitted.items()):
        info = classes[c]["methods"].get(m)
        if info is None or not listed(classes, c, m, info) \
                or (c, m) in perf_roots or n < calls[(c, m)]:
            continue
        params = [p for _, p in sorted(info["params"]) if p != "this"]
        param = params[i - 1] if i <= len(params) else "#%d" % i
        lines.append("%s.%s(%s)" % (display(c), m, param))
    return lines


def main():
    args = sys.argv[1:]
    defaults = "--defaults" in args
    args = [a for a in args if a != "--defaults"]
    classes_dir = args[0] if args else "target/scala-2.13/classes"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    classes = load(classes_dir, params=defaults)
    roots = set()
    for c in classes:
        short = c.split("/")[-1]
        if c.count("/") == 1 and short.split("$")[0] in ROOTS:
            roots |= {(c, m) for m in classes[c]["methods"]}
            roots.add(("new", c) if not c.endswith("$") else ("module", c))
    perf_roots = perfbench_roots(classes, os.path.join(repo, "perfbench", "scala"))
    reached, instantiated = walk(classes, roots | perf_roots)
    if defaults:
        print("\n".join(unset_defaults(classes, reached, perf_roots)))
        return

    lines = []  # a class and its companion object print under one name
    for c in sorted(classes):
        if "$$" in c or "$anon" in c or re.search(r"\$\d", c):
            continue
        cls = classes[c]
        todo = [m for m, info in cls["methods"].items()
                if listed(classes, c, m, info) and (c, m) not in reached]
        if not todo:
            continue
        shown = display(c)
        if c not in instantiated and not any(k[0] == c for k in reached):
            lines.append(shown + ".*")
        else:
            lines += [shown + "." + m for m in sorted(todo)]
    print("\n".join(dict.fromkeys(lines)))


if __name__ == "__main__":
    main()
