#!/usr/bin/env python3
"""Regenerate perfbench/golden/modules.json: which graft module each
SparkEntry query exercises, for the suite's per-module rollup.

    python3 perfbench/tools/modules.py > perfbench/golden/modules.json

A query's module is the first of graft.llm (with the graft.functions
kernels), graft.stream, graft.analytics, graft.profile, graft.etl and
graft.core that its closure references, directly or through one of
SparkEntry's private helpers; a query referencing none of them is plain
relational `sql`. The table loader (graft.core.Tables) does not count.
"""
import json
import re
import sys
from pathlib import Path

SRC = Path(__file__).resolve().parents[2] / "src/main/scala/graft/SparkEntry.scala"
PRIORITY = ["graft.llm", "graft.stream", "graft.analytics", "graft.profile",
            "graft.etl", "graft.core"]


def imported_names(text):
    """Short names SparkEntry imports from graft packages -> module."""
    out = {}
    for pkg, names in re.findall(r"^import (graft\.\w+)\.\{?([\w, ]+)\}?", text, re.M):
        for n in names.split(","):
            out[n.strip()] = pkg
    out.pop("Tables", None)
    return out


def modules_of(body, names):
    found = set()
    for m in re.findall(r"graft\.(\w+)\.", body):
        found.add("graft.llm" if m == "functions" else f"graft.{m}")
    for n, pkg in names.items():
        if re.search(rf"\b{n}\b", body):
            found.add("graft.llm" if pkg == "graft.functions" else pkg)
    return found


def main():
    text = SRC.read_text()
    names = imported_names(text)
    start = text.index("  def queries: Map[String")
    end = text.index("\n  )\n", start)
    head, block = text[:start], text[start:end]
    # private helpers defined above the query map, one level deep
    helpers = {}
    for m in re.finditer(r"^  (?:private )?(?:def|val|lazy val) (\w+)", head, re.M):
        nxt = re.search(r"^  (?:private |/\*\*|//|def |val |lazy val )", head[m.end():], re.M)
        helpers[m.group(1)] = head[m.start(): m.end() + (nxt.start() if nxt else 0)]
    helper_mods = {h: modules_of(b, names) for h, b in helpers.items()}
    entries = list(re.finditer(r'^    "(\w+)" -> (?:\(\(|\{ \()', block, re.M))
    table = {}
    for i, m in enumerate(entries):
        body = block[m.end(): entries[i + 1].start() if i + 1 < len(entries) else len(block)]
        found = modules_of(body, names)
        for h, mods in helper_mods.items():
            if mods and re.search(rf"\b{h}\(", body):
                found |= mods
        table[m.group(1)] = next((p for p in PRIORITY if p in found), "sql")
    json.dump(dict(sorted(table.items())), sys.stdout, indent=1)
    sys.stdout.write("\n")


if __name__ == "__main__":
    main()
