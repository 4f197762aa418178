#!/usr/bin/env python
"""Compute which contract queries' EXECUTION changed, given a seed set
of edited functions — the driver-window staleness rule (r12 session
convention, promoted to a tracked tool in r13).

Name-based cross-file AST transitive call-closure: build caller->callee
edges from every product module (a call contributes an edge for its
bare name and attribute tail), seed with the edited function names,
propagate until fixed point, and report every @query-registered builder
whose body (or transitive callees) reaches a seed.

Over-approximates on name collisions (two functions sharing a name) —
acceptable: a false stale costs one redundant driver slot, a missed
stale costs a wrong green row. EXCEPTION: ubiquitous closure/harness
names (``fn``, ``deco``, ``query``…) are excluded from
propagation entirely — the operator modules name their Arrow-batch
closures ``fn``, and contract.py's registrar wraps every builder
through ``fn``, so one stale closure would otherwise mark all 226
queries stale through a pure name collision (measured: seeding
_round9_half_up alone flagged 226 queries via
a1_pricing_summary → query → fn). Edits inside those closures are
covered by seeding their ENCLOSING operator function instead, which is
how the edited-function seed list is drawn up anyway.

Usage: python tools/changed_queries.py fn1 fn2 ...
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
PKG = os.path.join(ROOT, "taxi_rides_ny_duckdb_spark")

# names that appear as closures/wrappers in dozens of files — never
# propagate staleness through a bare-name match on these (see module
# docstring)
STOP_NAMES = {"fn", "deco", "query", "p", "_w", "wrapper"}


def _call_edges(tree: ast.AST, modname: str):
    """Yield (qualified caller, callee bare name) for every call inside
    every function def; nested defs attribute to the OUTERMOST def
    (the registered builder)."""
    for node in ast.walk(tree):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        caller = f"{modname}.{node.name}"
        for sub in ast.walk(node):
            if isinstance(sub, ast.Call):
                f = sub.func
                if isinstance(f, ast.Name):
                    yield caller, f.id
                elif isinstance(f, ast.Attribute):
                    yield caller, f.attr


def compute(seeds: set[str]) -> tuple[set[str], list[str]]:
    edges: dict[str, set[str]] = {}
    queries: dict[str, str] = {}  # query name -> builder qualname
    for dirpath, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, ROOT).replace(os.sep, ".")[:-3]
            src = open(path).read()
            tree = ast.parse(src)
            for caller, callee in _call_edges(tree, rel):
                edges.setdefault(caller, set()).add(callee)
            # @query("name", ...) registrations
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef):
                    for dec in node.decorator_list:
                        if (
                            isinstance(dec, ast.Call)
                            and isinstance(dec.func, ast.Name)
                            and dec.func.id == "query"
                            and dec.args
                            and isinstance(dec.args[0], ast.Constant)
                        ):
                            queries[dec.args[0].value] = f"{rel}.{node.name}"

    # propagate: a function is stale if any callee's BARE name is a
    # stale bare name
    stale_bare = set(seeds)
    changed = True
    while changed:
        changed = False
        for caller, callees in edges.items():
            bare = caller.rsplit(".", 1)[-1]
            if bare in stale_bare or bare in STOP_NAMES:
                continue
            if (callees & stale_bare) - STOP_NAMES:
                stale_bare.add(bare)
                changed = True

    stale_queries = sorted(
        qn for qn, builder in queries.items()
        if builder.rsplit(".", 1)[-1] in stale_bare
    )
    return stale_bare, stale_queries


if __name__ == "__main__":
    seeds = set(sys.argv[1:])
    if not seeds:
        raise SystemExit("usage: changed_queries.py editedFn [...]")
    bare, qs = compute(seeds)
    print(f"# stale functions: {len(bare)}")
    for q in qs:
        print(q)
