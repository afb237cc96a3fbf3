"""Reachability audit: package definitions that only tests (or nothing) reach.

Walks the source with stdlib ``ast`` only (no package import, no Spark).
Every top-level function and class of ``workbook_exporter_fe_spark`` is a
node, and so is each module's own top-level code; a node's edges are the
names its body uses. Comments and docstrings never count as references.

Production roots, whose whole code is reachable:

- ``run_*.py``, ``__spark_entry__.py``, ``bench.py``;
- every file under ``perfbench/`` and ``scripts/``, including programs
  embedded in string literals that a script hands to a child interpreter;
- the gate registry's queries, reached through ``__spark_entry__`` importing
  the registry modules: importing a module runs its top-level code, and a
  decorated top-level definition is handed to its decorator (the registry's
  ``@query``) at that point.

The test closure adds every file under ``tests/`` to the roots. A definition
in the test closure but not the production closure is *test-only*; one in
neither is *unreferenced*. ``KEEP`` lists, with a reason each, the
definitions and modules kept on purpose although only tests reach them:
references the engine is pinned against. ``DEFERRED`` lists test-only
definitions whose deletion waits for a later cut; they are left out of the
test-only count but reported on their own, with their line total.

Resolution is by name and errs towards "reachable": a bare name resolves
through the module's own definitions and its imports, ``mod.name`` resolves
in ``mod`` when ``mod`` is an imported package module, and a reachable class
keeps all of its methods.

Usage::

    python3 scripts/audit_reachability.py

Exits 1 when any test-only or unreferenced definition is found, or when a
``KEEP`` or ``DEFERRED`` entry no longer covers one.
"""

from __future__ import annotations

import ast
import os
import re
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "workbook_exporter_fe_spark"

# Definitions (or whole modules) kept although only tests reach them.
_RATES_REF = "composed chain the fused rates.series_analytics is pinned to"
KEEP = {
    f"{PKG}.operators.invindex.bm25_reference_score": "BM25 formula the index's scores are pinned to",
    f"{PKG}.operators.rates.rate": _RATES_REF,
    f"{PKG}.operators.rates.counter_deltas": _RATES_REF,
    f"{PKG}.operators.rates.linear_fit": _RATES_REF,
    f"{PKG}.operators.rates.predict_linear": _RATES_REF,
    f"{PKG}.operators.rates.rolling_corr": _RATES_REF,
    f"{PKG}.operators.rates.mean_shift_changepoints": _RATES_REF,
    f"{PKG}.operators.workbook.run_exporters": "driver of the golden tests against the reference fixtures",
    f"{PKG}.sources.snapshot_source": "Spark data source that user code loads by format name "
    "('snapshot_log'); deferred with its sink consumer below (about 40 tests)",
    f"{PKG}.streaming.stream_minhash": "streaming dedup sink over the snapshot_log data source; deferred with it",
}
# Test-only operators whose deletion is deferred to a later cut, so that one
# change does not retire too many tests at once (ROADMAP open item 5).
DEFERRED = tuple(
    f"{PKG}.{name}"
    for name in (
        "operators.components.dedup_canonical",
        "operators.decontam.decontaminate",
        "operators.downsample._lttb_indices",
        "operators.downsample.lttb",
        "operators.drift.drift_vs_previous",
        "operators.multimodal.phash_candidate_pairs",
        "operators.rates.ewma",
        "operators.rates.ewma_expr",
        "operators.rates.holt_winters",
        "operators.rates.increase_tier1",
        "operators.rates.sliding_rollup_from_tier1",
        "operators.relevance.doc_terms",
        "operators.relevance.tfidf",
        "operators.sampling.sample_topk_prefiltered",
        "operators.spans.remove_repeated_spans",
        "streaming.stream_join",
        "streaming.stream_rollup",
    )
)


def _under(qualname: str, entries) -> bool:
    return any(qualname == k or qualname.startswith(k + ".") for k in entries)


Node = tuple[str, str]  # (module, top-level name); name "" = the module's own code


def _py_files(rel_dir: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, rel_dir)):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _modname(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _embedded_code(node: ast.AST) -> ast.Module | None:
    """A string literal holding a Python program that imports something;
    f-string holes and ``str.format`` fields become a placeholder name."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        src = node.value
    elif isinstance(node, ast.JoinedStr):
        src = "".join(v.value if isinstance(v, ast.Constant) else "_" for v in node.values)
    else:
        return None
    if "import " not in src:
        return None
    filled = re.sub(r"\{[^{}]*\}", "_", src.replace("{{", "\0").replace("}}", "\1"))
    for cand in (src, filled.replace("\0", "{").replace("\1", "}")):
        try:
            tree = ast.parse(textwrap.dedent(cand))
        except SyntaxError:
            continue
        if any(isinstance(n, (ast.Import, ast.ImportFrom)) for n in ast.walk(tree)):
            return tree
    return None


def _walk(roots, docstrings: set[int]):
    """``ast.walk`` over ``roots`` that also descends into embedded programs
    and skips docstrings."""
    stack = list(roots)
    while stack:
        for node in ast.walk(stack.pop()):
            if id(node) in docstrings:
                continue
            code = _embedded_code(node)
            if code is not None:
                stack.append(code)
            yield node


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    """One parsed file: its top-level definitions and its import aliases."""

    def __init__(self, path: str, modules: set[str]):
        self.name = _modname(path)
        self.tree = ast.parse(open(path, encoding="utf-8").read(), path)
        self.docstrings = _docstrings(self.tree)
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _DEF)}
        # bound name -> (module, symbol or None for the module itself)
        self.aliases: dict[str, tuple[str, str | None]] = {}
        parts = self.name.split(".") + (["__init__"] if path.endswith("__init__.py") else [])
        for node in _walk([self.tree], self.docstrings):
            if isinstance(node, ast.Import):
                for a in node.names:
                    self.aliases[a.asname or a.name] = (a.name, None)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    base = ".".join(parts[: len(parts) - node.level] + ([base] if base else []))
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    self.aliases[a.asname or a.name] = (sub, None) if sub in modules else (base, a.name)


class Graph:
    def __init__(self, files: list[str]):
        modules = {_modname(f) for f in files}
        self.mods = {m.name: m for m in (_Module(f, modules) for f in files)}
        self.body: dict[Node, list[ast.AST]] = {}
        self.size: dict[Node, int] = {}
        for m in self.mods.values():
            top: list[ast.AST] = []
            for stmt in m.tree.body:
                if isinstance(stmt, _DEF):
                    top += stmt.decorator_list
                    if stmt.decorator_list:  # the decorator receives the definition
                        top.append(ast.Name(id=stmt.name))
                    self.body[(m.name, stmt.name)] = [stmt]
                    self.size[(m.name, stmt.name)] = stmt.end_lineno - stmt.lineno + 1 + len(stmt.decorator_list)
                else:
                    top.append(stmt)
            self.body[(m.name, "")] = top

    def _resolve(self, m: _Module, name: str) -> list[Node]:
        if name in m.defs:
            return [(m.name, name)]
        mod, sym = m.aliases.get(name, ("", None))
        if mod not in self.mods:
            return []
        out = [(mod, "")]  # importing a module runs its top-level code
        if sym in self.mods[mod].defs:
            out.append((mod, sym))
        elif sym in self.mods[mod].aliases:  # re-export
            out += self._resolve(self.mods[mod], sym)
        return out

    def _edges(self, nid: Node) -> list[Node]:
        m = self.mods[nid[0]]
        out = [(m.name, "")]  # a reachable definition implies its module was imported
        for node in _walk(self.body[nid], m.docstrings):
            if isinstance(node, ast.Name):
                out += self._resolve(m, node.id)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    out += self._resolve(m, a.asname or a.name)
            elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                for mod, sym in self._resolve(m, node.value.id):
                    if sym == "" and node.attr in self.mods[mod].defs:
                        out.append((mod, node.attr))
        return out

    def closure(self, roots: list[str]) -> set[Node]:
        stack: list[Node] = []
        for r in roots:
            name = _modname(r)
            stack += [(name, "")] + [(name, d) for d in self.mods[name].defs]
        seen: set[Node] = set()
        while stack:
            nid = stack.pop()
            if nid not in seen and nid in self.body:
                seen.add(nid)
                stack += self._edges(nid)
        return seen


def audit() -> dict:
    prod = sorted(
        [os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.startswith("run_") and f.endswith(".py")]
        + [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
        + _py_files("perfbench")
        + _py_files("scripts")
    )
    tests = _py_files("tests")
    g = Graph(_py_files(PKG) + prod + tests)
    live = g.closure(prod)
    tested = g.closure(prod + tests)
    audited = [n for n in sorted(g.size) if n[0].split(".")[0] == PKG]

    def rows(pred) -> list[dict]:
        return [{"def": f"{m}.{n}", "lines": g.size[(m, n)]} for m, n in audited if pred((m, n))]

    def listed(n: Node) -> bool:
        return _under(f"{n[0]}.{n[1]}", [*KEEP, *DEFERRED])

    test_only = rows(lambda n: n not in live and n in tested and not listed(n))
    unreferenced = rows(lambda n: n not in tested and not listed(n))
    deferred = rows(lambda n: n not in live and _under(f"{n[0]}.{n[1]}", DEFERRED))
    # a KEEP or DEFERRED entry that no longer covers any unreached definition is stale
    unreached = [f"{m}.{n}" for m, n in audited if (m, n) not in live]
    stale = [k for k in [*KEEP, *DEFERRED] if not any(_under(q, [k]) for q in unreached)]
    return {
        "audited": len(audited),
        "kept": KEEP,
        "stale_keep": stale,
        "test_only": test_only,
        "unreferenced": unreferenced,
        "deferred": deferred,
    }


def main() -> int:
    rep = audit()
    for kind in ("test_only", "unreferenced", "deferred"):
        print(f"{kind}: {len(rep[kind])} definitions, {sum(r['lines'] for r in rep[kind])} lines")
        for r in rep[kind]:
            print(f"  {r['lines']:5d}  {r['def']}")
    print(f"audited: {rep['audited']} definitions; kept on purpose (KEEP): {len(rep['kept'])}")
    for k in rep["stale_keep"]:
        print(f"stale KEEP/DEFERRED entry (nothing unreached left under it): {k}")
    return 1 if rep["test_only"] or rep["unreferenced"] or rep["stale_keep"] else 0


if __name__ == "__main__":
    sys.exit(main())
