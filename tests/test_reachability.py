"""Every library module must be reachable from a shipped entry point.

The rule: library code stays only if a job in ``jobs/``, the frontier
loop or the CDX/WET path calls it.  This walks ``import`` statements
(module-level and function-local) from those roots with ``ast`` alone —
no Spark, nothing imported — and asserts that each
``cdx_writer_spark`` module is reached.  The few modules kept without a
caller are named in ``UNREACHED`` with the reason they stay.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cdx_writer_spark"

ROOT_MODULES = (
    f"{PKG}.frontier.loop",
    f"{PKG}.streaming",
    f"{PKG}.sink",
    f"{PKG}.warc_source",
    f"{PKG}.oracle",      # the row reference the benchmark checks against
    f"{PKG}.pages_gen",   # the fixture generator behind tests and bench
)

UNREACHED = {
    f"{PKG}.frontier.robots":
        "robots.txt cache for the frontier; not wired into a job yet",
    f"{PKG}.frontier.links":
        "outlink discovery for the frontier; not wired into a job yet",
    f"{PKG}.frontier.dust":
        "DUST alias collapse for the frontier; not wired into a job yet",
    f"{PKG}.cdxquery":
        "CDX lookup over written indexes; not wired into a job yet",
    # registry-only operator families; each goes, with its queries and
    # tests, in a later deletion (ROADMAP item 2)
    f"{PKG}.functions.graph": "link-graph ranking queries only",
    f"{PKG}.functions.relational": "TPC-H/events join queries only",
    f"{PKG}.functions.fuzzy": "fuzzy_hosts query only",
    f"{PKG}.functions.audio": "audio queries only",
    f"{PKG}.functions.multimodal": "media decode queries only",
    f"{PKG}.functions.png": "codec behind multimodal",
    f"{PKG}.functions.gif": "codec behind multimodal",
    f"{PKG}.functions.jpeg": "codec behind multimodal and avi",
    f"{PKG}.functions.bmp": "codec behind multimodal",
    f"{PKG}.functions.tiff": "codec behind multimodal",
    f"{PKG}.functions.avi": "container behind multimodal",
}


def _module_files() -> dict[str, str]:
    out = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"),
                          recursive=True):
        rel = os.path.relpath(path, REPO)[:-3].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        out[".".join(rel)] = path
    return out


def _imports(path: str, module: str, is_pkg: bool) -> set[str]:
    """Every dotted name an import in ``path`` may load: the module
    itself and, for ``from M import x``, also ``M.x`` (x may be a
    submodule)."""
    package = module if is_pkg else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[:len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached() -> set[str]:
    files = _module_files()
    todo = list(ROOT_MODULES)
    for job in glob.glob(os.path.join(REPO, "jobs", "*.py")):
        todo.extend(n for n in _imports(job, "jobs", False)
                    if n.startswith(PKG))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in files and mod not in seen:
                seen.add(mod)
                path = files[mod]
                todo.extend(
                    n for n in _imports(path, mod,
                                        path.endswith("__init__.py"))
                    if n.startswith(PKG))
    return seen


def test_every_module_is_reached_from_a_shipped_path():
    files = _module_files()
    reached = _reached()
    orphans = sorted(set(files) - reached - set(UNREACHED))
    assert not orphans, (
        f"modules no job, frontier or CDX/WET path imports: {orphans}")


def test_unreached_list_is_current():
    files = _module_files()
    reached = _reached()
    gone = sorted(set(UNREACHED) - set(files))
    assert not gone, f"UNREACHED names missing modules: {gone}"
    wired = sorted(set(UNREACHED) & reached)
    assert not wired, f"now reached, drop from UNREACHED: {wired}"
