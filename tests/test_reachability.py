"""Every library module, and every top-level function in it, must be
reachable from a shipped entry point.

The rule: library code stays only if a job in ``jobs/``, the frontier
loop or the CDX/WET path calls it.  Both gates read source with
``ast`` alone — no Spark, nothing imported — and start from the same
roots, ``ROOT_FILE_GLOBS``: the jobs, the benchmark, the row oracle
and the fixture generator.

* Modules: walk ``import`` statements (module-level and
  function-local) from those roots and assert that each
  ``cdx_writer_spark`` module is reached.  The few modules kept without
  a caller are named in ``UNREACHED`` with the reason they stay.
* Functions: a top-level ``def`` or ``class`` of a reached module is
  reached when reached code refers to its name (see
  :func:`_reached_functions`).  The ones kept without a caller are
  named in ``UNREACHED_FUNCS``, one reason per group.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cdx_writer_spark"

# Code that runs when a shipped path runs: whole files here, plus (for
# the function gate) the module-level statements of every reached
# module.  __spark_entry__.py, bench.py and tests are not roots (they
# call code; nothing ships through them), nor is
# scripts/scaling_report.py (its worker is a code string, which the
# walk cannot see).  oracle.py is the row reference the benchmark
# checks against; pages_gen.py the fixture generator behind tests and
# the benchmark.
ROOT_FILE_GLOBS = ("jobs/*.py", "perfbench/*.py",
                   f"{PKG}/oracle.py", f"{PKG}/pages_gen.py")

UNREACHED = {
    # registry-only media family; it goes, with its queries and tests,
    # in a later deletion (ROADMAP item 6)
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


def _root_paths() -> set[str]:
    return {p for g in ROOT_FILE_GLOBS
            for p in glob.glob(os.path.join(REPO, g))}


def _reached() -> set[str]:
    files = _module_files()
    module_of = {path: mod for mod, path in files.items()}
    todo = []
    for path in _root_paths():
        if path in module_of:       # a package module is its own root
            todo.append(module_of[path])
        else:
            todo.extend(n for n in _imports(
                path, os.path.basename(os.path.dirname(path)), False)
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


# --- function level -----------------------------------------------------------

# Top-level functions of reached modules that no shipped path calls,
# grouped by why they stay.  Names are relative to the package.  Each
# group goes, with its registry queries and tests, in a later deletion
# (ROADMAP items 4 and 5) or when a job calls it.
UNREACHED_FUNCS = {
    "exact dedup: only the dedup_exact query calls it": (
        "functions.dedup.exact_dedup",
    ),
    "corpus stage caches: `q_web_corpus_full` and `bench.py`": (
        "functions.dedup.persist_stage",
        "functions.dedup.release_stage_caches",
    ),
    "text search and statistics operators only registry queries call": (
        "functions.textstats.bm25_topk",
        "functions.textstats.c4_line_filter",
        "functions.textstats.chunk_documents",
        "functions.textstats.inverted_index",
        "functions.textstats.phrase_occurrences",
        "functions.textstats.pmi_collocations",
        "functions.textstats.repetition_stats",
        "functions.textstats.term_cooccurrence",
        "functions.textstats.tfidf_top_terms",
    ),
    "per-document text columns only the text_stats query reads": (
        "functions.textstats.bpe_token_count_col",
        "functions.textstats.fingerprint_col",
        "functions.textstats.lang_id_col",
        "functions.textstats.lang_votes_col",
        "functions.textstats.normalized_text_col",
        "functions.textstats.punct_ratio_col",
        "functions.textstats.quality_score_col",
        "functions.textstats.stopword_ratio_col",
        "functions.textstats.token_count_col",
    ),
    "language-model operators only registry queries call": (
        "functions.lm.bpe_merges",
        "functions.lm.hashed_weights",
        "functions.lm.kn_continuation_counts",
        "functions.lm.linear_quality_scores",
    ),
    "sampling operators only registry queries call": (
        "functions.sampling.apportion",
        "functions.sampling.hash_sample",
        "functions.sampling.stratified_sample",
        "functions.sampling.weighted_sample",
    ),
    "pii scrub: only the text_pii_scrub query calls it": (
        "functions.pii.scrub_pii",
    ),
    "frontier operators no crawl round calls (the loop inlines the "
    "split; no job recrawls or retracts seen keys)": (
        "frontier.seen.split_new",
        "frontier.seen.remove_from_filters",
    ),
    "CDX sinks and readers only tests and registry queries call": (
        "sink.parse_cdx_lines",
        "sink.write_single_cdx",
    ),
    "CDX line frames scripts/scaling_report.py runs from a code string": (
        "job.cdx_lines",
        "job.cdx_lines_per_file",
    ),
    "the documents-to-pages view behind the registry and bench.py": (
        "webview.pages_from_documents",
    ),
}


def _names_in(nodes) -> set[str]:
    """Every name reached code may refer to: ``Name`` ids,
    ``Attribute`` attrs, and string constants that are identifiers
    (``getattr``/registry lookups)."""
    out = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif (isinstance(x, ast.Constant) and isinstance(x.value, str)
                  and x.value.isidentifier()):
                out.add(x.value)
    return out


def _reached_functions() -> tuple[set[str], set[str]]:
    """(all, reached) top-level defs of reached, non-UNREACHED modules,
    as ``module.name`` relative to the package.

    A def counts as reached when reached code refers to its name;
    its body then becomes reached code, until nothing new is reached.
    The check is by bare name, not by resolved binding, so a name
    clash can only keep code (a same-named function elsewhere counts
    as a reference); it cannot flag live code."""
    files = _module_files()
    root_paths = _root_paths()
    code = [ast.parse(open(p).read()) for p in sorted(root_paths)]
    defs: dict[str, ast.AST] = {}
    for mod in sorted(_reached() - set(UNREACHED)):
        if files[mod] in root_paths:
            continue
        for node in ast.parse(open(files[mod]).read()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                code.append(node)
                continue
            defs[f"{mod[len(PKG) + 1:]}.{node.name}"] = node
            # what runs at import: decorators, defaults, class bases
            code.extend(node.decorator_list)
            if isinstance(node, ast.ClassDef):
                code.extend(node.bases + [k.value for k in node.keywords])
            else:
                code.extend(node.args.defaults)
                code.extend(d for d in node.args.kw_defaults if d)
    names = _names_in(code)
    reached: set[str] = set()
    while True:
        new = {q for q in defs
               if q not in reached and q.rpartition(".")[2] in names}
        if not new:
            return set(defs), reached
        reached |= new
        names |= _names_in(defs[q] for q in new)


def test_every_function_is_reached():
    every, reached = _reached_functions()
    listed = {q for names in UNREACHED_FUNCS.values() for q in names}
    orphans = sorted(every - reached - listed)
    assert not orphans, (
        f"top-level functions no job, frontier or CDX/WET path calls: "
        f"{orphans}")


def test_unreached_funcs_list_is_current():
    every, reached = _reached_functions()
    listed = [q for names in UNREACHED_FUNCS.values() for q in names]
    dup = sorted({q for q in listed if listed.count(q) > 1})
    assert not dup, f"UNREACHED_FUNCS names these twice: {dup}"
    gone = sorted(set(listed) - every)
    assert not gone, f"UNREACHED_FUNCS names missing functions: {gone}"
    wired = sorted(set(listed) & reached)
    assert not wired, f"now reached, drop from UNREACHED_FUNCS: {wired}"
