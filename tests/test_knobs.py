"""Knob census: every defaulted parameter of a top-level function in the
package or the entry module is set by some program call.

A parameter that no call sets is an operating point, not a knob: it
belongs in a module constant that the operator and its DuckDB twin both
read in their bodies.  The scan is static (AST): a parameter counts as
set when a call by the same function name in the package or a program
file (``PROGRAM_ROOTS``: ``__spark_entry__.py``, ``bench.py``,
``tools/`` and non-test ``perfbench/`` files) passes it by keyword,
passes enough positionals to reach it, or unpacks ``*`` / ``**``
arguments.  Tests are not callers: a test that needs another value
monkeypatches the constant, which reaches the operator and its twin at
once.  Deployment settings are allowed without a caller.

Every command line in ``tools/`` and ``bench.py`` gets the same census:
a flag is either a deployment setting or passed by some test or by
another script, never a second spelling of a package constant.

A third census looks for copied code: no two functions in the package,
``tools/`` or the entry module have the same body.

A path census keeps the corpus layout in one place: no f-string in the
package, ``tools/`` or the entry module spells ``<dir>/<table>.parquet``
outside ``sources/tables.py``, whose ``corpus_path`` is the one map
from a table name to its file.

A fifth census is reachability: every top-level definition of the
package is reached from a program (``PROGRAM_ROOTS``, or a package
module's module-level statements), transitively through the bodies of
reached definitions, or it is on ``KEEP`` with the reason a test needs
it.
"""
import ast
import glob
import os
import re

from conftest import REPO

# Settings a deployment passes in; a test or production call need not.
DEPLOYMENT = {"catalog", "run_id"}
# Flags a deployment passes in: paths, the cluster master, the shuffle
# partition count and the ingest label.  Positional arguments are paths
# too.
DEPLOYMENT_FLAGS = {
    "--input", "--work", "--output", "--corpus", "--batch-input", "--sf-dir",
    "--master", "--shuffle-partitions", "--ingest-label",
}
PACKAGE = sorted(glob.glob(os.path.join(REPO, "html_parser_spark", "**", "*.py"),
                           recursive=True))
ENTRY = os.path.join(REPO, "__spark_entry__.py")
BENCH = os.path.join(REPO, "bench.py")
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "**", "*.py"), recursive=True))
# The files a run starts from; tests are not among them.
PROGRAM_ROOTS = [ENTRY, BENCH] + TOOLS + [
    p for p in sorted(glob.glob(os.path.join(REPO, "perfbench", "**", "*.py"),
                                recursive=True))
    if not os.path.basename(p).startswith("test_")]

SCRIPTS = TOOLS + [BENCH]
DEFINED = PACKAGE + [ENTRY]
CALLERS = PACKAGE + PROGRAM_ROOTS


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _defaulted(fn):
    """(name, positional index or None) of every parameter with a default."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
    out += [(a.arg, None) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
            if d is not None]
    return out


def _calls_by_name():
    """function name → list of (n_positional, keyword names, unpacks)."""
    calls = {}
    for path in CALLERS:
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            unpacks = (any(isinstance(a, ast.Starred) for a in node.args)
                       or any(k.arg is None for k in node.keywords))
            calls.setdefault(name, []).append(
                (len(node.args), {k.arg for k in node.keywords}, unpacks))
    return calls


def unset_parameters():
    calls = _calls_by_name()
    unset = []
    for path in DEFINED:
        module = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
        for fn in _parse(path).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for param, index in _defaulted(fn):
                if param in DEPLOYMENT:
                    continue
                if not any(unpacks or param in kws
                           or (index is not None and n_pos > index)
                           for n_pos, kws, unpacks in calls.get(fn.name, ())):
                    unset.append(f"{module}:{fn.name}({param})")
    return unset


def test_every_defaulted_parameter_has_a_caller():
    unset = unset_parameters()
    assert not unset, (
        f"{len(unset)} defaulted parameters are set by no program call; drop "
        "each and read the module constant; tests monkeypatch it:\n  "
        + "\n  ".join(unset))


def _strings(path):
    return {node.value for node in ast.walk(_parse(path))
            if isinstance(node, ast.Constant) and isinstance(node.value, str)}


def untested_flags():
    """``script:flag`` of every command-line flag in ``SCRIPTS`` that is
    neither a deployment setting nor a string constant of some test
    (other than this one) or of another script."""
    tests = glob.glob(os.path.join(REPO, "tests", "**", "*.py"), recursive=True)
    by_tests = set().union(*(_strings(p) for p in tests
                             if os.path.basename(p) != "test_knobs.py"))
    by_script = {p: _strings(p) for p in SCRIPTS}
    untested = []
    for path in SCRIPTS:
        by_others = set().union(*(v for p, v in by_script.items() if p != path))
        for node in ast.walk(_parse(path)):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "add_argument"):
                flag = node.args[0].value
                if (flag.startswith("-") and flag not in DEPLOYMENT_FLAGS
                        and flag not in by_tests and flag not in by_others):
                    untested.append(f"{os.path.relpath(path, REPO)}:{flag}")
    return untested


def test_every_job_flag_is_deployment_or_tested():
    untested = untested_flags()
    assert not untested, (
        f"{len(untested)} flags are neither deployment settings nor passed by "
        "a test or another script; read the package constant instead:\n  "
        + "\n  ".join(untested))


# Bodies this small (a one-line return, a guard) may repeat by design.
MIN_BODY_NODES = 25
PROGRAM = DEFINED + TOOLS


def duplicate_bodies():
    """Groups of ``path:line name`` whose function bodies (docstring
    stripped, at least ``MIN_BODY_NODES`` AST nodes) are identical."""
    by_body = {}
    for path in PROGRAM:
        for fn in ast.walk(_parse(path)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = fn.body
            if ast.get_docstring(fn) is not None:
                body = body[1:]
            if sum(1 for stmt in body for _ in ast.walk(stmt)) < MIN_BODY_NODES:
                continue
            key = "\n".join(ast.dump(stmt) for stmt in body)
            by_body.setdefault(key, []).append(
                f"{os.path.relpath(path, REPO)}:{fn.lineno} {fn.name}")
    return [sites for sites in by_body.values() if len(sites) > 1]


def test_no_function_body_is_duplicated():
    dups = duplicate_bodies()
    assert not dups, (
        f"{len(dups)} function bodies are written more than once; keep one "
        "and import it:\n  " + "\n  ".join(", ".join(d) for d in dups))


# The one module that maps a corpus table name to its location.
LAYOUT_HOME = os.path.join(REPO, "html_parser_spark", "sources", "tables.py")


def corpus_path_spellings():
    """``path:line template`` of every f-string in ``PROGRAM`` outside
    ``LAYOUT_HOME`` that formats a directory into a ``<dir>/<table>.parquet``
    path (``{}`` marks each formatted value)."""
    sites = []
    for path in PROGRAM:
        if path == LAYOUT_HOME:
            continue
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.JoinedStr):
                continue
            template = "".join(
                v.value if isinstance(v, ast.Constant) else "{}" for v in node.values)
            if re.search(r"\{\}/(\w+|\{\})\.parquet$", template):
                sites.append(f"{os.path.relpath(path, REPO)}:{node.lineno} {template}")
    return sites


def test_only_the_table_reader_spells_a_corpus_path():
    sites = corpus_path_spellings()
    assert not sites, (
        f"{len(sites)} f-strings spell a corpus table's file; read it with "
        "sources.tables.read_corpus (or corpus_path) instead:\n  "
        + "\n  ".join(sites))


# Package definitions that no program reaches, each a reference or
# inspection form that tests compare against.
KEEP = {
    "simhash64": "pure-Python oracle of dedup._simhash64_np",
    "scrub_text": "third engine of the three-way scrub test",
    "embedding_near_dups_allpairs": "all-pairs recall truth of the cosine dedup",
    "serialize_tree": "html5lib tree-dump format the treebuilder tests compare",
    "TokenizeUDTF": "the only UDTF surface (COVERAGE UDF-surface row)",
}


def _names(node):
    """Names ``node`` refers to: Name ids, Attribute attrs and import
    aliases (string constants do not count)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def unreached_definitions(keep=()):
    """``path:line name`` of every top-level ``def``/``class`` of the
    package that no program reaches.  Roots are the program files, the
    module-level statements of every package module and ``keep``; a
    reached definition's body reaches the names it refers to."""
    defs = {}
    reached = set(keep)
    for path in PROGRAM_ROOTS:
        reached |= _names(_parse(path))
    for path in PACKAGE:
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((path, stmt))
            else:
                reached |= _names(stmt)
    todo = list(reached)
    while todo:
        for _, stmt in defs.get(todo.pop(), ()):
            new = _names(stmt) - reached
            reached |= new
            todo.extend(new)
    return sorted(
        f"{os.path.relpath(path, REPO)}:{stmt.lineno} {name}"
        for name, sites in defs.items()
        if name not in reached and not (name.startswith("__") and name.endswith("__"))
        for path, stmt in sites)


def test_every_package_definition_has_a_program_caller():
    unreached = unreached_definitions(KEEP)
    assert not unreached, (
        f"{len(unreached)} package definitions are reached by no program "
        "(only by tests); delete each, or add it to KEEP with the reason a "
        "test needs it:\n  " + "\n  ".join(unreached))
    # every KEEP entry names a definition that only tests reach
    only_tests = {site.rsplit(" ", 1)[1] for site in unreached_definitions()}
    stale = sorted(set(KEEP) - only_tests)
    assert not stale, f"KEEP entries a program reaches or nothing defines: {stale}"
