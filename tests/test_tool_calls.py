"""Scripts outside the test suite call the package correctly.

``tools/``, ``bench.py`` and ``__spark_entry__.py`` reach into
``html_parser_spark``, but most of them are never imported by another
test, so a renamed function or a changed signature would break them
silently.  This scan is static
(AST) and starts no Spark: every name imported from the package must
exist, and every call through such a name must bind to the current
signature (calls that unpack ``*``/``**`` arguments are only checked for
the name).
"""
import ast
import glob
import importlib
import inspect
import os
import types

from conftest import REPO

PACKAGE = "html_parser_spark"
SCRIPTS = sorted(
    glob.glob(os.path.join(REPO, "tools", "**", "*.py"), recursive=True)
) + [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]

_MISSING = object()


def _attr(obj, name):
    """``obj.name``, importing ``name`` as a submodule when ``obj`` is a
    package that has not loaded it yet."""
    found = getattr(obj, name, _MISSING)
    if found is _MISSING and isinstance(obj, types.ModuleType):
        try:
            found = importlib.import_module(f"{obj.__name__}.{name}")
        except ModuleNotFoundError:
            pass
    return found


def _imports(tree):
    """local name → (module, attribute or None) for every import of the
    package anywhere in ``tree`` (function-local imports included)."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            (node.module or "").split(".")[0] == PACKAGE
        ):
            for a in node.names:
                names[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PACKAGE:
                    if a.asname:
                        names[a.asname] = (a.name, None)
                    else:
                        names[PACKAGE] = (PACKAGE, None)
    return names


def _dotted(func):
    """``a.b.c`` → ["a", "b", "c"]; None for anything but a name chain."""
    parts = []
    while isinstance(func, ast.Attribute):
        parts.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name):
        return None
    return [func.id] + parts[::-1]


def scan():
    """(broken calls, names of every checked call) over ``SCRIPTS``."""
    broken, checked = [], set()
    for path in SCRIPTS:
        rel = os.path.relpath(path, REPO)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        names = _imports(tree)
        resolved = {}
        for local, (module, attr) in names.items():
            obj = importlib.import_module(module)
            if attr is not None:
                obj = _attr(obj, attr)
            if obj is _MISSING:
                broken.append(f"{rel}: {module} has no {attr}")
            resolved[local] = obj
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            chain = _dotted(node.func)
            if not chain or resolved.get(chain[0], _MISSING) is _MISSING:
                continue
            checked.add(chain[-1])
            obj = resolved[chain[0]]
            for part in chain[1:]:
                if not isinstance(obj, types.ModuleType):
                    break  # a method of a package object: out of scope
                obj = _attr(obj, part)
                if obj is _MISSING:
                    broken.append(
                        f"{rel}:{node.lineno}: {'.'.join(chain)} does not exist")
                    break
            if obj is _MISSING or isinstance(obj, types.ModuleType):
                continue
            if not isinstance(obj, types.FunctionType):
                continue  # classes, UDF objects: the name check suffices
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                continue
            try:
                inspect.signature(obj).bind(
                    *node.args, **{k.arg: k.value for k in node.keywords})
            except TypeError as e:
                broken.append(f"{rel}:{node.lineno}: {'.'.join(chain)}: {e}")
    return broken, checked


def test_script_calls_bind_to_the_package():
    broken, checked = scan()
    assert not broken, "calls into the package that no longer bind:\n  " + (
        "\n  ".join(broken))
    # the scan reaches function-local imports and module aliases: the
    # corpus job's nested imports and the incremental job's
    # ``dedup.<fn>`` calls are among the checked names
    assert {"extract_stage", "link_pagerank_fp",
            "incremental_dedup_against", "minhash_band_keys"} <= checked
