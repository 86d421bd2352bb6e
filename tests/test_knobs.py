"""Knob census: every defaulted parameter of a top-level function in the
package or the entry module is set by some call.

A parameter that no call sets is an operating point, not a knob: it
belongs in a module constant that the operator and its DuckDB twin both
read.  The scan is static (AST): a parameter counts as set when a call by
the same function name anywhere in the package, ``tools/``,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` or ``tests/`` passes
it by keyword, passes enough positionals to reach it, or unpacks ``*`` /
``**`` arguments.  Deployment settings are allowed without a caller.

The submit jobs' command lines get the same census: a flag is either a
deployment setting or passed by some test, never a second spelling of a
package constant.
"""
import ast
import glob
import os

from conftest import REPO

# Settings a deployment passes in; a test or production call need not.
DEPLOYMENT = {"cache_root", "catalog", "run_id"}
# Job flags a deployment passes in: paths, the cluster master, partition
# counts and the ingest label.
DEPLOYMENT_FLAGS = {
    "--input", "--work", "--output", "--corpus", "--batch-input",
    "--master", "--shuffle-partitions", "--num-partitions", "--ingest-label",
}

DEFINED = sorted(glob.glob(os.path.join(REPO, "html_parser_spark", "**", "*.py"),
                           recursive=True)) + [os.path.join(REPO, "__spark_entry__.py")]
CALLERS = DEFINED + [os.path.join(REPO, "bench.py")] + [
    p for d in ("tools", "perfbench", "tests")
    for p in glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)]


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
        f"{len(unset)} defaulted parameters are set by no call; make each a "
        "module constant shared with its DuckDB twin:\n  " + "\n  ".join(unset))


def untested_flags():
    """``job:flag`` of every submit-job flag that is neither a deployment
    setting nor a string constant of some test (other than this one)."""
    tests = glob.glob(os.path.join(REPO, "tests", "**", "*.py"), recursive=True)
    passed = {
        node.value
        for path in tests if os.path.basename(path) != "test_knobs.py"
        for node in ast.walk(_parse(path))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    }
    untested = []
    for path in sorted(glob.glob(os.path.join(REPO, "tools", "submit", "*.py"))):
        for node in ast.walk(_parse(path)):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "add_argument"):
                flag = node.args[0].value
                if flag not in DEPLOYMENT_FLAGS and flag not in passed:
                    untested.append(f"{os.path.basename(path)}:{flag}")
    return untested


def test_every_job_flag_is_deployment_or_tested():
    untested = untested_flags()
    assert not untested, (
        f"{len(untested)} job flags are neither deployment settings nor passed "
        "by a test; read the package constant instead:\n  " + "\n  ".join(untested))
