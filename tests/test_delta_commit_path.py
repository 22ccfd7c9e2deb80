"""The standard Delta writer has one commit path:
``DeltaStandardWriter._atomic_commit`` assembles and publishes every
commit (its ``commitInfo``, the checkpoint cadence, the cleanup of an
aborted operation's files), and two builders make the ``remove``
action and a new table's ``protocol`` + ``metaData``. No other code of
``delta_standard.py`` (the independent ``DeltaFixtureWriter`` aside)
or ``convert.py`` may build those actions, compute the cadence, remove
staged files or claim a log version. Parsed with ``ast``, so no Spark
session is needed."""

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "kafka_delta_ingest_spark")
COMMIT_PATH = {"_atomic_commit", "_remove_action", "_new_table_actions"}


def _scopes(tree):
    """(name of the enclosing function or class, node) for every node
    outside ``DeltaFixtureWriter``."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef) and child.name == "DeltaFixtureWriter":
                continue
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)) and scope is None:
                inner = child.name
            elif isinstance(child, ast.FunctionDef) and child.name in COMMIT_PATH:
                inner = child.name
            yield inner, child
            yield from walk(child, inner)

    yield from walk(tree, None)


def _call_name(node):
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _violation(node, calls):
    if isinstance(node, ast.Dict):
        keys = {k.value for k in node.keys if isinstance(k, ast.Constant)}
        hit = keys & {"commitInfo", "remove"}
        if hit:
            return f"a {sorted(hit)[0]!r} dict literal"
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mod):
        names = {
            getattr(n, "attr", getattr(n, "id", None))
            for n in (node.left, node.right)
        }
        if "checkpoint_every" in names:
            return "a checkpoint_every modulo"
    if isinstance(node, ast.Call) and _call_name(node) in calls:
        return f"a {_call_name(node)} call"
    return None


@pytest.mark.parametrize(
    "module, calls",
    [
        ("delta_standard.py", {"_remove_quietly", "put_if_absent"}),
        # convert's Hudi bootstrap claims a Hudi instant of its own
        ("convert.py", {"_remove_quietly"}),
    ],
)
def test_one_delta_commit_path(module, calls):
    with open(os.path.join(PKG, module)) as f:
        tree = ast.parse(f.read(), filename=module)
    bad = [
        f"line {node.lineno}: {what}"
        for scope, node in _scopes(tree)
        if scope not in COMMIT_PATH and (what := _violation(node, calls))
    ]
    assert not bad, f"{module} outside the commit path: {bad}"
