"""Each table format's writer has one commit path, checked with
``ast`` (no Spark session is needed).

Delta: ``DeltaStandardWriter._atomic_commit`` assembles and publishes
every commit (its ``commitInfo``, the checkpoint cadence, the cleanup
of an aborted operation's files), and two builders make the ``remove``
action and a new table's ``protocol`` + ``metaData``. No other code of
``delta_standard.py`` (the independent ``DeltaFixtureWriter`` aside)
or ``convert.py`` may build those actions, compute the cadence, remove
staged files or claim a log version.

Hudi: ``HudiCowWriter._commit`` claims (through ``_claim_instant``),
stages and publishes every instant. No other code of ``hudi.py`` (the
independent fixture writers aside) may claim or publish a timeline
file or build a commit's ``operationType``; ``convert.py``'s bootstrap
commits through it too.

Iceberg: ``IcebergWriter._commit`` claims every ``v<N+1>.metadata.json``
and swaps ``version-hint.text``, and ``current_metadata`` is the one
resolver that reads the hint. No other code of ``iceberg.py`` (the
independent ``IcebergFixtureWriter`` aside) or ``convert.py`` may call
``put_if_absent`` or name the hint file."""

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "kafka_delta_ingest_spark")
COMMIT_PATH = {"_atomic_commit", "_remove_action", "_new_table_actions"}


def _tree(module):
    with open(os.path.join(PKG, module)) as f:
        return ast.parse(f.read(), filename=module)


def _scopes(tree, skip=("DeltaFixtureWriter",), named=COMMIT_PATH):
    """(name of the enclosing function or class, node) for every node
    outside the classes in ``skip``: the top-level function or class,
    or the innermost enclosing method named in ``named``."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef) and child.name in skip:
                continue
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)) and scope is None:
                inner = child.name
            elif isinstance(child, ast.FunctionDef) and child.name in named:
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
        ("convert.py", {"_remove_quietly", "put_if_absent"}),
    ],
)
def test_one_delta_commit_path(module, calls):
    bad = [
        f"line {node.lineno}: {what}"
        for scope, node in _scopes(_tree(module))
        if scope not in COMMIT_PATH and (what := _violation(node, calls))
    ]
    assert not bad, f"{module} outside the commit path: {bad}"


HUDI_COMMIT_PATH = {"_claim_instant", "_commit"}


def _hudi_violation(node, scope):
    if isinstance(node, ast.Dict) and any(
        isinstance(k, ast.Constant) and k.value == "operationType"
        for k in node.keys
    ):
        return "an 'operationType' dict literal"
    if isinstance(node, ast.Call) and _call_name(node) == "put_if_absent":
        return "a put_if_absent call"
    # the one other timeline write: a new table's hoodie.properties
    if (
        isinstance(node, ast.Call)
        and _call_name(node) == "put_atomic"
        and not (scope == "__init__" and ast.unparse(node.args[0]) == "props")
    ):
        return "a put_atomic call"
    return None


def test_one_hudi_commit_path():
    tree = _tree("hudi.py")
    bad = [
        f"line {node.lineno}: {what}"
        for scope, node in _scopes(
            tree,
            skip=("HudiFixtureWriter", "HudiMorFixtureWriter"),
            named=HUDI_COMMIT_PATH | {"__init__"},
        )
        if scope not in HUDI_COMMIT_PATH
        and (what := _hudi_violation(node, scope))
    ]
    assert not bad, f"hudi.py outside the commit path: {bad}"


ICEBERG_COMMIT_PATH = {"_commit", "current_metadata"}


def _iceberg_violation(node):
    if isinstance(node, ast.Call) and _call_name(node) == "put_if_absent":
        return "a put_if_absent call"
    if isinstance(node, ast.Constant) and node.value == "version-hint.text":
        return "a version-hint.text path"
    return None


def test_one_iceberg_commit_path():
    bad = [
        f"{module} line {node.lineno}: {what}"
        for module in ("iceberg.py", "convert.py")
        for scope, node in _scopes(
            _tree(module), skip=("IcebergFixtureWriter",), named=ICEBERG_COMMIT_PATH
        )
        if scope not in ICEBERG_COMMIT_PATH and (what := _iceberg_violation(node))
    ]
    assert not bad, f"outside the Iceberg commit path: {bad}"
