"""The package has one Delta log: no module of it, nor the query
registry in ``__spark_entry__.py``, may import the removed
``_kdi_log`` table modules or name that log directory. Parsed with
``ast``, so no Spark session is needed."""

import ast
import os

import pytest

ROOT = os.path.join(os.path.dirname(__file__), os.pardir)
PKG = os.path.join(ROOT, "kafka_delta_ingest_spark")
MODULES = sorted(
    os.path.relpath(os.path.join(d, f), PKG)
    for d, _dirs, files in os.walk(PKG)
    for f in files
    if f.endswith(".py")
) + [os.path.join(os.pardir, "__spark_entry__.py")]
FORBIDDEN = [
    "kafka_delta_ingest_spark.sinks.delta_like",
    "kafka_delta_ingest_spark.sinks.log_compare",
    "kafka_delta_ingest_spark.streaming.feed",
]


def _imported_modules(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


@pytest.mark.parametrize("module", MODULES)
def test_ingest_path_does_not_import_kdi_log(module):
    with open(os.path.join(PKG, module)) as f:
        tree = ast.parse(f.read(), filename=module)
    bad = sorted(
        {
            m
            for m in _imported_modules(tree)
            if any(m == f or m.startswith(f + ".") for f in FORBIDDEN)
        }
    )
    assert not bad, f"{module} imports {bad}"
    kdi_log = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        and "_kdi_log" in n.value
    ]
    assert not kdi_log, f"{module} names _kdi_log at lines {kdi_log}"
