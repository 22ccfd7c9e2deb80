"""The ingest path writes through sinks.base only: none of its modules
may import the ``_kdi_log`` table (sinks.delta_like). Parsed with
``ast``, so no Spark session is needed."""

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "kafka_delta_ingest_spark")
INGEST_PATH = [
    "ingest.py",
    "dead_letters.py",
    "offsets.py",
    "delta_standard.py",
    "iceberg.py",
    "hudi.py",
    "convert.py",
]
FORBIDDEN = "kafka_delta_ingest_spark.sinks.delta_like"


def _imported_modules(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


@pytest.mark.parametrize("module", INGEST_PATH)
def test_ingest_path_does_not_import_kdi_log(module):
    with open(os.path.join(PKG, module)) as f:
        tree = ast.parse(f.read(), filename=module)
    bad = sorted(
        {m for m in _imported_modules(tree) if m == FORBIDDEN or m.startswith(FORBIDDEN + ".")}
    )
    assert not bad, f"{module} imports {bad}"
