import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_delta_ingest_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kdi-tests", cpus=int(os.environ.get("TEST_CPUS", "8")))
    yield s


SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def untracked_parquet(root: str) -> list[str]:
    """Parquet files under a Delta table's root (its ``_delta_log``
    aside) that no add, remove or cdc action of any commit names: the
    leftovers of a write whose commit did not land."""
    import json
    import urllib.parse

    log = os.path.join(root, "_delta_log")
    named = set()
    for name in os.listdir(log):
        if name.endswith(".json") and name[:20].isdigit():
            with open(os.path.join(log, name)) as f:
                for line in f:
                    act = json.loads(line)
                    for kind in ("add", "remove", "cdc"):
                        if kind in act:
                            named.add(urllib.parse.unquote(act[kind]["path"]))
    found = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        if not os.path.relpath(d, root).startswith("_delta_log")
        for f in files
        if f.endswith(".parquet")
    }
    return sorted(found - named)
