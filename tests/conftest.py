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


def untracked_hudi_files(root: str) -> list[str]:
    """What an aborted write can leave in a Hudi table: data files
    under the root (``.hoodie`` aside) that no completed instant's
    write stats name, and the ``.requested``/``.inflight`` markers of
    instants that never completed."""
    import json
    import re

    hoodie = os.path.join(root, ".hoodie")
    names = set(os.listdir(hoodie))
    named = set()
    pending = []
    for name in sorted(names):
        if re.match(r"^\d{14,17}\.\w+$", name):
            with open(os.path.join(hoodie, name)) as f:
                meta = json.load(f)
            for stats in (meta.get("partitionToWriteStats") or {}).values():
                named.update(st["path"] for st in stats)
        m = re.match(r"^(\d{14,17}\.\w+)\.(requested|inflight)$", name)
        if m and m.group(1) not in names:
            pending.append(os.path.join(".hoodie", name))
    found = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        if not os.path.relpath(d, root).startswith(".hoodie")
        for f in files
    }
    return sorted(found - named) + pending


def untracked_iceberg_files(root: str) -> list[str]:
    """What an aborted write can leave in an Iceberg table: files
    under ``data/``, and manifests and manifest lists under
    ``metadata/``, that no snapshot of the newest metadata version
    names. The version is found by listing, independently of the
    package's resolver."""
    import json
    import re

    from kafka_delta_ingest_spark.avro_python import read_container

    def avro(path):
        with open(path.removeprefix("file:"), "rb") as f:
            return read_container(f.read())[1]

    mdir = os.path.join(root, "metadata")
    versions = [
        int(m.group(1))
        for m in map(re.compile(r"v(\d+)\.metadata\.json").fullmatch, os.listdir(mdir))
        if m
    ]
    named = set()
    if versions:
        with open(os.path.join(mdir, f"v{max(versions)}.metadata.json")) as f:
            meta = json.load(f)
        for snap in meta.get("snapshots", []):
            named.add(snap["manifest-list"])
            for m in avro(snap["manifest-list"]):
                named.add(m["manifest_path"])
                named.update(
                    e["data_file"]["file_path"]
                    for e in avro(m["manifest_path"])
                    if e["status"] != 2
                )
    named = {os.path.relpath(p.removeprefix("file:"), root) for p in named}
    found = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(os.path.join(root, "data"))
        for f in files
    } | {
        os.path.join("metadata", f) for f in os.listdir(mdir) if f.endswith(".avro")
    }
    return sorted(found - named)
