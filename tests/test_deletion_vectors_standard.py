"""Standard-Delta deletion vectors: the roaring/Z85 codecs against
their public format specs, the DV file framing (size + CRC), and
read_delta applying u-type/inline descriptors — including cumulative
DVs and partitioned tables. (The kdi sink's own parquet-sidecar DVs
are covered in tests/test_deletion_vectors.py; this file is the
STANDARD-layout protocol format.)"""

import os

import pytest

from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_delta_ingest_spark.delta_standard import (
    DeltaFixtureWriter,
    read_delta,
)
from kafka_delta_ingest_spark.roaring import (
    deserialize_rbm_array,
    dv_descriptor_bytes,
    serialize_rbm_array,
    write_dv_file,
    z85_decode,
    z85_encode,
)

_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("grp", StringType()),
        StructField("val", LongType()),
    ]
)


def test_z85_roundtrip_and_reference_vector():
    # RFC 32/Z85 reference vector: 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B
    # encodes to "HelloWorld"
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F,
                             0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )
    for b in (b"", b"abcd", bytes(range(16)), b"\xff" * 32):
        assert z85_decode(z85_encode(b)) == b
    with pytest.raises(ValueError, match="multiple of 4"):
        z85_encode(b"abc")
    with pytest.raises(ValueError, match="invalid z85"):
        z85_decode('"""""')


@pytest.mark.parametrize(
    "values",
    [
        [],
        [0],
        [0, 1, 2, 65535, 65536, 1 << 20],
        list(range(5000)),                       # bitmap container
        [i * 3 for i in range(10000)],           # sparse bitmap
        [(1 << 32) + 7, (3 << 32) + 1, 5],       # multiple high keys
    ],
)
def test_roaring_array_roundtrip(values):
    assert deserialize_rbm_array(serialize_rbm_array(values)) == sorted(
        set(values)
    )


def test_roaring_run_container_decodes():
    # the writer never emits run containers, but real Delta writers do
    # — hand-assemble one and decode it
    import struct

    n = 1
    out = bytearray()
    out += struct.pack("<i", 12347 | ((n - 1) << 16))  # run cookie
    out += b"\x01"  # run flag for container 0
    card = 10
    out += struct.pack("<HH", 0, card - 1)
    # count >= 4 would add offsets; n=1 < threshold → none
    out += struct.pack("<H", 2)  # two runs
    out += struct.pack("<HH", 5, 3)   # 5..8
    out += struct.pack("<HH", 100, 5)  # 100..105
    blob = struct.pack("<iq", 1681511377, 1) + bytes(out)
    assert deserialize_rbm_array(blob) == [5, 6, 7, 8] + list(
        range(100, 106)
    )


def test_dv_file_framing_and_crc(tmp_path):
    p = str(tmp_path / "dv.bin")
    metas = write_dv_file(p, [[1, 2, 3], list(range(100))])
    assert metas[0]["offset"] == 1 and metas[0]["cardinality"] == 3
    desc = {"storageType": "p", "pathOrInlineDv": p, **metas[1]}
    got = deserialize_rbm_array(dv_descriptor_bytes("", desc))
    assert got == list(range(100))
    # flip a data byte → CRC must catch it
    with open(p, "r+b") as f:
        f.seek(metas[0]["offset"] + 4 + 2)
        b = f.read(1)
        f.seek(metas[0]["offset"] + 4 + 2)
        f.write(bytes([b[0] ^ 0xFF]))
    bad = {"storageType": "p", "pathOrInlineDv": p, **metas[0]}
    with pytest.raises(ValueError, match="checksum"):
        dv_descriptor_bytes("", bad)


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "t")
    w = DeltaFixtureWriter(t, _SCHEMA)
    w.add_files(
        [({}, [{"doc_id": i, "grp": "a", "val": i * 10}
               for i in range(10)])],
        timestamp_ms=1000,
    )
    w.add_files(
        [({}, [{"doc_id": i, "grp": "b", "val": i * 10}
               for i in range(10, 15)])],
        timestamp_ms=2000,
    )
    return t, w


def test_read_delta_applies_deletion_vectors(spark, table):
    t, w = table
    import glob as _glob

    first = sorted(
        os.path.relpath(p, t) for p in _glob.glob(t + "/part-*.parquet")
    )[0]
    w.delete_rows(first, [0, 3], timestamp_ms=3000)
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [1, 2] + list(range(4, 15))
    # time travel to before the DV still sees all rows
    assert read_delta(spark, t, version=1).count() == 15


def test_cumulative_deletion_vectors(spark, table):
    t, w = table
    import glob as _glob

    first = sorted(
        os.path.relpath(p, t) for p in _glob.glob(t + "/part-*.parquet")
    )[0]
    w.delete_rows(first, [0], timestamp_ms=3000)
    w.delete_rows(first, [4, 5], timestamp_ms=4000)  # unions with [0]
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [1, 2, 3] + list(range(6, 15))


def test_inline_deletion_vector(spark, table):
    # storageType "i": the bitmap travels z85-encoded inside the log
    t, w = table
    import glob as _glob
    import json as _json

    from kafka_delta_ingest_spark.roaring import (
        serialize_rbm_array as _ser,
        z85_encode as _z85,
    )

    first = sorted(
        os.path.relpath(p, t) for p in _glob.glob(t + "/part-*.parquet")
    )[0]
    data = _ser([1, 2])
    # z85 encodes 4-byte groups; this bitmap serializes to 32 bytes
    assert len(data) % 4 == 0
    log = os.path.join(t, "_delta_log")
    cur = None
    for f in sorted(os.listdir(log)):
        if not f.endswith(".json"):
            continue
        for line in open(os.path.join(log, f)):
            a = _json.loads(line)
            if "add" in a and a["add"]["path"] == first:
                cur = a["add"]
    new_add = dict(cur)
    new_add["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": _z85(data),
        "sizeInBytes": len(data),
        "cardinality": 2,
    }
    with open(os.path.join(log, "%020d.json" % 2), "w") as f:
        f.write(_json.dumps({"commitInfo": {"operation": "DELETE",
                                            "timestamp": 3000}}) + "\n")
        f.write(_json.dumps({"remove": {"path": first,
                                        "deletionTimestamp": 3000,
                                        "dataChange": False}}) + "\n")
        f.write(_json.dumps({"add": new_add}) + "\n")
    got = sorted(r.doc_id for r in read_delta(spark, t).collect())
    assert got == [0] + list(range(3, 15))


def test_dv_on_partitioned_table(spark, tmp_path):
    t = str(tmp_path / "p")
    w = DeltaFixtureWriter(t, _SCHEMA, partition_cols=["grp"])
    w.add_files(
        [({"grp": "a"},
          [{"doc_id": i, "grp": "a", "val": i} for i in range(6)]),
         ({"grp": "b"},
          [{"doc_id": i, "grp": "b", "val": i} for i in range(6, 9)])],
        timestamp_ms=1000,
    )
    import glob as _glob

    f_a = os.path.relpath(_glob.glob(t + "/grp=a/*.parquet")[0], t)
    w.delete_rows(f_a, [1, 2], timestamp_ms=2000)
    got = sorted((r.doc_id, r.grp) for r in read_delta(spark, t).collect())
    assert got == [(0, "a"), (3, "a"), (4, "a"), (5, "a"),
                   (6, "b"), (7, "b"), (8, "b")]


def test_roaring_run_cookie_unsigned_container_count():
    # r8 ADVICE (low): the run cookie packs (container_count - 1) in
    # the upper 16 bits of one 32-bit word; with >= 32769 containers a
    # SIGNED unpack goes negative and corrupts the parse.
    import struct

    n = 32770
    out = bytearray()
    out += struct.pack("<I", 12347 | ((n - 1) << 16))
    out += b"\xff" * ((n + 7) // 8)  # every container is a run
    for k in range(n):
        out += struct.pack("<HH", k, 0)  # cardinality 1
    out += b"\x00" * (4 * n)  # offsets (skipped by sequential parse)
    out += struct.pack("<HHH", 1, 5, 0) * n  # one run: [5, 5]
    blob = struct.pack("<iq", 1681511377, 1) + bytes(out)
    got = deserialize_rbm_array(blob)
    assert len(got) == n
    assert got[0] == 5 and got[-1] == ((n - 1) << 16) + 5


def test_vacuum_age_gates_unreferenced_dv_bins(tmp_path):
    # r8 ADVICE (medium): an in-flight delete_where writes its .bin
    # BEFORE committing the descriptor — vacuum must age-gate
    # unreferenced bins like data tombstones, not delete them on sight.
    import time

    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
    )

    t = str(tmp_path / "vage")
    w = DeltaStandardWriter(t)
    os.makedirs(t, exist_ok=True)
    young = os.path.join(
        t, "deletion_vector_00000000-0000-0000-0000-0000000000aa.bin"
    )
    old = os.path.join(
        t, "deletion_vector_00000000-0000-0000-0000-0000000000bb.bin"
    )
    open(young, "wb").write(b"x")
    open(old, "wb").write(b"x")
    day_ms = 24 * 3600 * 1000
    past = time.time() - 3 * 24 * 3600
    os.utime(old, (past, past))
    # empty log: make one commit so replay has a metaData
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    w.write(
        spark.range(1).selectExpr("id as doc_id")
    )
    deleted = w.vacuum(retention_ms=day_ms)
    assert os.path.basename(old) in deleted
    assert os.path.basename(young) not in deleted
    assert os.path.exists(young) and not os.path.exists(old)


def test_rbm_cardinality_matches_full_decode():
    import random

    from kafka_delta_ingest_spark.roaring import (
        deserialize_rbm_array,
        rbm_array_cardinality,
        serialize_rbm_array,
    )

    random.seed(7)
    cases = [
        list(range(500_000)),  # dense runs: tiny bytes, huge cardinality
        random.sample(range(10_000_000), 5000),  # array containers
        list(range(0, 200_000, 2)),  # bitmap containers
        [random.randrange(0, 2**40) for _ in range(3000)],  # many highs
        [0],
        [2**40 - 1],
    ]
    for vals in cases:
        vals = sorted(set(vals))
        buf = serialize_rbm_array(vals)
        assert rbm_array_cardinality(buf) == len(deserialize_rbm_array(buf)) == len(vals)


def test_run_encoded_dv_is_not_size_broadcastable():
    """The ADVICE scenario: dense contiguous deletes run-encode far
    below the old 256 KiB byte gate while expanding to 500k positions —
    the cardinality gate must see the expansion."""
    from kafka_delta_ingest_spark.roaring import (
        rbm_array_cardinality,
        serialize_rbm_array,
    )

    buf = serialize_rbm_array(list(range(500_000)))
    assert len(buf) <= 256 * 1024  # old gate would have broadcast it
    assert rbm_array_cardinality(buf) == 500_000  # new gate refuses
