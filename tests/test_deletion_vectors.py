"""Deletion-vector format tests (sinks/deletion_vectors.py).

The binary format is pinned against the PUBLIC specs — Delta
PROTOCOL.md §Deletion Vectors (file layout, descriptor, base85 uuid)
and the RoaringBitmap interoperable format spec
(github.com/RoaringBitmap/RoaringFormatSpec) — with golden bytes, so
any drift an external reader would trip over fails here first.
"""

from __future__ import annotations

import os
import struct
import uuid
import zlib

import pytest

from component_delta_lake_writer_spark.sinks.deletion_vectors import (
    MAGIC_PORTABLE,
    _decode_uuid_b85,
    _encode_uuid_b85,
    deserialize_bitmap,
    dv_relative_path,
    read_dv,
    serialize_bitmap,
    write_dv_file,
)


def test_golden_bytes_small_bitmap():
    """Hand-derived layout for {1, 5, 65536}: portable magic + one
    32-bit bitmap, no-run cookie 12346, two array containers (keys 0
    and 1) with the offset header 12346 always carries."""
    data = serialize_bitmap([1, 5, 65536])
    assert data.hex() == (
        "d1d33964"              # magic 1681511377 LE
        "0100000000000000"      # 1 bitmap (int64 LE)
        "3a300000"              # cookie 12346 LE
        "02000000"              # 2 containers
        "0000" "0100"           # key 0, cardinality-1 = 1
        "0100" "0000"           # key 1, cardinality-1 = 0
        "18000000" "1c000000"   # container offsets 24, 28
        "0100" "0500"           # container 0: values 1, 5
        "0000"                  # container 1: value 0 (=65536)
    )
    assert deserialize_bitmap(data) == [1, 5, 65536]


@pytest.mark.parametrize(
    "values",
    [
        [],
        [0],
        [4095, 4096, 4097],
        list(range(0, 20000, 3)),          # bitmap container (>4096)
        [7, (1 << 32) + 7, (3 << 32) + 1], # 64-bit highs with a gap
        [65535, 65536, (1 << 20)],
    ],
)
def test_bitmap_roundtrip(values):
    assert deserialize_bitmap(serialize_bitmap(values)) == sorted(set(values))


def test_run_container_deserialization():
    """External writers may emit run containers (cookie 12347); the
    reader must parse them. Hand-build one: a single run container
    covering [10, 14]."""
    n = 1
    cookie = struct.pack("<I", 12347 | ((n - 1) << 16))
    run_flags = bytes([0b1])            # container 0 is a run
    desc = struct.pack("<HH", 0, 5 - 1)  # key 0, cardinality 5
    # n < 4 and run cookie -> no offset header
    payload = struct.pack("<HHH", 1, 10, 4)  # 1 run: start 10, len-1 4
    bitmap = cookie + run_flags + desc + payload
    data = struct.pack("<iq", MAGIC_PORTABLE, 1) + bitmap
    assert deserialize_bitmap(data) == [10, 11, 12, 13, 14]


def test_b85_uuid_roundtrip_is_20_chars():
    u = uuid.uuid4()
    enc = _encode_uuid_b85(u)
    assert len(enc) == 20
    assert _decode_uuid_b85(enc) == u


def test_dv_file_layout_and_descriptor(tmp_path):
    d = str(tmp_path)
    descs = write_dv_file(d, {"a.parquet": [3, 1, 2], "b.parquet": [9]})
    # ONE physical file for both DVs, derived name from the b85 uuid
    rels = {dv_relative_path(x) for x in descs.values()}
    assert len(rels) == 1
    (rel,) = rels
    assert rel.startswith("deletion_vector_") and rel.endswith(".bin")
    with open(os.path.join(d, rel), "rb") as f:
        raw = f.read()
    assert raw[0] == 1  # format version byte
    for path, desc in descs.items():
        assert desc["storageType"] == "u"
        off = desc["offset"]
        (size,) = struct.unpack_from(">i", raw, off)
        assert size == desc["sizeInBytes"]
        body = raw[off + 4 : off + 4 + size]
        (crc,) = struct.unpack_from(">I", raw, off + 4 + size)
        assert crc == zlib.crc32(body) & 0xFFFFFFFF
        assert read_dv(d, desc) == sorted(
            {"a.parquet": [1, 2, 3], "b.parquet": [9]}[path]
        )


def test_read_dv_detects_corruption(tmp_path):
    d = str(tmp_path)
    (desc,) = write_dv_file(d, {"a.parquet": [1, 2, 3]}).values()
    rel = dv_relative_path(desc)
    p = os.path.join(d, rel)
    raw = bytearray(open(p, "rb").read())
    raw[desc["offset"] + 6] ^= 0xFF  # flip a data byte
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="checksum"):
        read_dv(d, desc)
    # cardinality lies are caught too
    (desc2,) = write_dv_file(d, {"a.parquet": [1, 2, 3]}).values()
    bad = dict(desc2, cardinality=99)
    with pytest.raises(ValueError, match="cardinality"):
        read_dv(d, bad)


def test_inline_dv_descriptor_read(tmp_path):
    """storageType 'i': the bitmap rides base85 in the descriptor
    itself — external writers use it for tiny DVs."""
    import base64

    data = serialize_bitmap([2, 4])
    desc = {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(data).decode(),
        "sizeInBytes": len(data),
        "cardinality": 2,
    }
    assert read_dv(str(tmp_path), desc) == [2, 4]


def test_driver_tier_matches_spark_tier(spark, tmp_path):
    """The driver-only DV materialization tier (small delete set,
    unpartitioned layout, targeted-unit rows under
    mirror.dvDriverScanMaxRows) must produce byte-identical bitmaps to
    the distributed semi-join path. Two identical tables, one forced
    down the Spark tier via dvDriverScanMaxRows=0; multi-column PK to
    exercise the tuple match."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )
    from component_delta_lake_writer_spark.sinks.managed_table import (
        ManagedTable,
    )

    df = spark.range(500).select(
        (F.col("id") % 50).alias("a"),
        (F.col("id") / 50).cast("long").alias("b"),
        (F.col("id") * 3).alias("v"),
    )
    upd = df.filter((F.col("a") % 7 == 0) & (F.col("b") % 2 == 0)).withColumn(
        "v", F.lit(-1).cast("long")
    )

    states = {}
    for name, props in (
        ("driver", {}),
        ("sparkpath", {"mirror.dvDriverScanMaxRows": 0}),
    ):
        t = ManagedTable(spark, str(tmp_path / name))
        t.write(
            df.coalesce(4), mode="overwrite",
            primary_key=["a", "b"], properties=props,
        )
        t.upsert(
            upd.coalesce(1), ["a", "b"],
            strategy="merge-on-read", properties=props,
        )
        dvs = live_dv_descriptors(t.path)
        states[name] = {
            os.path.basename(rel): sorted(read_dv(t.path, d))
            for rel, d in dvs.items()
        }
        assert states[name], "expected at least one DV"
    # same file count and, matching files by row-content via the
    # engine read, identical sorted index multisets
    drv = sorted(map(tuple, states["driver"].values()))
    spk = sorted(map(tuple, states["sparkpath"].values()))
    assert drv == spk


@pytest.mark.slow
def test_partitioned_table_skips_driver_tier(spark, tmp_path):
    """Hive-partitioned layouts must take the Spark tier (partition
    columns live in directory paths, not parquet files) and still
    produce a correct external snapshot."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks.delta_log import (
        delta_log_is_stale,
        read_delta_table,
    )
    from component_delta_lake_writer_spark.sinks.managed_table import (
        ManagedTable,
    )

    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    t = ManagedTable(spark, str(tmp_path / "pt"))
    t.write(
        df, mode="overwrite", primary_key=["k"], partition_by=["p"]
    )
    t.upsert(
        df.filter(F.col("k") % 9 == 0).withColumn(
            "v", F.lit(-5).cast("long")
        ),
        ["k"],
        strategy="merge-on-read",
    )
    assert delta_log_is_stale(t.path) is None
    eng = sorted((r["k"], r["p"], r["v"]) for r in t.read().collect())
    ext = sorted(
        (r["k"], r["p"], r["v"])
        for r in read_delta_table(spark, t.path).collect()
    )
    assert eng == ext


@pytest.mark.slow
def test_driver_tier_keys_above_collect_bound(spark, tmp_path):
    """Keys between _DV_COLLECT_MAX and the driver bound take the
    driver tier (matched output is bounded by the target-row bound,
    not the key count) and match the executor bitmap path exactly."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )
    from component_delta_lake_writer_spark.sinks.managed_table import (
        _DV_COLLECT_MAX,
        ManagedTable,
    )

    n = _DV_COLLECT_MAX + 20_000
    df = spark.range(2 * n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    upd = df.filter(F.col("k") % 2 == 0).withColumn(
        "v", F.lit(-1).cast("long")
    )  # n keys > collect bound
    states = {}
    for name, props in (
        ("driver", {}),
        ("sparkpath", {"mirror.dvDriverScanMaxRows": 0}),
    ):
        t = ManagedTable(spark, str(tmp_path / name))
        t.write(
            df.coalesce(4), mode="overwrite",
            primary_key=["k"], properties=props,
        )
        t.upsert(
            upd, ["k"], strategy="merge-on-read", properties=props
        )
        dvs = live_dv_descriptors(t.path)
        states[name] = sorted(
            tuple(read_dv(t.path, d)) for d in dvs.values()
        )
        assert states[name]
    assert states["driver"] == states["sparkpath"]
