"""Deletion-vector READ support for the Delta reader.

Codec tests pin the public formats byte by byte (Z85 spec test vector,
hand-computed roaring container literals) so the reader is not merely
self-consistent with a same-author fixture writer; the table-level
tests forge DV commits the way an external delta-spark writer lays
them out (inline Z85 and ``.bin``-file storage) and check the scan
subtracts exactly the flagged row indexes. Writes/DML/stream/VACUUM
against DV tables must fail loudly.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import pytest

from pyspark_excel_datasource_spark.sources.dvbitmap import (
    DV_MAGIC,
    deleted_row_indexes,
    dv_relative_path,
    parse_dv_blob,
    z85_decode,
    z85_encode,
)
from pyspark_excel_datasource_spark.sources.deltalog import (
    DeltaProtocolError,
    delete_where,
    merge_delta,
    optimize,
    read_delta,
    snapshot,
    vacuum,
    write_delta,
)

# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------


def test_z85_spec_vector():
    """The Z85 spec's own test vector (spec 32/Z85 §test case)."""
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )


def test_z85_rejects_bad_input():
    with pytest.raises(ValueError, match="multiple of 5"):
        z85_decode("abc")
    with pytest.raises(ValueError, match="invalid Z85"):
        z85_decode('abcd"')


def _roaring32(values: list[int]) -> bytes:
    """Independent test-side serializer: portable no-run format."""
    by_key: dict[int, list[int]] = {}
    for v in sorted(values):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    n = len(keys)
    out = struct.pack("<i", 12346) + struct.pack("<i", n)
    for k in keys:
        out += struct.pack("<HH", k, len(by_key[k]) - 1)
    data_start = 8 + 4 * n + 4 * n
    pos = data_start
    offsets = b""
    datas = b""
    for k in keys:
        offsets += struct.pack("<I", pos)
        if len(by_key[k]) <= 4096:
            blob = struct.pack(f"<{len(by_key[k])}H", *by_key[k])
        else:
            words = [0] * 1024
            for lo in by_key[k]:
                words[lo >> 6] |= 1 << (lo & 63)
            blob = struct.pack("<1024Q", *words)
        datas += blob
        pos += len(blob)
    return out + offsets + datas


def _dv_blob(values: list[int]) -> bytes:
    """magic + RoaringBitmapArray over 32-bit buckets."""
    buckets: dict[int, list[int]] = {}
    for v in sorted(values):
        buckets.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    n = (max(buckets) + 1) if buckets else 0
    out = struct.pack("<i", DV_MAGIC) + struct.pack("<q", n)
    for i in range(n):
        out += _roaring32(buckets.get(i, []))
    return out


def test_roaring_array_container_hand_literal():
    """{0, 3} in one array container — every byte written by hand, so the
    parser is checked against the SPEC, not against _roaring32."""
    blob = (
        struct.pack("<i", DV_MAGIC)
        + struct.pack("<q", 1)
        + struct.pack("<i", 12346)  # cookie: no run containers
        + struct.pack("<i", 1)  # 1 container
        + struct.pack("<HH", 0, 1)  # key 0, cardinality-1 = 1
        + struct.pack("<I", 16)  # offset of container data
        + struct.pack("<HH", 0, 3)  # values 0, 3
    )
    assert parse_dv_blob(blob) == [0, 3]


def test_roaring_run_container_hand_literal():
    """A run container [5..9] via the with-run cookie (12347)."""
    cookie = 12347 | (0 << 16)  # (containers - 1) == 0 in the high bits
    blob = (
        struct.pack("<i", DV_MAGIC)
        + struct.pack("<q", 1)
        + struct.pack("<i", cookie)
        + b"\x01"  # run-flag bitset: container 0 is a run container
        + struct.pack("<HH", 0, 4)  # key 0, cardinality-1 = 4
        # < NO_OFFSET_THRESHOLD containers → no offsets section
        + struct.pack("<H", 1)  # 1 run
        + struct.pack("<HH", 5, 4)  # start 5, length-1 = 4 → 5..9
    )
    assert parse_dv_blob(blob) == [5, 6, 7, 8, 9]


def test_roaring_bitmap_container_roundtrip():
    vals = list(range(0, 30000, 3))  # 10k values → bitmap container
    assert parse_dv_blob(_dv_blob(vals)) == sorted(vals)


def test_roaring_multi_key_and_64bit_buckets():
    vals = [1, 70000, (1 << 32) + 5, (1 << 32) + 70001]
    assert parse_dv_blob(_dv_blob(vals)) == sorted(vals)


def test_dv_magic_checked():
    bad = struct.pack("<i", 1234) + struct.pack("<q", 0)
    with pytest.raises(ValueError, match="magic"):
        parse_dv_blob(bad)


def test_dv_relative_path_roundtrip():
    import uuid as _uuid

    u = _uuid.UUID(int=0x123456789ABCDEF0123456789ABCDEF0)
    enc = z85_encode(u.bytes)
    assert dv_relative_path(enc) == f"deletion_vector_{u}.bin"
    assert dv_relative_path("ab" + enc) == f"ab/deletion_vector_{u}.bin"


# ---------------------------------------------------------------------------
# table-level fixtures
# ---------------------------------------------------------------------------


def _inline_descriptor(values: list[int]) -> dict:
    blob = _dv_blob(values)
    padded = blob + b"\x00" * (-len(blob) % 4)
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(padded),
        "sizeInBytes": len(blob),
        "cardinality": len(values),
    }


def _file_descriptor(table_path: str, values: list[int]) -> dict:
    import uuid as _uuid

    u = _uuid.UUID(int=0xABCDEF0123456789ABCDEF0123456789)
    blob = _dv_blob(values)
    rel = f"deletion_vector_{u}.bin"
    offset = 1  # right after the format-version byte
    with open(os.path.join(table_path, rel), "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">i", len(blob)))
        fh.write(blob)
        fh.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
    return {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(u.bytes),
        "offset": offset,
        "sizeInBytes": len(blob),
        "cardinality": len(values),
    }


def _attach_dv(table_path: str, rel_file: str, descriptor: dict, pv: dict | None = None) -> None:
    """Commit vN: re-add one file with a deletion vector + the reader
    feature protocol upgrade, as an external DV writer would."""
    from pyspark_excel_datasource_spark.sources.deltalog import _list_log

    js, _ = _list_log(table_path)
    v = max(js) + 1
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "add": {
                "path": rel_file,
                "partitionValues": pv or {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": descriptor,
            }
        },
    ]
    with open(
        os.path.join(table_path, "_delta_log", f"{v:020d}.json"), "w"
    ) as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _single_file_table(spark, tmp_path, name: str) -> tuple[str, str]:
    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10)], "k long, v string"
    ).coalesce(1)
    write_delta(spark, df, path)
    rel = next(iter(snapshot(path).files))
    return path, rel


def test_inline_dv_filters_rows(spark, tmp_path):
    path, rel = _single_file_table(spark, tmp_path, "dv_inline")
    _attach_dv(path, rel, _inline_descriptor([0, 3, 7]))
    got = sorted(r.k for r in read_delta(spark, path).collect())
    assert got == [1, 2, 4, 5, 6, 8, 9]


def test_file_dv_filters_rows(spark, tmp_path):
    path, rel = _single_file_table(spark, tmp_path, "dv_file")
    _attach_dv(path, rel, _file_descriptor(path, [2, 9]))
    got = sorted(r.k for r in read_delta(spark, path).collect())
    assert got == [0, 1, 3, 4, 5, 6, 7, 8]


def test_dv_time_travel_sees_undeleted_rows(spark, tmp_path):
    path, rel = _single_file_table(spark, tmp_path, "dv_tt")
    _attach_dv(path, rel, _inline_descriptor([5]))
    assert read_delta(spark, path, version=0).count() == 10
    assert read_delta(spark, path).count() == 9


def test_dv_replaced_by_readd_without_dv(spark, tmp_path):
    """A later re-add of the same file WITHOUT a descriptor clears its
    DV (the protocol's replace semantics)."""
    path, rel = _single_file_table(spark, tmp_path, "dv_clear")
    _attach_dv(path, rel, _inline_descriptor([1, 2]))
    assert read_delta(spark, path).count() == 8
    from pyspark_excel_datasource_spark.sources.deltalog import _list_log

    js, _ = _list_log(path)
    with open(
        os.path.join(path, "_delta_log", f"{max(js) + 1:020d}.json"), "w"
    ) as fh:
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    assert read_delta(spark, path).count() == 10


def test_dv_crc_mismatch_raises(spark, tmp_path):
    path, rel = _single_file_table(spark, tmp_path, "dv_crc")
    desc = _file_descriptor(path, [4])
    # corrupt one bitmap byte on disk
    binname = next(n for n in os.listdir(path) if n.endswith(".bin"))
    p = os.path.join(path, binname)
    raw = bytearray(open(p, "rb").read())
    raw[8] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    _attach_dv(path, rel, desc)
    with pytest.raises(Exception, match="checksum"):
        read_delta(spark, path).collect()


def test_dv_cardinality_mismatch_raises(spark, tmp_path):
    path, rel = _single_file_table(spark, tmp_path, "dv_card")
    desc = _inline_descriptor([0, 1])
    desc["cardinality"] = 3
    _attach_dv(path, rel, desc)
    with pytest.raises(Exception, match="cardinality"):
        read_delta(spark, path).collect()


def test_dv_aware_writes_and_maintenance(spark, tmp_path):
    """Round-10 second half: writes and maintenance are DV-AWARE rather
    than refused. Appends add rows without touching DVs; MERGE reads
    the target through the DVs; OPTIMIZE folds them into data; VACUUM
    keeps live .bin sidecars. CDF and RESTORE stay refused (their DV
    semantics are unimplemented)."""
    path, rel = _single_file_table(spark, tmp_path, "dv_aware")
    _attach_dv(path, rel, _inline_descriptor([0]))  # k=0 soft-deleted
    assert read_delta(spark, path).count() == 9
    # append: new file, DV untouched
    df = spark.createDataFrame([(99, "x")], "k long, v string")
    write_delta(spark, df, path, mode="append")
    assert read_delta(spark, path).count() == 10
    assert sorted(r.k for r in read_delta(spark, path).collect())[0] == 1
    # merge reads THROUGH the DV: k=0 is not a matchable target row, so
    # the source row for k=0 INSERTS (once), and the result (an
    # overwrite) clears all DV state
    src = spark.createDataFrame([(0, "resurrect?")], "k long, v string")
    merge_delta(spark, src, path, on=["k"])
    got = read_delta(spark, path)
    assert got.filter("k = 0").count() == 1
    assert snapshot(path).dvs == {}
    # CDF and RESTORE remain refused on DV tables
    from pyspark_excel_datasource_spark.sources.deltalog import (
        read_change_feed,
        restore_table,
    )

    path2, rel2 = _single_file_table(spark, tmp_path, "dv_refused")
    _attach_dv(path2, rel2, _inline_descriptor([0]))
    with pytest.raises(DeltaProtocolError, match="deletion vectors"):
        read_change_feed(spark, path2, 0, 1)
    write_delta(
        spark,
        spark.createDataFrame([(5, "y")], "k long, v string"),
        path2,
        mode="append",
    )
    with pytest.raises(DeltaProtocolError, match="deletion vectors"):
        restore_table(spark, path2, 0)


def test_optimize_folds_dvs_into_data(spark, tmp_path):
    path, rel = _single_file_table(spark, tmp_path, "dv_fold")
    _attach_dv(path, rel, _inline_descriptor([0, 5]))
    assert read_delta(spark, path).count() == 8
    optimize(spark, path)
    snap = snapshot(path)
    assert snap.dvs == {}  # folded: no DV survives compaction
    assert read_delta(spark, path).count() == 8  # and no row resurrected
    assert sorted(r.k for r in read_delta(spark, path).collect()) == [
        1, 2, 3, 4, 6, 7, 8, 9,
    ]


def test_vacuum_keeps_live_dv_sidecars(spark, tmp_path):
    path, rel = _single_file_table(spark, tmp_path, "dv_vacuum")
    desc = _file_descriptor(path, [3])
    _attach_dv(path, rel, desc)
    binname = next(n for n in os.listdir(path) if n.endswith(".bin"))
    removed = vacuum(path)
    assert os.path.exists(os.path.join(path, binname)), "live DV reaped!"
    assert read_delta(spark, path).count() == 9
    # after optimize folds the DV, the .bin is unreferenced -> reaped
    optimize(spark, path)
    vacuum(path)
    assert not os.path.exists(os.path.join(path, binname))
    assert read_delta(spark, path).count() == 9


def test_stream_on_dv_table_raises(spark, tmp_path):
    from pyspark_excel_datasource_spark.sources.delta_stream import (
        register_pydelta,
    )

    path, rel = _single_file_table(spark, tmp_path, "dv_stream")
    _attach_dv(path, rel, _inline_descriptor([0]))
    register_pydelta(spark)
    with pytest.raises(Exception, match="deletion vector"):
        spark.readStream.format("pydelta").load(path).writeStream.format(
            "noop"
        ).trigger(availableNow=True).start().awaitTermination(60)


def test_dv_on_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "dv_part")
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b") for i in range(10)], "k long, p string"
    ).coalesce(1)
    write_delta(spark, df, path, partition_by=("p",))
    snap = snapshot(path)
    rel_a = next(p for p, pv in snap.files.items() if pv["p"] == "a")
    _attach_dv(path, rel_a, _inline_descriptor([0, 4]), pv={"p": "a"})
    got = sorted(r.k for r in read_delta(spark, path).collect())
    # partition a lost its 1st and 5th rows BY POSITION within the file
    assert len(got) == 8
    assert sorted(r.k for r in read_delta(spark, path, partition_filter={"p": {"b"}}).collect()) == [5, 6, 7, 8, 9]


# ---------------------------------------------------------------------------
# property: parse(serialize(S)) == sorted(S) across container types
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.one_of(
            # array containers (sparse), possibly multiple 16-bit keys
            st.sets(st.integers(0, 1 << 20), max_size=300),
            # bitmap containers (dense low range)
            st.sets(st.integers(0, 9000), min_size=4097, max_size=6000),
            # 64-bit buckets
            st.sets(
                st.integers(0, (1 << 33) - 1).map(lambda v: v), max_size=50
            ),
        )
    )
    def test_dv_blob_roundtrip_property(values):
        vals = sorted(values)
        assert parse_dv_blob(_dv_blob(vals)) == vals

except ImportError:  # pragma: no cover
    pass


# ---------------------------------------------------------------------------
# merge-on-read DELETE (we WRITE deletion vectors)
# ---------------------------------------------------------------------------


def test_delete_where_dv_mode_writes_bitmaps_not_files(spark, tmp_path):
    path = str(tmp_path / "mor")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(20)], "k long, v string"
    ).coalesce(1)
    write_delta(spark, df, path)
    files_before = sorted(snapshot(path).files)
    v, touched, untouched = delete_where(
        spark, path, "k % 4 = 0", mode="deletion-vectors"
    )
    assert (v, touched, untouched) == (1, 1, 0)
    snap = snapshot(path)
    # the SAME data files, now annotated — no rewrite happened
    assert sorted(snap.files) == files_before
    assert len(snap.dvs) == 1
    got = sorted(r.k for r in read_delta(spark, path).collect())
    assert got == [k for k in range(20) if k % 4 != 0]
    # time travel still sees the pre-delete rows
    assert read_delta(spark, path, version=0).count() == 20


def test_delete_where_dv_mode_unions_with_existing_dv(spark, tmp_path):
    path = str(tmp_path / "mor_union")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10)], "k long, v string"
    ).coalesce(1)
    write_delta(spark, df, path)
    delete_where(spark, path, "k = 2", mode="deletion-vectors")
    delete_where(spark, path, "k = 7", mode="deletion-vectors")
    got = sorted(r.k for r in read_delta(spark, path).collect())
    assert got == [0, 1, 3, 4, 5, 6, 8, 9]
    # one descriptor carrying BOTH positions (the union, not a replace)
    snap = snapshot(path)
    (desc,) = snap.dvs.values()
    assert desc["cardinality"] == 2


def test_delete_where_dv_then_optimize_folds(spark, tmp_path):
    path = str(tmp_path / "mor_fold")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10)], "k long, v string"
    ).coalesce(1)
    write_delta(spark, df, path)
    delete_where(spark, path, "k >= 8", mode="deletion-vectors")
    optimize(spark, path)
    snap = snapshot(path)
    assert snap.dvs == {}
    assert sorted(r.k for r in read_delta(spark, path).collect()) == list(range(8))


def test_delete_where_dv_large_positions_use_bin_file(spark, tmp_path):
    """Past the inline threshold the descriptor goes to a .bin sidecar
    with the verified frame (version byte / BE size / CRC)."""
    path = str(tmp_path / "mor_big")
    df = spark.createDataFrame(
        [(i, "x") for i in range(20000)], "k long, v string"
    ).coalesce(1)
    write_delta(spark, df, path)
    delete_where(spark, path, "k % 2 = 0", mode="deletion-vectors")
    snap = snapshot(path)
    (desc,) = snap.dvs.values()
    assert desc["storageType"] == "u"
    assert any(n.endswith(".bin") for n in os.listdir(path))
    assert read_delta(spark, path).count() == 10000
    # and the roundtrip through OUR reader matches the predicate exactly
    assert read_delta(spark, path).filter("k % 2 = 0").count() == 0


def test_delete_where_dv_null_predicate_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "mor_null")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k long, v string"
    ).coalesce(1)
    write_delta(spark, df, path)
    delete_where(spark, path, "v = 'a'", mode="deletion-vectors")
    got = sorted(r.k for r in read_delta(spark, path).collect())
    assert got == [2, 3]  # NULL predicate result keeps the row


def test_delete_where_dv_protocol_upgrade(spark, tmp_path):
    path = str(tmp_path / "mor_proto")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)
    write_delta(spark, df, path)
    delete_where(spark, path, "k = 1", mode="deletion-vectors")
    proto = snapshot(path).protocol
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    # checkpoints persist the DV: force one and replay from it
    from pyspark_excel_datasource_spark.sources.deltalog import (
        _write_checkpoint,
    )

    snap = snapshot(path)
    _write_checkpoint(path, snap)
    os.remove(os.path.join(path, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(path, "_delta_log", f"{1:020d}.json"))
    replayed = snapshot(path)
    assert replayed.dvs and replayed.protocol["minReaderVersion"] == 3
    assert sorted(r.k for r in read_delta(spark, path).collect()) == [2]


def test_fold_queries_match_live_recompute(spark):
    """The two round-12 fold gate queries (q_delta_dv_fold /
    q_iceberg_posdel_fold) must agree with a live Spark recompute of
    the surviving-row census over the base tables, and must report the
    delete index fully dropped (n_dvs / n_delete_manifests == 0)."""
    from pyspark.sql import functions as F

    from pyspark_excel_datasource_spark.catalog import table
    from pyspark_excel_datasource_spark.plans.registry import (
        load_all_queries,
    )

    sf = "/root/testdata/sf0.001"
    q = load_all_queries()

    got = {
        r.c_mktsegment: (r.n_cust, r.sum_key, r.n_dvs)
        for r in q["q_delta_dv_fold"](spark, sf).collect()
    }
    want = {
        r.c_mktsegment: (r.n_cust, r.sum_key, 0)
        for r in table(spark, sf, "customer")
        .filter(~(F.col("c_acctbal") < 0))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        )
        .collect()
    }
    assert got == want

    got_i = {
        r.o_orderstatus: (r.n_orders, r.sum_key, r.n_delete_manifests)
        for r in q["q_iceberg_posdel_fold"](spark, sf).collect()
    }
    want_i = {
        r.o_orderstatus: (r.n_orders, r.sum_key, 0)
        for r in table(spark, sf, "orders")
        .filter((F.col("o_orderkey") % 5 == 0) & ~(F.col("o_totalprice") > 300000))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .collect()
    }
    assert got_i == want_i


# ---------------------------------------------------------------------------
# round 13: no-driver-decode read path, both application strategies
# ---------------------------------------------------------------------------


def _dv_table(spark, tmp_path, name: str) -> tuple[str, list[int]]:
    """20-row table with a MOR delete of k % 3 == 0; returns (path,
    expected surviving keys)."""
    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(20)], "k long, v string"
    ).coalesce(1)
    write_delta(spark, df, path)
    delete_where(spark, path, "k % 3 = 0", mode="deletion-vectors")
    return path, [i for i in range(20) if i % 3 != 0]


def test_dv_read_never_decodes_on_driver(spark, tmp_path):
    """The round-13 contract: scanning a DV table decodes bitmaps only
    in tasks (separate Python worker processes) — the driver process's
    decode counter stays flat across the whole read."""
    import pyspark_excel_datasource_spark.sources.dvbitmap as dvb

    path, exp = _dv_table(spark, tmp_path, "dv_no_driver_decode")
    before = dvb._DECODE_CALLS
    got = sorted(r.k for r in read_delta(spark, path).collect())
    assert got == exp
    assert dvb._DECODE_CALLS == before


def test_dv_task_side_path_matches_broadcast(spark, tmp_path):
    """Above spark.graft.dv.broadcastMaxPositions the filter moves
    INSIDE the scan tasks (mapInArrow per-file decode) — same rows, no
    positions broadcast; forced here by setting the bound to 0."""
    path, exp = _dv_table(spark, tmp_path, "dv_task_side")
    base_df = read_delta(spark, path)
    assert "MapInArrow" not in base_df._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(r.k for r in base_df.collect()) == exp
    spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
    try:
        df = read_delta(spark, path)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInArrow" in plan
        assert sorted(r.k for r in df.collect()) == exp
        # DML on top of the task-side read path stays correct too
        delete_where(spark, path, "k = 1", mode="deletion-vectors")
        got = sorted(r.k for r in read_delta(spark, path).collect())
        assert got == [k for k in exp if k != 1]
    finally:
        spark.conf.unset("spark.graft.dv.broadcastMaxPositions")


def test_dv_broadcast_bound_conf_rejects_garbage(spark, tmp_path):
    from pyspark_excel_datasource_spark.sources.deltalog import (
        _dv_broadcast_max,
    )

    spark.conf.set("spark.graft.dv.broadcastMaxPositions", "not-a-number")
    try:
        with pytest.raises(ValueError, match="broadcastMaxPositions"):
            _dv_broadcast_max(spark)
    finally:
        spark.conf.unset("spark.graft.dv.broadcastMaxPositions")
    assert _dv_broadcast_max(spark) == 1_000_000
