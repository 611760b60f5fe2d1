"""Additional source formats beyond parquet/CSV: ORC and JSON round-trips
(SURVEY §2B multi-format scan; Avro needs an external jar — gated)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table


def _rows(df, *keys):
    return [tuple(r) for r in df.orderBy(*keys).collect()]


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert _rows(back, "o_orderkey") == _rows(src, "o_orderkey")


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc2")
    src.write.mode("overwrite").orc(out)
    got = spark.read.orc(out).filter(F.col("o_totalprice") > 450000).count()
    want = src.filter(F.col("o_totalprice") > 450000).count()
    assert got == want


def test_json_roundtrip_with_schema(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "customer")
    out = str(tmp_path / "cust_json")
    src.write.mode("overwrite").json(out)
    back = spark.read.schema(src.schema).json(out)
    assert _rows(back, "c_custkey") == _rows(src, "c_custkey")


def test_json_nested_read(spark, tmp_path):
    p = tmp_path / "nested.json"
    p.write_text(
        '{"id": 1, "meta": {"tags": ["a", "b"], "score": 0.5}}\n'
        '{"id": 2, "meta": {"tags": [], "score": null}}\n'
    )
    df = spark.read.schema(
        "id long, meta struct<tags: array<string>, score: double>"
    ).json(str(p))
    rows = {r.id: (r.meta.tags, r.meta.score) for r in df.collect()}
    assert rows == {1: (["a", "b"], 0.5), 2: ([], None)}
    # nested access + explode
    n = df.select("id", F.explode_outer("meta.tags").alias("tag")).count()
    assert n == 3  # two tags for id 1, one null row for id 2


def test_avro_builtin_gated(spark, tmp_path):
    """Spark's BUILT-IN avro format still needs the external spark-avro
    jar (absent by design) — pin the clean error.  The engine's own Avro
    surface is the pure-Python `avrodir` DataSource (sources/avro_io.py),
    tested below and oracle-checked by `scan_avro_roundtrip`."""
    df = spark.range(3)
    with pytest.raises(Exception, match="avro|AVRO|Failed to find"):
        df.write.format("avro").save(str(tmp_path / "a"))


def test_avro_codec_golden_bytes_and_roundtrip():
    """Wire-format pin against the Avro 1.11 spec: a container file
    hand-assembled byte-for-byte (magic, metadata map, zigzag varints,
    IEEE doubles, sync markers, null codec) must decode to the expected
    rows — so the decoder is checked against the SPEC, not against our
    own encoder.  Then the encoder round-trips edge values through both
    codecs across block boundaries."""
    import hashlib as _h
    import json as _json
    import struct as _struct

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": ["null", "double"]},
            {"name": "s", "type": "string"},
        ],
    }
    sj = _json.dumps(schema).encode()
    sync = b"0123456789abcdef"
    # hand-built per spec: zigzag(2)=4 map entries follow
    hdr = b"Obj\x01" + bytes([4])
    for k, v in (("avro.codec", b"null"), ("avro.schema", sj)):
        kb = k.encode()
        hdr += bytes([len(kb) * 2]) + kb
        # varint length of v (all < 2**13 here)
        n = len(v) * 2
        hdr += (bytes([n]) if n < 128 else bytes([(n & 0x7F) | 0x80, n >> 7])) + v
    hdr += b"\x00" + sync
    # one block, two records:
    #   (5, 1.5, "ab")  →  zz(5)=0x0A, union branch 1 = 0x02, <d 1.5, zz(2)+"ab"
    #   (-3, None, "")  →  zz(-3)=0x05, union branch 0 = 0x00, zz(0)
    body = (
        b"\x0a\x02" + _struct.pack("<d", 1.5) + b"\x04ab"
        + b"\x05\x00\x00"
    )
    block = bytes([2 * 2]) + bytes([len(body) * 2]) + body + sync
    got_schema, rows = decode_avro(hdr + block)
    assert got_schema == schema
    assert rows == [(5, 1.5, "ab"), (-3, None, "")]

    edge = [
        (2**62, 0.5, "x"),
        (-(2**62), None, ""),
        (0, -0.0, "émoji ✓ \u2603"),
        (1, float("inf"), "y" * 300),
    ]
    for codec in ("null", "deflate"):
        data = encode_avro(edge, schema, codec=codec, block_rows=3)
        _, back = decode_avro(data)
        assert back == edge, codec


def test_avro_array_map_block_form_golden_bytes():
    """Spec pin for the BLOCK form of array/map encodings (Avro 1.11
    "Data Serialization": a NEGATIVE item count is followed by the
    block's byte size, enabling skip-ahead): our encoder always writes
    the positive-count form, so the block-form READ path gets its own
    hand-assembled golden container — decoder checked against the spec,
    not our encoder."""
    import json as _json

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
    }
    sj = _json.dumps(schema).encode()
    sync = b"0123456789abcdef"
    hdr = b"Obj\x01" + bytes([4])
    for k, v in (("avro.codec", b"null"), ("avro.schema", sj)):
        kb = k.encode()
        hdr += bytes([len(kb) * 2]) + kb
        n = len(v) * 2
        hdr += (bytes([n]) if n < 128 else bytes([(n & 0x7F) | 0x80, n >> 7])) + v
    hdr += b"\x00" + sync
    # one record:
    #   arr = [7, 9] written as a NEGATIVE-count block:
    #     zz(-2)=0x03, byte size zz(2)=0x04, zz(7)=0x0e, zz(9)=0x12,
    #     terminator zz(0)=0x00
    #   m = {"a": 1} also block form:
    #     zz(-1)=0x01, byte size zz(4)=0x08,
    #     key zz(1)=0x02 + b"a", value zz(1)=0x02, terminator 0x00
    body = bytes.fromhex("03040e1200") + bytes.fromhex("0108") + b"\x02a\x02" + b"\x00"
    block = bytes([1 * 2]) + bytes([len(body) * 2]) + body + sync
    got_schema, rows = decode_avro(hdr + block)
    assert got_schema == schema
    assert rows == [([7, 9], {"a": 1})]


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.dictionaries(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), max_codepoint=0x2FFF
                ),
                max_size=8,
            ),
            st.lists(
                st.tuples(
                    st.integers(min_value=-(2**62), max_value=2**62),
                    st.one_of(
                        st.none(),
                        st.text(max_size=12),
                    ),
                    st.sampled_from(["RED", "GREEN", "BLUE"]),
                ),
                max_size=4,
            ),
            max_size=3,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_avro_complex_nested_fuzz(values):
    """Property fuzz for the complex types the way scalars already are:
    a record-in-array-in-map column (with a nullable union and an enum
    INSIDE the nested record) must round-trip encode_avro → decode_avro
    exactly, across both codecs and block boundaries."""
    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "rid", "type": "long"},
            {
                "name": "m",
                "type": {
                    "type": "map",
                    "values": {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "p",
                            "fields": [
                                {"name": "x", "type": "long"},
                                {"name": "s", "type": ["null", "string"]},
                                {
                                    "name": "c",
                                    "type": {
                                        "type": "enum",
                                        "name": "col",
                                        "symbols": [
                                            "RED", "GREEN", "BLUE",
                                        ],
                                    },
                                },
                            ],
                        },
                    },
                },
            },
        ],
    }
    records = [(i, m) for i, m in enumerate(values)]
    for codec in ("null", "deflate"):
        data = encode_avro(records, schema, codec=codec, block_rows=7)
        _, back = decode_avro(data)
        assert len(back) == len(records)
        for (rid, m), (grid, gm) in zip(records, back):
            assert grid == rid
            assert set(gm) == set(m)
            for k, items in m.items():
                assert gm[k] == [tuple(t) for t in items]


def test_avrodir_datasource_write_read(spark, tmp_path):
    """The registered avrodir DataSource end-to-end on a Spark session:
    custom writer (commit manifest) → schema discovery from the embedded
    header → partition-parallel read — values and types intact."""
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroDataSource,
    )

    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass
    out = str(tmp_path / "avro_out")
    df = spark.createDataFrame(
        [(1, 2.5, "a", True), (2, None, "b", False), (3, -1.25, "", True)],
        "k long, x double, s string, f boolean",
    )
    df.repartition(2).write.format("avrodir").option("path", out).mode(
        "append"
    ).save()
    assert _os.path.exists(_os.path.join(out, "_DONE"))
    back = spark.read.format("avrodir").option("path", out).load()
    assert back.schema.simpleString() == "struct<k:bigint,x:double,s:string,f:boolean>"
    got = {tuple(r) for r in back.collect()}
    assert got == {(1, 2.5, "a", True), (2, None, "b", False), (3, -1.25, "", True)}


def test_avrodir_datasource_snappy_codec(spark, tmp_path):
    """The snappy codec through the registered DataSource: write with
    .option('codec', 'snappy'), read back value-intact (header declares
    avro.codec=snappy; blocks carry the verified CRC32)."""
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroDataSource,
        read_avro_schema,
    )

    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass
    out = str(tmp_path / "avro_snappy")
    df = spark.createDataFrame(
        [(1, "aaa" * 40), (2, None), (3, "xyz")], "k long, s string"
    )
    df.write.format("avrodir").option("path", out).option(
        "codec", "snappy"
    ).mode("append").save()
    first = sorted(
        f for f in _os.listdir(out) if f.endswith(".avro")
    )[0]
    payload = open(_os.path.join(out, first), "rb").read()
    assert b"snappy" in payload[:400]  # header metadata declares codec
    assert read_avro_schema(payload)["type"] == "record"
    back = spark.read.format("avrodir").option("path", out).load()
    assert {tuple(r) for r in back.collect()} == {
        (1, "aaa" * 40), (2, None), (3, "xyz")
    }


def test_avro_codec_property_roundtrip():
    """Hypothesis: arbitrary rows over the supported type lattice
    (nullable long/double/string/bytes/boolean, extreme ints, NaN-free
    floats, unicode incl. surrogate-adjacent chars, odd block sizes)
    round-trip byte-exactly through both codecs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "d", "type": ["null", "double"]},
            {"name": "s", "type": "string"},
            {"name": "b", "type": ["null", "bytes"]},
            {"name": "f", "type": "boolean"},
        ],
    }
    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    doubles = st.one_of(
        st.none(),
        st.floats(allow_nan=False, width=64),
    )
    rows = st.lists(
        st.tuples(
            longs,
            doubles,
            st.text(max_size=50),
            st.one_of(st.none(), st.binary(max_size=40)),
            st.booleans(),
        ),
        max_size=30,
    )

    @given(rows=rows, codec=st.sampled_from(["null", "deflate"]),
           block=st.integers(min_value=1, max_value=7))
    @settings(max_examples=150, deadline=None)
    def check(rows, codec, block):
        data = encode_avro(rows, schema, codec=codec, block_rows=block)
        got_schema, back = decode_avro(data)
        assert got_schema == schema
        assert back == rows

    check()


def test_avro_logical_types_golden_and_roundtrip():
    """Logical types pinned against the spec: a golden container with a
    `date` (int days) and nullable `timestamp-micros` (long micros)
    field hand-assembled byte-for-byte decodes to the expected Python
    date/datetime values; then edge values (pre-1970 dates, microsecond
    precision, None) round-trip through both codecs."""
    import datetime as dt
    import json as _json
    import struct as _struct

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "t",
                "type": [
                    "null",
                    {"type": "long", "logicalType": "timestamp-micros"},
                ],
            },
        ],
    }
    sj = _json.dumps(schema).encode()
    sync = b"fedcba9876543210"
    hdr = b"Obj\x01" + bytes([4])
    for k, v in (("avro.codec", b"null"), ("avro.schema", sj)):
        kb = k.encode()
        hdr += bytes([len(kb) * 2]) + kb
        n = len(v) * 2
        hdr += (
            bytes([n]) if n < 128 else bytes([(n & 0x7F) | 0x80, n >> 7])
        ) + v
    hdr += b"\x00" + sync
    # rec 1: 2024-01-01 = day 19723 -> zz = 39446; union branch 1;
    #        1970-01-01T00:00:00.000001 -> 1 micro -> zz(1)=0x02
    # rec 2: 1969-12-31 = day -1 -> zz(-1)=0x01; union branch 0 (null)
    def zz(n):
        u = (n << 1) ^ (n >> 63)
        out = b""
        while True:
            b = u & 0x7F
            u >>= 7
            if u:
                out += bytes([b | 0x80])
            else:
                return out + bytes([b])

    body = zz(19723) + b"\x02" + zz(1) + zz(-1) + b"\x00"
    block = zz(2) + zz(len(body)) + body + sync
    got_schema, rows = decode_avro(hdr + block)
    assert got_schema == schema
    assert rows == [
        (dt.date(2024, 1, 1), dt.datetime(1970, 1, 1, 0, 0, 0, 1)),
        (dt.date(1969, 12, 31), None),
    ]

    edge = [
        (dt.date(1, 1, 1), dt.datetime(2024, 6, 1, 12, 34, 56, 789012)),
        (dt.date(9999, 12, 31), None),
        (dt.date(1969, 12, 31), dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
    ]
    for codec in ("null", "deflate"):
        data = encode_avro(edge, schema, codec=codec, block_rows=2)
        _, back = decode_avro(data)
        assert back == edge, codec


def test_avrodir_date_column_spark_roundtrip(spark, tmp_path):
    """DateType survives the avrodir DataSource end-to-end with schema
    discovery mapping the logical type back to Spark `date`."""
    import datetime as dt
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroDataSource,
    )

    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass
    out = str(tmp_path / "avro_dates")
    df = spark.createDataFrame(
        [(1, dt.date(1992, 1, 1)), (2, dt.date(1998, 12, 31)), (3, dt.date(1969, 7, 20))],
        "k long, d date",
    )
    df.coalesce(1).write.format("avrodir").option("path", out).mode("append").save()
    assert _os.path.exists(_os.path.join(out, "_DONE"))
    back = spark.read.format("avrodir").option("path", out).load()
    assert back.schema.simpleString() == "struct<k:bigint,d:date>"
    got = {(r.k, r.d) for r in back.collect()}
    assert got == {(1, dt.date(1992, 1, 1)), (2, dt.date(1998, 12, 31)), (3, dt.date(1969, 7, 20))}


def test_avro_corrupt_payload_contracts():
    """Corrupt containers fail CLEANLY (typed errors, no silent partial
    rows): wrong magic, truncated header, flipped sync marker, block
    byte-size lying about the decoded row count, unsupported codec."""
    import json as _json

    import pytest as _pytest

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": "k", "type": "long"}],
    }
    good = encode_avro([(1,), (2,), (3,)], schema, codec="null", block_rows=2)

    with _pytest.raises(ValueError, match="not an Avro"):
        decode_avro(b"NOPE" + good[4:])

    with _pytest.raises((IndexError, ValueError)):
        decode_avro(good[:10])  # truncated mid-header

    from impala_avx2_parquet_scanner_spark.sources.avro_io import _read_header

    _schema, _codec, sync, data_start = _read_header(good)
    header = good[:data_start]

    # flip one byte of the final block's trailing sync marker
    bad_sync = bytearray(good)
    bad_sync[-1] ^= 0xFF
    with _pytest.raises(ValueError, match="sync"):
        decode_avro(bytes(bad_sync))

    # block claims 2 rows but carries 3 values' worth of bytes
    body = b"\x02\x04\x06"  # zigzag 1, 2, 3
    lying = header + b"\x04" + bytes([len(body) * 2]) + body + sync
    with _pytest.raises(ValueError, match="size mismatch"):
        decode_avro(lying)

    with _pytest.raises(NotImplementedError, match="codec"):
        bad_codec = good.replace(b"null", b"lzma", 1)
        decode_avro(bad_codec)

    with _pytest.raises(NotImplementedError, match="codec"):
        encode_avro([(1,)], schema, codec="zstandard")

    # unsupported schema shapes raise NotImplementedError, not garbage
    # (arrays/enums/nested records/maps since round 6, fixed since
    # round 7 — a bogus primitive is the representative bad shape)
    with _pytest.raises(NotImplementedError):
        encode_avro([], {"type": "record", "name": "r",
                        "fields": [{"name": "a", "type": "decimal128"}]})
    enum_json = _json.dumps(
        {"type": "enum", "name": "e", "symbols": ["A"]}
    ).encode()
    kb = b"avro.schema"
    enum_hdr = (
        b"Obj\x01"
        + bytes([2])  # 1 metadata entry
        + bytes([len(kb) * 2]) + kb
        + bytes([len(enum_json) * 2]) + enum_json
        + b"\x00"
        + sync
    )
    with _pytest.raises(NotImplementedError, match="record"):
        decode_avro(enum_hdr)


def test_avro_complex_types_golden_and_roundtrip():
    """Avro "Complex Types" (round 6): enum (zigzag symbol index),
    nested record (field encodings concatenated), array (count-prefixed
    blocks, 0-terminated; the negative-count/byte-size block form is
    accepted on read).  The record value is hand-encoded from the spec
    first, so the decoder is pinned to the WIRE, not to our encoder."""
    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        _decode_value,
        _encode_value,
        decode_avro,
        encode_avro,
    )

    rec_type = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "tag",
                "type": {
                    "type": "enum",
                    "name": "color",
                    "symbols": ["BLUE", "GREEN", "RED"],
                },
            },
            {
                "name": "pt",
                "type": {
                    "type": "record",
                    "name": "pt",
                    "fields": [
                        {"name": "x", "type": "int"},
                        {"name": "y", "type": ["null", "int"]},
                    ],
                },
            },
            {"name": "vals", "type": {"type": "array", "items": "long"}},
        ],
    }
    value = {"id": 3, "tag": "RED", "pt": {"x": 5, "y": None}, "vals": [1, 2]}
    # hand-assembled: zz(3)=06 | enum idx zz(2)=04 | x zz(5)=0a, y branch
    # zz(0)=00 | array count zz(2)=04, zz(1)=02, zz(2)=04, terminator 00
    golden = bytes.fromhex("06040a0004020400")
    assert _encode_value(rec_type, value) == golden
    decoded, pos = _decode_value(rec_type, golden, 0)
    assert pos == len(golden)
    assert decoded == (3, "RED", (5, None), [1, 2])

    # negative-count block form (spec: count<0 ⇒ followed by byte size)
    neg_block = bytes.fromhex("0304020400")  # zz(-2), zz(2 bytes), 1, 2, end
    arr, pos = _decode_value({"type": "array", "items": "long"}, neg_block, 0)
    assert (arr, pos) == ([1, 2], len(neg_block))

    # container round-trip through both codecs, tuples for records
    rows = [
        (1, "BLUE", (0, 7), []),
        (2, "GREEN", (-4, None), [10, -10, 2**40]),
    ]
    for codec in ("null", "deflate"):
        data = encode_avro(rows, rec_type, codec=codec, block_rows=1)
        _, back = decode_avro(data)
        assert back == rows, codec


def test_avro_complex_schema_ddl_and_unsupported_gates():
    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        avro_schema_to_ddl,
    )
    import pytest as _pytest

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "tag",
                "type": {"type": "enum", "name": "c", "symbols": ["A", "B"]},
            },
            {
                "name": "pt",
                "type": {
                    "type": "record",
                    "name": "pt",
                    "fields": [
                        {"name": "x", "type": "int"},
                        {"name": "y", "type": ["null", "double"]},
                    ],
                },
            },
            {"name": "vals", "type": {"type": "array", "items": "string"}},
        ],
    }
    assert avro_schema_to_ddl(schema) == (
        "id bigint, tag string, pt struct<x:int,y:double>, "
        "vals array<string>"
    )
    # map supported (string keys per spec); fixed surfaces as binary
    assert avro_schema_to_ddl(
        {"type": "record", "name": "r",
         "fields": [{"name": "m", "type": {"type": "map", "values": "long"}}]}
    ) == "m map<string,bigint>"
    assert avro_schema_to_ddl(
        {"type": "record", "name": "r",
         "fields": [{"name": "m",
                     "type": {"type": "fixed", "name": "f", "size": 4}}]}
    ) == "m binary"


def test_snappy_decompressor_golden_and_fuzz():
    """Pure-Python snappy raw-block format: the decompressor is pinned
    against HAND-ASSEMBLED compressed blocks exercising every tag kind
    (literal, 1-byte-offset copy with overlap, 2-byte-offset copy) per
    google/snappy format_description.txt — checked against the SPEC,
    not our own emitter — then compress→decompress round-trips fuzz."""
    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        _snappy_compress,
        _snappy_decompress,
    )

    # "abcabcabcabcXY": literal "abc", overlapping 1-byte-offset copy
    # (offset 3, length 9), literal "XY"
    blob = bytes([0x0E, 0x08]) + b"abc" + bytes([0x15, 0x03, 0x04]) + b"XY"
    assert _snappy_decompress(blob) == b"abcabcabcabcXY"
    # "zzzz": literal "z" + 2-byte-offset copy (offset 1, length 3)
    blob2 = bytes([0x04, 0x00]) + b"z" + bytes([0x0A, 0x01, 0x00])
    assert _snappy_decompress(blob2) == b"zzzz"
    # 4-byte-offset copy kind: same "zzzz" with a wide offset field
    blob3 = bytes([0x04, 0x00]) + b"z" + bytes([0x0B, 0x01, 0, 0, 0])
    assert _snappy_decompress(blob3) == b"zzzz"
    # bad offset rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="offset"):
        _snappy_decompress(bytes([0x04, 0x0A, 0x05, 0x00]))

    import random

    rnd = random.Random(7)
    for trial in range(50):
        n = rnd.randrange(0, 200_000 if trial % 10 == 0 else 500)
        data = bytes(rnd.randrange(256) for _ in range(min(n, 3000)))
        data = data * (n // max(len(data), 1) + 1) if data else b""
        assert _snappy_decompress(_snappy_compress(data)) == data


def test_snappy_decompressor_rejects_a_wrong_length_preamble():
    """A preamble over the format's 2**32 - 1 cap, or one the body does
    not fill, is a corrupt block: ValueError, never an overflow or a
    padded result."""
    import pytest as _pytest

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        _snappy_decompress,
    )

    body = bytes([0x00]) + b"z"  # literal "z"
    for preamble in (bytes([0xFF] * 9 + [0x01]), bytes([0x80] * 4 + [0x10]), b"\x02"):
        with _pytest.raises(ValueError):
            _snappy_decompress(preamble + body)


def test_avro_snappy_codec_roundtrip_and_crc():
    """Avro snappy codec: block = snappy data + big-endian CRC32 of the
    UNCOMPRESSED bytes (Avro 1.11 spec).  Round-trips across block
    boundaries; a corrupted block fails the CRC check loudly."""
    import pytest as _pytest

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    rows = [(i, None if i % 3 == 0 else "v" * (i % 17)) for i in range(40)]
    data = encode_avro(rows, schema, codec="snappy", block_rows=7)
    got_schema, back = decode_avro(data)
    assert got_schema == schema and back == rows

    # flip one byte inside the first compressed block body
    corrupted = bytearray(data)
    # header ends after magic+meta+sync; find the first block's body by
    # corrupting a byte near the middle of the container
    corrupted[len(corrupted) // 2] ^= 0xFF
    with _pytest.raises(Exception):  # CRC mismatch or decode failure
        decode_avro(bytes(corrupted))


def test_avro_decimal_uuid_millis_logical_types():
    """Round-7 logical types (Avro 1.11 "Logical Types"): decimal over
    bytes AND over fixed (two's-complement big-endian unscaled int,
    exact-scale enforcement), uuid (string passthrough),
    timestamp-millis, time-micros.  Golden wire bytes pin the decimal
    encoding; round-trips cover all three codecs; DDL mapping surfaces
    decimal(p,s)."""
    import datetime as _dt
    import decimal as _decimal
    import json as _json

    import pytest as _pytest

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        avro_schema_to_ddl,
        decode_avro,
        encode_avro,
    )

    D = _decimal.Decimal
    dec_b = {"type": "bytes", "logicalType": "decimal",
             "precision": 12, "scale": 2}
    dec_f = {"type": "fixed", "name": "d8", "size": 8,
             "logicalType": "decimal", "precision": 18, "scale": 4}
    schema = {
        "type": "record", "name": "row",
        "fields": [
            {"name": "amt", "type": dec_b},
            {"name": "famt", "type": dec_f},
            {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
            {"name": "tms",
             "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "tmic",
             "type": {"type": "long", "logicalType": "time-micros"}},
            {"name": "opt", "type": ["null", dec_b]},
        ],
    }
    assert avro_schema_to_ddl(schema) == (
        "amt decimal(12,2), famt decimal(18,4), u string, "
        "tms timestamp_ntz, tmic bigint, opt decimal(12,2)"
    )

    # golden: decimal -1.50 scale 2 → unscaled -150 → big-endian signed
    # minimal bytes FF 6A with zigzag length prefix 0x04
    g_schema = {"type": "record", "name": "g", "fields": [
        {"name": "a", "type": dec_b}]}
    sj = _json.dumps(g_schema).encode()
    sync = b"0123456789abcdef"
    hdr = b"Obj\x01" + bytes([4])
    for kname, v in (("avro.codec", b"null"), ("avro.schema", sj)):
        kb = kname.encode()
        hdr += bytes([len(kb) * 2]) + kb
        n = len(v) * 2
        hdr += (bytes([n]) if n < 128 else bytes([(n & 0x7F) | 0x80, n >> 7])) + v
    hdr += b"\x00" + sync
    body = bytes([0x04, 0xFF, 0x6A])
    block = bytes([2]) + bytes([len(body) * 2]) + body + sync
    _, rows = decode_avro(hdr + block)
    assert rows == [(D("-1.50"),)]

    edge = [
        (D("-1.50"), D("12345.6789"),
         "123e4567-e89b-12d3-a456-426614174000",
         _dt.datetime(2024, 3, 1, 12, 0, 0, 250000), 86399999999, None),
        (D("0.00"), D("-0.0001"), "",
         _dt.datetime(1969, 12, 31, 23, 59, 59, 999000), 0, D("999.99")),
        (D("9999999999.99"), D("0.0000"), "x",
         _dt.datetime(1970, 1, 1), 1, D("-999.99")),
    ]
    for codec in ("null", "deflate", "snappy"):
        data = encode_avro(edge, schema, codec=codec, block_rows=2)
        _, back = decode_avro(data)
        assert back == edge, codec

    # exactness contracts: scale overflow and fixed-width overflow raise
    with _pytest.raises(ValueError, match="scale 2 exactly"):
        encode_avro(
            [(D("1.005"), D("1"), "u", _dt.datetime(1970, 1, 1), 0, None)],
            schema, codec="null",
        )
    tight = {"type": "record", "name": "t", "fields": [
        {"name": "b", "type": {"type": "fixed", "name": "d1", "size": 1,
                               "logicalType": "decimal", "precision": 18,
                               "scale": 10}}]}
    with _pytest.raises(ValueError, match="fixed size"):
        encode_avro([(D("123456"),)], tight, codec="null")


def test_avrodir_decimal_spark_roundtrip(spark, tmp_path):
    """Spark DecimalType(p,s) through the avrodir DataSource: writes as
    bytes-backed avro decimal, reads back as decimal(p,s) exactly."""
    import decimal as _decimal

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroDataSource,
    )

    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass
    D = _decimal.Decimal
    out = str(tmp_path / "avro_dec")
    df = spark.createDataFrame(
        [(1, D("-1.50")), (2, None), (3, D("9999999999.99"))],
        "k long, amt decimal(12,2)",
    )
    df.write.format("avrodir").option("path", out).mode("append").save()
    back = spark.read.format("avrodir").option("path", out).load()
    assert back.schema.simpleString() == "struct<k:bigint,amt:decimal(12,2)>"
    got = {(r.k, r.amt) for r in back.collect()}
    assert got == {(1, D("-1.50")), (2, None), (3, D("9999999999.99"))}


def test_avro_fixed_golden_and_roundtrip():
    """Avro `fixed` (round 7): exactly `size` raw bytes on the wire — no
    length prefix.  Golden container hand-assembled per the spec, then
    encoder round-trips (standalone, inside a null-union, and inside an
    array), and a wrong-length value raises instead of corrupting."""
    import json as _json

    import pytest as _pytest

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    fixed4 = {"type": "fixed", "name": "f4", "size": 4}
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "h", "type": fixed4},
            {"name": "opt", "type": ["null", fixed4]},
        ],
    }
    sj = _json.dumps(schema).encode()
    sync = b"0123456789abcdef"
    hdr = b"Obj\x01" + bytes([4])
    for kname, v in (("avro.codec", b"null"), ("avro.schema", sj)):
        kb = kname.encode()
        hdr += bytes([len(kb) * 2]) + kb
        n = len(v) * 2
        hdr += (bytes([n]) if n < 128 else bytes([(n & 0x7F) | 0x80, n >> 7])) + v
    hdr += b"\x00" + sync
    # one record: k=5 (zz 0x0a), h=DEADBEEF raw, opt=branch 1 + CAFEBABE
    body = b"\x0a" + bytes.fromhex("deadbeef") + b"\x02" + bytes.fromhex(
        "cafebabe"
    )
    block = bytes([1 * 2]) + bytes([len(body) * 2]) + body + sync
    got_schema, rows = decode_avro(hdr + block)
    assert got_schema == schema
    assert rows == [(5, bytes.fromhex("deadbeef"), bytes.fromhex("cafebabe"))]

    edge = [
        (1, b"\x00\x00\x00\x00", None),
        (2, b"\xff\xfe\xfd\xfc", b"abcd"),
        (3, bytes.fromhex("deadbeef"), b"\x00\xff\x00\xff"),
    ]
    for codec in ("null", "deflate"):
        data = encode_avro(edge, schema, codec=codec, block_rows=2)
        _, back = decode_avro(data)
        assert back == edge, codec

    arr_schema = {
        "type": "record", "name": "r",
        "fields": [{"name": "hs", "type": {"type": "array", "items": fixed4}}],
    }
    data = encode_avro([([b"aaaa", b"bbbb"],), ([],)], arr_schema, codec="null")
    _, back = decode_avro(data)
    assert back == [([b"aaaa", b"bbbb"],), ([],)]

    with _pytest.raises(ValueError, match="exactly 4"):
        encode_avro([(1, b"toolongvalue", None)], schema, codec="null")


def test_avro_map_golden_and_spark_roundtrip(spark, tmp_path):
    """Avro map: block form over (key string, value) pairs, keys sorted
    on write for determinism; golden bytes pin the wire, then a Spark
    map<string,bigint> column round-trips through the DataSource."""
    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroDataSource,
        _decode_value,
        _encode_value,
    )

    mtype = {"type": "map", "values": "long"}
    # {"a":1,"b":-2} → zz(2)=04 | zz(1)"a" 02 61 | zz(1)=02 | zz(1)"b"
    # 02 62 | zz(-2)=03 | terminator 00
    golden = bytes.fromhex("0402610202620300")
    assert _encode_value(mtype, {"b": -2, "a": 1}) == golden  # sorted keys
    decoded, pos = _decode_value(mtype, golden, 0)
    assert (decoded, pos) == ({"a": 1, "b": -2}, len(golden))

    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass
    out = str(tmp_path / "map_avro")
    df = spark.createDataFrame(
        [(1, {"x": 10, "y": 20}), (2, {}), (3, None)],
        "id bigint, props map<string,bigint>",
    )
    df.write.format("avrodir").mode("overwrite").option("path", out).save()
    back = (
        spark.read.format("avrodir").option("path", out).load()
        .orderBy("id").collect()
    )
    assert [(r.id, r.props) for r in back] == [
        (1, {"x": 10, "y": 20}), (2, {}), (3, None)
    ]


def test_avrodir_nested_struct_array_spark_roundtrip(spark, tmp_path):
    """End-to-end through the registered DataSource with struct and
    array columns: Spark schema → avro complex schema → container files
    → planning-time schema discovery → decoded rows."""
    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroDataSource,
    )

    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass
    out = str(tmp_path / "nested_avro")
    df = spark.createDataFrame(
        [
            (1, ("a", 10), [1, 2, 3]),
            (2, ("b", None), []),
            (3, None, [7]),
        ],
        "id bigint, pt struct<name:string,score:bigint>, vals array<bigint>",
    )
    df.write.format("avrodir").mode("overwrite").option("path", out).save()
    back = (
        spark.read.format("avrodir").option("path", out).load()
        .orderBy("id")
        .collect()
    )
    assert [(r.id, tuple(r.pt) if r.pt is not None else None, r.vals)
            for r in back] == [
        (1, ("a", 10), [1, 2, 3]),
        (2, ("b", None), []),
        (3, None, [7]),
    ]


def test_avrodir_streaming_exactly_once(spark, tmp_path):
    """The streaming Avro scanner (round 8 — completes the custom-format
    trio next to fledir/ppmdir): every container's rows delivered
    exactly once across micro-batches, late-arriving files picked up by
    the next batch, torn foreign files deferred until complete."""
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroDataSource,
        encode_avro,
    )

    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass
    d = str(tmp_path / "avro_stream_in")
    _os.makedirs(d)
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    }

    def put(i: int):
        data = encode_avro([(i, f"v{i}")], schema, codec="null")
        with open(_os.path.join(d, f"part-{i:04d}.avro"), "wb") as fh:
            fh.write(data)

    for i in (1, 2, 3):
        put(i)
    stream = spark.readStream.format("avrodir").option("path", d).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("avro_stream_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        for i in (4, 5):  # late arrivals
            put(i)
        q.processAllAvailable()
        rows = spark.table("avro_stream_out").collect()
    finally:
        q.stop()
    assert sorted((r.k, r.s) for r in rows) == [
        (i, f"v{i}") for i in (1, 2, 3, 4, 5)
    ]


def test_avro_stream_replay_between_offsets_matches_batch(tmp_path):
    """Checkpoint-recovery: readBetweenOffsets rebuilds each micro-batch
    exactly from a fresh reader; torn foreign files stay out of batch
    AND offset until complete; micro-batch union == batch decode."""
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.avro_io import (
        AvroStreamReader,
        decode_avro,
        encode_avro,
    )

    d = str(tmp_path / "avro_replay")
    _os.makedirs(d)
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "long"}],
    }

    def put(i: int):
        with open(_os.path.join(d, f"part-{i:04d}.avro"), "wb") as fh:
            fh.write(encode_avro([(i,)], schema, codec="null"))

    put(1)
    put(2)
    r = AvroStreamReader({"path": d})
    off0 = r.initialOffset()
    rows1, off1 = r.read(off0)
    rows1 = list(rows1)
    assert sorted(off1["names"]) == ["part-0001.avro", "part-0002.avro"]

    put(3)
    with open(_os.path.join(d, "part-0004.avro"), "wb") as fh:
        fh.write(b"Obj\x01\x02")  # torn mid-header
    rows2, off2 = r.read(off1)
    rows2 = list(rows2)
    assert "part-0004.avro" not in off2["names"]

    r2 = AvroStreamReader({"path": d})  # post-crash replay
    assert list(r2.readBetweenOffsets(off0, off1)) == rows1
    assert list(r2.readBetweenOffsets(off1, off2)) == rows2

    put(4)  # torn file completed (overwritten whole)
    rows3, off3 = r.read(off2)
    rows3 = list(rows3)
    assert "part-0004.avro" in off3["names"]

    batch = []
    for name in sorted(_os.listdir(d)):
        if name.endswith(".avro"):
            with open(_os.path.join(d, name), "rb") as fh:
                batch.extend(tuple(t) for t in decode_avro(fh.read())[1])
    assert sorted(rows1 + rows2 + rows3) == sorted(batch)
