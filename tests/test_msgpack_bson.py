"""MsgPack / BSONEachRow codec tests (public wire specs).

Reference: src/Processors/Formats/Impl/MsgPackRow{Input,Output}Format.cpp,
BSONEachRowRow{Input,Output}Format.cpp. The long-tuple byte vector is the
reference's own 02591_bson_long_tuple.reference output.
"""

from __future__ import annotations

import os
import struct

import pytest

from clickhouse_23_3_19_32_lts_spark.sources.msgpack_bson import (
    FormatError,
    decode_bson_each_row,
    decode_msgpack,
    encode_bson_each_row,
    encode_msgpack,
    mp_pack,
    mp_unpack,
)
from tests.test_golden_corpus import BASE as REF_TESTS


def _mp_roundtrip(v):
    out = bytearray()
    mp_pack(v, out)
    got, pos = mp_unpack(bytes(out), 0)
    assert pos == len(out)
    return got


@pytest.mark.parametrize(
    "v",
    [
        None, True, False, 0, 1, 127, 128, 255, 256, 65535, 65536,
        2**32 - 1, 2**32, 2**63 - 1, -1, -31, -32, -33, -128, -129,
        -32768, -32769, -(2**31), -(2**63), 1.5, -2.25, "", "hello",
        "x" * 40, "x" * 300, b"\x00\x01\xff", [1, "a", None],
        list(range(20)), {"k": 1, "n": [1, 2]},
    ],
)
def test_msgpack_roundtrip(v):
    assert _mp_roundtrip(v) == v


def test_msgpack_rows():
    rows = [[1, "a", 1.5], [2, "b", None]]
    data = encode_msgpack(rows)
    assert decode_msgpack(data, 3) == rows
    with pytest.raises(FormatError):
        decode_msgpack(data, 4)  # 6 values don't fill 4-col rows


def test_msgpack_truncation_raises():
    out = bytearray()
    mp_pack(2**40, out)
    with pytest.raises(FormatError):
        mp_unpack(bytes(out[:-2]), 0)


@pytest.mark.skipif(
    not os.path.isdir(REF_TESTS),
    reason="reference test corpus not present: BSON reference-vector coverage lost",
)
def test_bson_long_tuple_reference_vector():
    """Byte-exact against the reference's own 02591 output: an 11-element
    unnamed tuple of UInt8 renders as a BSON array doc with int32 items."""
    want = open(
        "/root/reference/tests/queries/0_stateless/02591_bson_long_tuple.reference",
        "rb",
    ).read()
    ty = "Tuple(" + ", ".join(["UInt8"] * 11) + ")"
    got = encode_bson_each_row([[list(range(1, 12))]], [("x", ty)])
    assert got == want


def test_bson_roundtrip_scalars():
    meta = [("i", "Int32"), ("u", "UInt64"), ("f", "Float64"),
            ("s", "String"), ("n", "Nullable(Int32)")]
    rows = [[1, 2**40, 1.5, "hi", None], [-7, 3, -0.25, "é", 9]]
    data = encode_bson_each_row(rows, meta)
    back = decode_bson_each_row(data)
    assert len(back) == 2
    assert back[0]["i"] == 1 and back[0]["u"] == 2**40
    assert back[0]["n"] is None and back[1]["n"] == 9
    # String default is BSON binary (output_format_bson_string_as_string=0)
    assert back[1]["s"].decode("utf-8") == "é"


def test_bson_invalid_size_raises():
    with pytest.raises(FormatError):
        decode_bson_each_row(b"\x00\x00\x00\x00")  # 02589: size 0 < 5
    with pytest.raises(FormatError):
        decode_bson_each_row(struct.pack("<i", 100) + b"\x00")  # overrun


def test_bson_duplicate_column_raises():
    # 02590's exact payload: two 'x' elements in one document
    data = bytes.fromhex(
        "1a0000001078002a0000001078002a0000001079002a00000000"
    )
    with pytest.raises(FormatError):
        decode_bson_each_row(data)
