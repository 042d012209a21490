import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_rust_spark.codecs.block import (
    available_codecs,
    compress_stream,
    decompress_stream,
)
from orc_rust_spark.codecs.float_plain import decode_float, encode_float


def test_float_golden():
    v = np.array([1.0, -2.5, 3.25], dtype=np.float64)
    assert encode_float(v) == v.tobytes()
    assert (decode_float(v.tobytes(), 3) == v).all()
    f32 = np.array([1.5, -0.25], dtype=np.float32)
    assert (decode_float(encode_float(f32), 2, np.float32) == f32).all()


def test_block_header_framing():
    raw = b"a" * 1000  # compressible
    for codec in available_codecs():
        enc = compress_stream(raw, codec)
        assert decompress_stream(enc, codec) == raw
    enc = compress_stream(raw, "zlib")
    header = int.from_bytes(enc[:3], "little")
    assert header & 1 == 0  # compressed
    assert (header >> 1) == len(enc) - 3


def test_block_incompressible_stored_original():
    rng = np.random.default_rng(1)
    raw = rng.integers(0, 256, size=4096, dtype=np.uint8).tobytes()
    enc = compress_stream(raw, "zlib")
    header = int.from_bytes(enc[:3], "little")
    assert header & 1 == 1  # is_original
    assert decompress_stream(enc, "zlib") == raw


def test_multi_block():
    raw = bytes(range(256)) * 4096  # 1 MiB -> 4 blocks of 256 KiB
    enc = compress_stream(raw, "zlib")
    assert decompress_stream(enc, "zlib") == raw


@given(st.binary(min_size=0, max_size=10000))
@settings(max_examples=30, deadline=None)
def test_block_roundtrip(raw):
    for codec in available_codecs():
        assert decompress_stream(compress_stream(raw, codec, block_size=257), codec) == raw


class TestLzo:
    def test_lzo1x_literals_only(self):
        from orc_rust_spark.codecs.block import lzo1x_decompress

        src = bytes([17 + 5]) + b"hello" + b"\x11\x00\x00"
        assert lzo1x_decompress(src) == b"hello"

    def test_lzo1x_match_copy(self):
        from orc_rust_spark.codecs.block import lzo1x_decompress

        # 'abcd' literals, then a 4-byte match at distance 4 (01LDDDSS with
        # L=1, DDD=3, next byte 0 -> d = 0*8 + 3 + 1 = 4), then EOF
        src = bytes([17 + 4]) + b"abcd" + bytes([0b01101100, 0]) + b"\x11\x00\x00"
        assert lzo1x_decompress(src) == b"abcdabcd"

    def test_lzo1x_overlapping_match(self):
        from orc_rust_spark.codecs.block import lzo1x_decompress

        # 'ab' repeated via overlapping distance-2 match of 8 bytes
        # (1LLDDDSS: LL=3 -> len 8, DDD=1, next 0 -> d = 0*8 + 1 + 1 = 2)
        src = bytes([17 + 2]) + b"ab" + bytes([0b11100100, 0]) + b"\x11\x00\x00"
        assert lzo1x_decompress(src) == b"ab" + b"ab" * 4

    @pytest.mark.reference_fixture
    def test_lzo_orc_file_matches_uncompressed_twin(self):
        """Read-compat against an independently produced LZO ORC file (the
        official alltypes example pair); skipped when the fixture dir is
        absent so the repo stays standalone."""
        import os

        import pytest as _pytest

        lzo_path = "/root/reference/tests/basic/data/alltypes.lzo.orc"
        none_path = "/root/reference/tests/basic/data/alltypes.none.orc"
        if not (os.path.exists(lzo_path) and os.path.exists(none_path)):
            _pytest.skip("alltypes.lzo.orc fixture not available")
        from orc_rust_spark.sources.orc_file import orc_to_table

        assert orc_to_table(lzo_path).equals(orc_to_table(none_path))

    def test_lzo_is_read_only(self):
        from orc_rust_spark.codecs import block as blockc

        assert "lzo" in blockc.readable_codecs()
        assert "lzo" not in blockc.available_codecs()


class TestLz4Native:
    """The r6 native-lz4 decode path (ctypes liblz4) must agree bit-for-bit
    with the fixture-validated pure-Python block decoder on every shape:
    literal-only, matches, overlapping matches, and real compressor
    output."""

    def _vectors(self):
        import pyarrow as pa

        texts = [
            b"",
            b"abc",
            b"a" * 500,  # overlapping match (offset 1)
            b"hello world, " * 200,
            bytes(range(256)) * 40,  # mostly literals
            open(__file__, "rb").read(),
        ]
        codec = pa.Codec("lz4_raw")
        return [(t, codec.compress(t).to_pybytes()) for t in texts if t]

    def test_native_matches_pure_python(self):
        from orc_rust_spark.codecs import block as blockc

        fn = blockc._lz4_native()
        if fn is None:
            pytest.skip("no system liblz4")
        for raw, comp in self._vectors():
            assert blockc._lz4_native_decompress(comp, fn) == raw
            assert blockc._lz4_block_decompress_py(comp) == raw

    def test_native_available_in_this_container(self):
        # this sandbox ships liblz4.so.1; if the loader ever regresses the
        # lz4 scan silently drops to 26.7 MB/s — fail loudly instead.
        # (lazy since code-review r6: resolved on first use, not import)
        from orc_rust_spark.codecs import block as blockc

        assert blockc._lz4_native() is not None

    def test_golden_block_matches_embedded_vector(self):
        # the embedded self-check golden must itself be a valid block the
        # pure-Python decoder agrees on (guards against a stale literal)
        from orc_rust_spark.codecs import block as blockc

        assert blockc._lz4_block_decompress_py(
            blockc._LZ4_GOLDEN_COMP) == blockc._LZ4_GOLDEN_RAW

    def test_corrupt_input_falls_back_not_hangs(self):
        from orc_rust_spark.codecs import block as blockc

        fn = blockc._lz4_native()
        if fn is None:
            pytest.skip("no system liblz4")
        # corrupt stream: native safe-decode keeps failing while the cap
        # grows, returns None, and the caller's pure-Python path raises
        assert blockc._lz4_native_decompress(
            b"\xff\xff\xff\xff\xff", fn) is None
