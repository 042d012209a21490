"""Write-side ORC UNION support (r6): tagged-struct columns
(struct<tag:int8, v0, ...> — the exact shape our reader's union decode
produces, src/array_decoder/union.rs read contract) emit real K_UNION
type trees with a byte-RLE tag stream and per-variant dense children.
The reference writer rejects ALL nested types (src/writer/stripe.rs:187);
this closes the last read-only row of §2.6."""

import numpy as np
import pyarrow as pa
import pytest

from orc_rust_spark.sources.orc_file import (
    K_UNION,
    read_metadata,
    write_orc,
)
from tests.test_orc_interop import orc_to_table


def _tagged(n=25_000, with_nulls=True, seed=3):
    """tagged struct: variant 0 = int64, variant 1 = string."""
    rng = np.random.default_rng(seed)
    tags = rng.integers(0, 2, n).astype(np.int8)
    f0_vals = rng.integers(-1000, 1000, n)
    valid = rng.random(n) > 0.1 if with_nulls else np.ones(n, bool)
    rows = []
    for i in range(n):
        if not valid[i]:
            rows.append(None)
        elif tags[i] == 0:
            rows.append({"tag": 0, "f0": int(f0_vals[i]), "f1": None})
        else:
            rows.append({"tag": 1, "f0": None, "f1": f"s{i % 777}"})
    typ = pa.struct([("tag", pa.int8()), ("f0", pa.int64()),
                     ("f1", pa.string())])
    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "u": pa.array(rows, type=typ),
    })


@pytest.mark.parametrize("comp", ["none", "zlib"])
def test_union_write_roundtrip_ours(tmp_path, comp):
    """Multi-group (25k rows > 2 index groups) tagged-struct union with
    top-level nulls roundtrips bit-exactly through our writer + reader."""
    tbl = _tagged()
    path = str(tmp_path / f"u_{comp}.orc")
    write_orc(tbl, path, compression=comp, union_columns=["u"])
    meta = read_metadata(path)
    kinds = {c: meta.types[c].kind for c in meta.types[0].subtypes}
    assert K_UNION in kinds.values()

    back = orc_to_table(path)
    assert back.column("id").to_pylist() == tbl.column("id").to_pylist()
    src_u = tbl.column("u").combine_chunks()
    got_u = back.column("u").combine_chunks()
    # expected values respect top-level nulls (pa.array keeps child slots
    # under a null parent; the ORC roundtrip correctly masks them)
    parent_ok = np.asarray(src_u.is_valid())
    tags = src_u.field("tag").to_pylist()
    want_tags = [t if ok else None for t, ok in zip(tags, parent_ok)]
    assert got_u.field("tag").to_pylist() == want_tags
    # variant values compare where their tag fires; the writer stores them
    # densely so the reader's take() re-expansion must reproduce them
    for fname, want_tag in (("f0", 0), ("f1", 1)):
        want = [v if (ok and t == want_tag) else None
                for v, t, ok in zip(src_u.field(fname).to_pylist(), tags,
                                    parent_ok)]
        assert got_u.field(fname).to_pylist() == want


def test_union_write_read_by_liborc(tmp_path):
    """pyarrow's liborc reads our union file as a sparse union with the
    same tags and values — independent-reader interop, both directions."""
    paorc = pytest.importorskip("pyarrow.orc")
    tbl = _tagged(n=8_000, with_nulls=False, seed=9)
    path = str(tmp_path / "u_lib.orc")
    write_orc(tbl, path, compression="zlib", union_columns=["u"])
    lib = paorc.read_table(path)
    u = lib.column("u").combine_chunks()
    codes = np.asarray(u.type_codes)
    src = tbl.column("u").combine_chunks()
    assert codes.tolist() == src.field("tag").to_pylist()
    # liborc surfaces ORC unions as SPARSE unions: children are row-length
    # and only meaningful where their code fires
    f0 = u.field(0).to_pylist()
    f1 = u.field(1).to_pylist()
    for r, tag in enumerate(codes):
        if tag == 0:
            assert f0[r] == src.field("f0")[r].as_py()
        else:
            assert f1[r] == src.field("f1")[r].as_py()


@pytest.mark.reference_fixture
def test_union_official_fixture_rewrite(tmp_path):
    """Full-circle parity with the reference's own union test data:
    decode TestOrcFile.testUnionAndTimestamp with our reader, WRITE the
    tagged-struct expansion back as a real union, and re-read it equal."""
    import os

    from tests.test_orc_interop import ORC_EXAMPLES

    src_path = f"{ORC_EXAMPLES}/TestOrcFile.testUnionAndTimestamp.orc"
    if not os.path.exists(src_path):
        pytest.skip("official union example file not available")
    ours = orc_to_table(src_path, columns=["union"])
    path = str(tmp_path / "rewrite.orc")
    write_orc(ours, path, compression="zlib", union_columns=["union"])
    again = orc_to_table(path)
    a = ours.column("union").combine_chunks()
    b = again.column("union").combine_chunks()
    for f in ("tag", "f0", "f1"):
        assert a.field(f).to_pylist() == b.field(f).to_pylist()


def test_union_declaration_validated():
    with pytest.raises(ValueError, match="tagged structs"):
        write_orc(pa.table({"u": pa.array([1, 2, 3])}), "/tmp/nope.orc",
                  union_columns=["u"])
    bad = pa.table({"u": pa.array([{"a": 1}], type=pa.struct([("a", pa.int64())]))})
    with pytest.raises(ValueError, match="tagged structs"):
        write_orc(bad, "/tmp/nope.orc", union_columns=["u"])


def test_union_written_file_seek_decodes_groups(tmp_path):
    """Our OWN union files carry per-group ROW_INDEX positions for the
    tag stream and every variant child: a point lookup seek-decodes only
    the matching 10k group (groups_decoded < total) and reassembles the
    tagged struct correctly across irregular per-group variant counts."""
    from orc_rust_spark.operators.predicate import Comparison
    from orc_rust_spark.sources.orc_file import decode_stripe_pruned

    n = 25_000
    rng = np.random.default_rng(3)
    tags = rng.integers(0, 2, n).astype(np.int8)
    typ = pa.struct([("tag", pa.int8()), ("f0", pa.int64()),
                     ("f1", pa.string())])
    rows = [{"tag": int(t), "f0": int(i) if t == 0 else None,
             "f1": f"s{i}" if t == 1 else None}
            for i, t in enumerate(tags)]
    tbl = pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                    "u": pa.array(rows, type=typ)})
    path = str(tmp_path / "u_seek.orc")
    write_orc(tbl, path, compression="zlib", union_columns=["u"])
    meta = read_metadata(path)
    s = meta.stripes[0]
    with open(path, "rb") as fh:
        fh.seek(s.offset)
        body = fh.read(s.index_length + s.data_length)
        footer = fh.read(s.footer_length)
    for probe in (23_456, 7, 10_000):
        out, dec, tot = decode_stripe_pruned(
            body, footer, meta, s.number_of_rows, pred=Comparison("id", "=", probe))
        assert dec == 1 and tot == 3
        i = out.column("id").to_pylist().index(probe)
        u = out.column("u").combine_chunks()
        exp = rows[probe]
        assert u.field("tag")[i].as_py() == exp["tag"]
        assert u.field("f0")[i].as_py() == exp["f0"]
        assert u.field("f1")[i].as_py() == exp["f1"]
