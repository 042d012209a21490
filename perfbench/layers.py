"""Per-layer measurements for the traced run.

Every traced run, whatever its workload, ends with the same layer probe:
both kinds of Spark pass over the workload's webtext set-up, then the
Spark-free layers over the seed's lineitem table and the first partition
of the seed's webtext table, so each per-layer metric is measured the same
way on every workload. Spans for the probe share the op id ``"probe"``.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.orc as po

from . import datagen
from .spans import Tracer, counting_filesystem
from .workloads import Ctx, LineitemPointLookup, WebtextIngest

# fixed probe list for the pruning counts, so they repeat exactly: mostly
# l_orderkey hits (min/max and row-index pruning), 10 % l_partkey hits
# (bloom pruning only) and 15 % misses
LOOKUP_PROBES = (["orderkey_hit"] * 15 + ["partkey_hit"] * 2
                 + ["orderkey_miss"] * 2 + ["out_of_range"])
CODEC_SPANS = ("codecs.rle_v2.decode_rlev2", "codecs.block.decompress_stream")
ZSTD_PAYLOAD_CAP = 32 << 20
MIN_KERNEL_S = 0.2


def install_spans(tracer: Tracer) -> None:
    """Patch the engine's public functions with spans. Module globals are
    patched where the engine looks them up at call time, so nested calls
    (``orc_to_table`` -> ``decode_stripe`` -> ``decode_rlev2``) nest."""
    from orc_rust_spark.codecs import block, bloom, fsst, rle_v2
    from orc_rust_spark.operators import decode, encode
    from orc_rust_spark.sources import orc_file

    for fn in ("write_orc", "orc_to_table", "orc_point_lookup", "read_metadata",
               "decode_stripe", "decode_stripe_pruned", "prune_stripes"):
        tracer.patch(orc_file, fn, f"sources.orc_file.{fn}")
    tracer.patch(orc_file, "decode_rlev2", "codecs.rle_v2.decode_rlev2")
    tracer.patch(rle_v2, "encode_rlev2", "codecs.rle_v2.encode_rlev2")
    tracer.patch(encode, "encode_rlev2", "codecs.rle_v2.encode_rlev2")
    for fn in ("compress_stream", "decompress_stream"):
        tracer.patch(block, fn, f"codecs.block.{fn}")
    for mod in (encode, fsst):
        tracer.patch(mod, "fsst_encode", "codecs.fsst.fsst_encode")
    tracer.patch(encode, "encode_chunk", "operators.encode.encode_chunk")
    tracer.patch(decode, "decode_chunk_arrays", "operators.decode.decode_chunk_arrays")
    tracer.patch(bloom.BloomFilter, "might_contain_i64", "codecs.bloom.might_contain_i64")


def _rate(fn, nbytes: int) -> float:
    """MB/s of ``fn`` over ``nbytes``: the median of repeated calls,
    repeated until MIN_KERNEL_S has passed and at least three times."""
    times: list[float] = []
    start = time.perf_counter()
    while len(times) < 3 or time.perf_counter() - start < MIN_KERNEL_S:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return nbytes / 1e6 / statistics.median(times)


def _arrow_bytes(tbl: pa.Table, cap: int) -> bytes:
    parts, size = [], 0
    for col in tbl.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None and size < cap:
                    parts.append(buf.to_pybytes())
                    size += buf.size
    return b"".join(parts)[:cap]


def _flatten(arr: pa.Array) -> tuple[bytes, np.ndarray]:
    """(values, offsets from 0) of a large_binary array."""
    offs = np.frombuffer(arr.buffers()[1], np.int64, len(arr) + 1, arr.offset * 8)
    data = arr.buffers()[2]
    return (data.to_pybytes()[offs[0]:offs[-1]] if data is not None else b""), offs - offs[0]


def _webtext_partition(seed: int, rows: int, cpus: int) -> pa.Table:
    """The rows of the webtext source's first Spark partition."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from orc_rust_spark.sources.webtext import WEBTEXT_SCHEMA, generate_pdf

    pdf = generate_pdf(np.arange(rows // cpus, dtype=np.int64), seed=seed)
    return pa.Table.from_pandas(pdf, schema=to_arrow_schema(WEBTEXT_SCHEMA),
                                preserve_index=False)


def kernels(ctx: Ctx, lineitem: pa.Table, web: pa.Table) -> dict:
    from orc_rust_spark.codecs import block
    from orc_rust_spark.codecs.bloom import BloomFilter
    from orc_rust_spark.codecs.fsst import fsst_decode, fsst_encode, train_fsst
    from orc_rust_spark.codecs.rle_v2 import decode_rlev2, encode_rlev2
    from orc_rust_spark.codecs.string_codec import sorted_dictionary

    out = {}
    for shape, col in (("clustered", "l_orderkey"), ("random", "l_partkey")):
        vals = lineitem.column(col).to_numpy()
        enc = encode_rlev2(vals, signed=True)
        ctx.check(np.array_equal(decode_rlev2(enc, vals.size, signed=True), vals),
                  f"rle_v2 roundtrip on {col}")
        out[f"codecs.rle_v2.encode_mb_s.{shape}"] = _rate(
            lambda: encode_rlev2(vals, signed=True), vals.nbytes)
        out[f"codecs.rle_v2.decode_mb_s.{shape}"] = _rate(
            lambda: decode_rlev2(enc, vals.size, signed=True), vals.nbytes)

    strings = []
    for col in ("url", "text"):
        arr = web.column(col).combine_chunks().drop_null().cast(pa.large_binary())
        data, offsets = _flatten(arr)
        vals = [v for v in arr.to_pylist()[:512] if v]
        strings.append((data, offsets, train_fsst(b"".join(vals))))
    for data, offsets, table in strings:
        enc, enc_offsets = fsst_encode(data, offsets, table)
        back, back_offsets = fsst_decode(enc, enc_offsets, table)
        ctx.check(bytes(back) == data and np.array_equal(back_offsets, offsets),
                  "fsst roundtrip")
    raw = sum(len(d) for d, _, _ in strings)
    encoded = [(fsst_encode(d, o, t), t) for d, o, t in strings]
    out["codecs.fsst.encode_mb_s"] = _rate(
        lambda: [fsst_encode(d, o, t) for d, o, t in strings], raw)
    out["codecs.fsst.decode_mb_s"] = _rate(
        lambda: [fsst_decode(e, eo, t) for (e, eo), t in encoded], raw)

    payload = _arrow_bytes(web, ZSTD_PAYLOAD_CAP)
    comp = block.compress_stream(payload, "zstd", block_size=block.CHUNK_BLOCK_SIZE)
    ctx.check(block.decompress_stream(comp, "zstd") == payload, "zstd roundtrip")
    out["codecs.block.zstd.compress_mb_s"] = _rate(
        lambda: block.compress_stream(payload, "zstd",
                                      block_size=block.CHUNK_BLOCK_SIZE), len(payload))
    out["codecs.block.zstd.decompress_mb_s"] = _rate(
        lambda: block.decompress_stream(comp, "zstd"), len(payload))

    lang = web.column("lang").combine_chunks().cast(pa.large_binary())
    ranks, dict_data, dict_lens, _ = sorted_dictionary(lang)
    words = np.split(np.frombuffer(dict_data, np.uint8), np.cumsum(dict_lens)[:-1])
    ctx.check([words[r].tobytes() for r in ranks[:1000]] == lang.to_pylist()[:1000],
              "dictionary ranks")
    out["codecs.string_codec.dict_encode_mb_s"] = _rate(
        lambda: sorted_dictionary(lang), len(_flatten(lang)[0]))

    keys = lineitem.column("l_partkey").to_numpy()[:10_000]
    bf = BloomFilter.for_expected(keys.size)
    bf.add_i64(keys)
    probes = [int(k) for k in keys[:1000]]
    ctx.check(all(bf.might_contain_i64(k) for k in probes), "bloom has no false negative")
    t0 = time.perf_counter()
    for k in probes:
        bf.might_contain_i64(k)
    out["codecs.bloom.probe_us"] = (time.perf_counter() - t0) / len(probes) * 1e6
    return out


def operators(ctx: Ctx, web: pa.Table, plan: dict) -> dict:
    """Driver-side replay of one stripe of webtext rows through the
    chunk-table encode and decode operators."""
    from orc_rust_spark.operators.decode import decode_chunk_arrays
    from orc_rust_spark.operators.encode import encode_chunk
    from orc_rust_spark.sources.webtext import WEBTEXT_SCHEMA

    kinds = {f.name: f.dataType for f in WEBTEXT_SCHEMA.fields}
    rows = encode_chunk(web, 0, 0, plan).to_pylist()
    arrays = decode_chunk_arrays(rows, kinds)
    ctx.check(all(arrays[n].cast(web.schema.field(n).type).equals(
        web.column(n).combine_chunks()) for n in web.column_names),
        "encode_chunk -> decode_chunk_arrays replay")
    return {
        "operators.encode.encode_chunk.mb_s": _rate(
            lambda: encode_chunk(web, 0, 0, plan), web.nbytes),
        "operators.decode.decode_chunk_arrays.mb_s": _rate(
            lambda: decode_chunk_arrays(rows, kinds), web.nbytes),
    }


def orc_layer(ctx: Ctx, tracer: Tracer, lookups: LineitemPointLookup) -> dict:
    from orc_rust_spark.sources import orc_file

    table = lookups.table
    fs, counter = counting_filesystem()
    path = os.path.abspath(ctx.path("probe_scan.orc"))
    t0 = time.perf_counter()
    orc_file.write_orc(table, path, compression="zstd", filesystem=fs)
    t1 = time.perf_counter()
    back = orc_file.orc_to_table(path, filesystem=fs)
    t2 = time.perf_counter()
    ctx.check(back.cast(table.schema).equals(table), "probe orc_to_table == source")
    scan_io = dict(counter.stats)

    ref = ctx.path("probe_ref.orc")
    t3 = time.perf_counter()
    po.write_table(table, ref, compression="zstd")
    t4 = time.perf_counter()
    po.read_table(ref)
    t5 = time.perf_counter()

    meta = orc_file.read_metadata(lookups.file)
    mix = datagen.ProbeMix(table, ctx.seed)
    counter.reset()
    kept = decoded = total = matched = 0
    for kind in LOOKUP_PROBES:
        column, value = mix.draw(kind)
        kept += len(orc_file.prune_stripes(meta, column, value, value))
        rows, d, t = lookups.lookup(column, value, fs)
        matched, decoded, total = matched + rows, decoded + d, total + t
    n = len(LOOKUP_PROBES)
    spans = tracer.self_times(op_ids={"probe"})
    codec_s, lookup_s = tracer.covered(CODEC_SPANS, "sources.orc_file.orc_point_lookup",
                                       op_ids={"probe"})

    def mean_ms(name):
        row = spans[name]
        return row["total_s"] / row["calls"] * 1e3

    return {
        "sources.orc_file.write_orc_s": t1 - t0,
        "sources.orc_file.orc_to_table_s": t2 - t1,
        "sources.orc_file.decode_stripe_ms": mean_ms("sources.orc_file.decode_stripe"),
        "sources.orc_file.read_metadata_ms": mean_ms("sources.orc_file.read_metadata"),
        "sources.orc_file.orc_point_lookup.groups_decoded": decoded / n,
        "sources.orc_file.orc_point_lookup.groups_total": total / n,
        "sources.orc_file.prune_stripes.stripes_kept": kept / n,
        "sources.orc_file.orc_point_lookup.rows_matched_per_group_decoded":
            matched / max(decoded, 1),
        "sources.orc_file.orc_point_lookup.codec_share": codec_s / lookup_s,
        "sources.fsio.bytes_read_per_lookup": counter.stats["bytes_read"] / n,
        "sources.fsio.read_calls_per_lookup": counter.stats["read_calls"] / n,
        "sources.fsio.bytes_read_per_scan": scan_io["bytes_read"],
        "sources.fsio.read_calls_per_scan": scan_io["read_calls"],
        "context.pyarrow_orc.write_mb_s": table.nbytes / 1e6 / (t4 - t3),
        "context.pyarrow_orc.read_mb_s": table.nbytes / 1e6 / (t5 - t4),
    }


def probe(ctx: Ctx, tracer: Tracer, web_wl: WebtextIngest) -> dict:
    """All per-layer metrics, reusing the workload's webtext set-up."""
    tracer.op_id = "probe"
    # both pass kinds, whichever the workload ran: the first encode pass
    # is a warm-up, and a traced roundtrip pass records the exchanges
    web_wl.encode_pass_s.clear()
    for _ in range(3):
        web_wl.encode_pass()
    web_wl.roundtrip_pass()
    lookups = LineitemPointLookup(ctx)
    lookups.setup()
    web = _webtext_partition(ctx.seed, web_wl.rows, ctx.cpus)
    out = {
        "plans.pipeline.plan_codecs_s": statistics.median(web_wl.plan_codecs_s),
        "spark.plan.exchanges": web_wl.exchanges,
    }
    # kernels and operators are timed unpatched: a span per call would
    # weigh on the small calls, such as a single bloom probe
    out.update(kernels(ctx, lookups.table, web))
    out.update(operators(ctx, web, web_wl.plan))
    # encode_chunk seconds the whole source needs at the replay's rate,
    # over the core-seconds of an encode pass
    chunk_s = web_wl.user_bytes() / 1e6 / out["operators.encode.encode_chunk.mb_s"]
    pass_s = statistics.median(web_wl.encode_pass_s[1:])
    out["operators.encode.encode_table.engine_share"] = chunk_s / (pass_s * ctx.cpus)
    install_spans(tracer)
    try:
        out.update(orc_layer(ctx, tracer, lookups))
    finally:
        tracer.unpatch()
    return out
