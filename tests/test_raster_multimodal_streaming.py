"""Raster pipeline, multimodal plumbing, and streaming surface."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import h3ron_spark.h3core as h3c
from h3ron_spark import raster as RA
from h3ron_spark.h3core import regions as R
from h3ron_spark.pipeline import multimodal as MM


# ------------------------------------------------------------------ transform


def test_transform_roundtrip_and_orderings():
    t = RA.Transform.from_gdal((-122.5, 0.001, 0.0, 37.9, 0.0, -0.001))
    x, y = t.apply(10, 20)
    assert abs(x - (-122.5 + 0.01)) < 1e-12
    assert abs(y - (37.9 - 0.02)) < 1e-12
    inv = t.invert()
    c, r = inv.apply(x, y)
    assert abs(c - 10) < 1e-9 and abs(r - 20) < 1e-9
    # rasterio ordering (a, b, xoff, d, e, yoff)
    t2 = RA.Transform.from_rasterio((0.001, 0.0, -122.5, 0.0, -0.001, 37.9))
    assert t2 == t


def test_nearest_h3_resolution_modes():
    # ~0.001 deg pixels near 37.8N: ~0.11 km x 0.088 km => ~0.0097 km^2
    t = RA.Transform.from_gdal((-122.5, 0.001, 0.0, 37.9, 0.0, -0.001))
    r_min = RA.nearest_h3_resolution(t, (100, 100), "min_diff")
    r_small = RA.nearest_h3_resolution(t, (100, 100), "smaller_than_pixel")
    assert 9 <= r_min <= 11
    assert r_small >= r_min
    # smaller_than_pixel: avg area at chosen res <= pixel area
    from h3ron_spark.h3core.cells import _AVG_HEX_AREA_KM2

    assert _AVG_HEX_AREA_KM2[r_small] <= RA.pixel_area_km2(t, (100, 100))


# ------------------------------------------------------------------- raster


@pytest.fixture(scope="module")
def small_raster():
    arr = np.zeros((8, 8), dtype=np.int64)
    arr[2:5, 2:6] = 7
    arr[6, 1] = 9
    return arr


def test_raster_to_dataframe_nodata_filter(spark, small_raster):
    df = RA.raster_to_dataframe(spark, small_raster, nodata=0)
    assert df.count() == int((small_raster != 0).sum())
    vals = {r.value for r in df.select("value").distinct().collect()}
    assert vals == {7, 9}


def test_raster_to_cells_centroid_parity(spark, small_raster):
    t = RA.Transform.from_gdal((-122.46, 0.005, 0.0, 37.80, 0.0, -0.005))
    res = RA.nearest_h3_resolution(t, small_raster.shape, "smaller_than_pixel")
    out = RA.raster_to_cells(spark, small_raster, t, res, nodata=0).collect()
    got = {(r.cell, r.value) for r in out}
    # oracle: brute-force every cell in the covered area, assign the
    # pixel containing its centroid (the reference's probe direction)
    inv = t.invert()
    want = set()
    corners = [t.apply(0, 0), t.apply(8, 0), t.apply(8, 8), t.apply(0, 8)]
    ring = [(y, x) for x, y in corners]
    for cell in R.polygon_to_cells(ring, res):
        la, ln = h3c.cell_to_latlng(cell)
        c, r = inv.apply(ln, la)
        ci, ri = int(c), int(r)
        if 0 <= ri < 8 and 0 <= ci < 8 and small_raster[ri, ci] != 0:
            want.add((cell, int(small_raster[ri, ci])))
    assert got == want and len(want) > 0


def test_raster_to_cells_compact_roundtrip(spark, small_raster):
    t = RA.Transform.from_gdal((-122.46, 0.005, 0.0, 37.80, 0.0, -0.005))
    res = RA.nearest_h3_resolution(t, small_raster.shape, "smaller_than_pixel")
    plain = RA.raster_to_cells(spark, small_raster, t, res, nodata=0)
    compacted = RA.raster_to_cells(
        spark, small_raster, t, res, nodata=0, compact=True
    )
    from h3ron_spark.operators.compact import uncompact_dataframe

    restored = uncompact_dataframe(compacted, res, "cell")
    got = {(r.cell, r.value) for r in restored.collect()}
    want = {(r.cell, r.value) for r in plain.collect()}
    assert got == want
    assert compacted.count() <= plain.count()


# ---------------------------------------------------------------- multimodal


def test_multimodal_fake_features(spark):
    media = MM.synthetic_media(spark, 32)
    feats = MM.extract_features(media, fake=True).collect()
    assert len(feats) == 32
    for r in feats:
        assert r.dim == 16
        assert abs(sum(r.feature) - 1.0) < 1e-6  # normalized histogram
    # deterministic: same asset -> same feature
    again = MM.extract_features(MM.synthetic_media(spark, 32), fake=True).collect()
    assert {(r.asset_id, tuple(r.feature)) for r in feats} == {
        (r.asset_id, tuple(r.feature)) for r in again
    }


def test_multimodal_decode_stub_raises(spark):
    media = MM.synthetic_media(spark, 4)
    with pytest.raises(Exception) as ei:
        MM.extract_features(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sampling_plan(spark):
    media = MM.synthetic_media(spark, 9)
    out = MM.sample_frames(media, every_n=10)
    rows = out.collect()
    meta = {r.asset_id: r for r in media.select("asset_id", "meta").collect()}
    for aid in {r.asset_id for r in rows}:
        n_frames = meta[aid].meta.n_frames
        want = len(range(0, n_frames, 10))
        assert sum(1 for r in rows if r.asset_id == aid) == want


# ----------------------------------------------------------------- streaming


def test_streaming_index_and_window(spark, tmp_path):
    from h3ron_spark import streaming as ST

    # memory-source-free test: rate source, short run
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "50")
        .load()
        .withColumn("lat", (F.col("value") % 160) / 2.0 - 40.0)
        .withColumn("lng", (F.col("value") % 360) - 180.0)
        .withColumnRenamed("timestamp", "ts")
    )
    indexed = ST.index_stream(src, res=5)
    agg = ST.windowed_cell_counts(
        indexed, "ts", "cell", "10 seconds", "10 seconds", parent_res=2
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("cellcounts")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("select count(*) c from cellcounts").collect()[0].c
            if n > 0:
                break
            time.sleep(1)
        assert n > 0
        rows = spark.sql("select * from cellcounts").collect()
        for r in rows:
            assert h3c.is_valid_cell(r.cell)
            assert h3c.get_resolution(r.cell) == 2
    finally:
        q.stop()


def test_streaming_cell_transitions_stateful(spark, tmp_path):
    """applyInPandasWithState: per-entity transition extraction with
    state carried across micro-batches (maxFilesPerTrigger=1 forces
    one batch per file, so the cross-batch transition for entity 1
    only appears if the state store works)."""
    from h3ron_spark import streaming as ST

    cells = h3c.grid_disk(h3c.latlng_to_cell(37.76, -122.44, 7), 2)
    c0, c1, c2, c3 = cells[0], cells[1], cells[2], cells[3]
    indir = tmp_path / "in"
    indir.mkdir()
    base = 1_700_000_000
    batch1 = [(1, c0, base + 1), (1, c0, base + 2), (1, c1, base + 3),
              (2, c2, base + 1)]
    batch2 = [(1, c2, base + 10), (2, c2, base + 11), (2, c3, base + 12)]
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(
            [(e, c, float(t)) for e, c, t in rows],
            "entity long, cell long, epoch double",
        ).withColumn("ts", F.col("epoch").cast("timestamp")).drop(
            "epoch"
        ).coalesce(1).write.parquet(str(indir / f"b{i}.parquet"))

    src = (
        spark.readStream.schema("entity long, cell long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(indir) + "/*")
    )
    out = ST.cell_transitions(src)
    q = (
        out.writeStream.format("memory")
        .queryName("transitions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.entity, r.from_cell, r.to_cell)
        for r in spark.sql("select * from transitions").collect()
    }
    want = {
        (1, c0, c1),  # within batch 1
        (1, c1, c2),  # ACROSS batches: needs state
        (2, c2, c3),  # within batch 2
    }
    assert got == want


def test_resize_media_fake(spark):
    """Resize plumbing: image/video payloads resampled to w*h bytes
    with meta updated; audio untouched."""
    from h3ron_spark.pipeline.multimodal import resize_media, synthetic_media

    media = synthetic_media(spark, 12)
    out = resize_media(media, 8, 4, fake=True).collect()
    assert len(out) == 12
    for r in out:
        if r.kind == "audio":
            continue
        assert len(r.payload) == 32
        assert r.meta.width == 8 and r.meta.height == 4
    # fake=False raises at execution (stub contract)
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception):
        resize_media(media, 8, 4, fake=False).collect()


def test_streaming_dedup_cross_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark suppresses an exact copy arriving
    in a LATER micro-batch (state crosses the batch boundary), while
    distinct keys all survive."""
    import pyspark.sql.functions as F

    from h3ron_spark import streaming as ST

    rows1 = [(i, i, f"text-{i}") for i in range(20)]
    rows2 = [(i + 20, i + 20, f"text-{i % 10}") for i in range(20)]
    # second file: ids 20..39, texts 0..9 (all dups) + 10..19 dup too
    df1 = spark.createDataFrame(rows1, "doc_id long, t long, text string")
    df2 = spark.createDataFrame(rows2, "doc_id long, t long, text string")
    for i, df in enumerate((df1, df2)):
        df.select(
            "doc_id",
            F.col("t").cast("timestamp").alias("ts"),
            F.md5("text").alias("content_hash"),
        ).coalesce(1).write.parquet(f"{tmp_path}/in/b{i}.parquet")
    stream = (
        spark.readStream.schema(
            "doc_id long, ts timestamp, content_hash string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    q = (
        ST.dedup_stream(stream, ["content_hash"], watermark="1 hour")
        .select("content_hash")
        .writeStream.format("memory")
        .queryName("dedup_sink_t")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["content_hash"] for r in spark.table("dedup_sink_t").collect()}
    import hashlib

    exp = {hashlib.md5(f"text-{i}".encode()).hexdigest() for i in range(20)}
    assert got == exp


def test_wav_ppm_roundtrip_and_real_features():
    s = np.arange(-500, 500, dtype=np.int16)
    rate, back, ch = MM.decode_wav(MM.wav_bytes(s, 16000))
    assert rate == 16000 and ch == 1 and (back == s).all()
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (MM.decode_ppm(MM.ppm_bytes(px)) == px).all()
    f = MM.real_decode_features(MM.wav_bytes(s, 16000))
    assert f[0] == 1.0 and abs(f[2] - 1000 / 16000) < 1e-12
    f = MM.real_decode_features(MM.ppm_bytes(px))
    assert f[:3] == [2.0, 3.0, 2.0] and f[5] == 3.0
    with pytest.raises(NotImplementedError):
        MM.real_decode_features(b"\x89PNG\r\n....")


def test_real_ppm_resize_end_to_end(spark):
    media = MM.synthetic_media_real(spark, 8)
    out = MM.resize_media(media, 16, 12, fake=False)
    rows = out.filter(out.kind == "image").collect()
    assert rows
    for r in rows:
        px = MM.decode_ppm(bytes(r["payload"]))
        assert px.shape == (12, 16, 3)
        assert (r["meta"]["width"], r["meta"]["height"]) == (16, 12)


def test_pgm_grayscale_decode():
    payload = b"P5\n# comment\n4 2\n255\n" + bytes(range(8))
    px = MM.decode_ppm(payload)
    assert px.shape == (2, 4, 1) and px.ravel().tolist() == list(range(8))


def test_wav_ppm_hypothesis_roundtrip_laws():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=1,
            max_size=400,
        ),
        st.sampled_from([8000, 16000, 44100]),
    )
    def wav_law(samples, rate):
        s = np.array(samples, dtype=np.int16)
        r, back, ch = MM.decode_wav(MM.wav_bytes(s, rate))
        assert r == rate and ch == 1 and (back == s).all()

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=255),
    )
    def ppm_law(w, h, seed):
        px = ((np.arange(h * w * 3) * 31 + seed) % 256).astype(
            np.uint8
        ).reshape(h, w, 3)
        assert (MM.decode_ppm(MM.ppm_bytes(px)) == px).all()

    wav_law()
    ppm_law()


def test_stereo_wav_duration_uses_frames_not_samples():
    """Multi-channel PCM: duration must count frames (samples per
    channel), and stats must come from channel 0, not the interleaved
    stream."""
    import struct

    rate, n = 8000, 4000  # 0.5 s stereo
    left = (np.arange(n) % 100 - 50).astype(np.int16)
    right = np.full(n, 30000, dtype=np.int16)
    inter = np.empty(2 * n, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    data = inter.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16,
        1, 2, rate, rate * 4, 4, 16, b"data", len(data),
    )
    f = MM.real_decode_features(hdr + data)
    assert abs(f[2] - 0.5) < 1e-12  # duration from frames
    assert f[3] < 0.01  # channel-0 mean_abs, not right channel's 0.91


def test_png_roundtrip_all_filters():
    """Encode/decode identity for gray/RGB/RGBA across every PNG
    filter type (the encoder cycles filters per row), plus loud
    failures on CRC corruption and unsupported variants."""
    import numpy as np
    import pytest as _pytest

    from h3ron_spark.pipeline.multimodal import decode_png, png_bytes

    def pat(h, w, ch, seed):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [((yy * 3 + xx * 7 + seed + k * 29) % 256) for k in range(ch)],
            axis=-1,
        ).astype(np.uint8)

    for ch in (1, 3, 4):
        for h, w in ((1, 1), (7, 5), (16, 33)):
            px = pat(h, w, ch, h + w)
            dec = decode_png(png_bytes(px if ch > 1 else px[:, :, 0]))
            assert dec.shape == (h, w, ch)
            assert np.array_equal(dec, px)

    enc = bytearray(png_bytes(pat(8, 8, 3, 1)))
    enc[40] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(enc))
    # 16-bit depth is outside the supported baseline
    import struct
    import zlib

    from h3ron_spark.pipeline.multimodal import _PNG_SIG, _png_chunk

    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with _pytest.raises(NotImplementedError, match="baseline"):
        decode_png(bad)


def test_real_png_features_and_resize(spark):
    """End-to-end PNG fixture through the Arrow kernels: decode
    features carry the right modality tag/dims, and the real resize
    re-encodes PNGs that decode to the nearest-neighbor resample."""
    import numpy as np

    from h3ron_spark.pipeline import multimodal as MM

    media = MM.synthetic_media_png(spark, 6)
    feats = {
        r.asset_id: r.feature
        for r in MM.extract_features(media, fake=False).collect()
    }
    assert len(feats) == 6
    for i, f in feats.items():
        assert f[0] == 3.0  # png modality tag
        assert f[5] in (1.0, 3.0, 4.0)

    out = MM.resize_media(media, 10, 8, fake=False).collect()
    src = {r.asset_id: bytes(r.payload) for r in media.collect()}
    for r in out:
        px = MM.decode_png(bytes(r.payload))
        assert px.shape[:2] == (8, 10)
        orig = MM.decode_png(src[r.asset_id])
        ys = (np.arange(8) * orig.shape[0]) // 8
        xs = (np.arange(10) * orig.shape[1]) // 10
        assert np.array_equal(px, orig[ys][:, xs])
        assert r.meta.width == 10 and r.meta.height == 8


def _dynamic_gif(idx, pal):
    """Test-only INDEPENDENT GIF encoder: true dynamic-table LZW with
    width growth and 4096-entry recycling — produces stream shapes
    gif_bytes (fixed-width literals + CLEAR) never emits, so decoding
    it cross-validates decode_gif rather than round-tripping one
    implementation against itself."""
    h, w = idx.shape
    n = len(pal)
    depth = n.bit_length() - 1
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (depth - 1), 0, 0])
    for r, g, b in pal:
        out += bytes([r, g, b])
    out += (
        b"\x2c\x00\x00\x00\x00"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00"
    )
    mcs = max(2, depth)
    out += bytes([mcs])
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    acc = nbits = 0
    data = bytearray()

    def emit(code, wd):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    seq = ()
    for v in idx.ravel():
        v = int(v)
        if seq + (v,) in table:
            seq = seq + (v,)
            continue
        emit(table[seq], width)
        table[seq + (v,)] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
        seq = (v,)
    if seq:
        emit(table[seq], width)
    emit(eoi, width)
    if nbits:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        b = data[i : i + 255]
        out += bytes([len(b)]) + b
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_roundtrip_and_cross_encoder():
    import numpy as np

    from h3ron_spark.pipeline.multimodal import decode_gif, gif_bytes

    pal16 = [((i * 37) % 256, (i * 91) % 256, (i * 13) % 256) for i in range(16)]
    pal256 = [((i * 7) % 256, (i * 11) % 256, (i * 3) % 256) for i in range(256)]
    yy, xx = np.mgrid[0:33, 0:47]
    idx = ((yy * 3 + xx * 5) % 16).astype(np.uint8)
    assert np.array_equal(
        decode_gif(gif_bytes(idx, pal16)), np.array(pal16, np.uint8)[idx]
    )
    # multi-CLEAR fixed-width stream, 256-color palette
    big = (np.arange(200 * 180).reshape(200, 180) % 256).astype(np.uint8)
    assert np.array_equal(
        decode_gif(gif_bytes(big, pal256)), np.array(pal256, np.uint8)[big]
    )
    # independent dynamic-LZW encoder: width growth + real compression
    rep = np.tile(np.arange(16, dtype=np.uint8).repeat(3), 220)[
        : 64 * 100
    ].reshape(100, 64)
    payload = _dynamic_gif(rep, pal16)
    assert len(payload) < rep.size // 4  # actually compressed
    assert np.array_equal(
        decode_gif(payload), np.array(pal16, np.uint8)[rep]
    )
    # all-zero image: forces the KwKwK (code == next_code) branch
    z = np.zeros((40, 50), dtype=np.uint8)
    assert np.array_equal(
        decode_gif(_dynamic_gif(z, pal16)), np.array(pal16, np.uint8)[z]
    )


def test_gif_interlace_and_extensions():
    """Interlaced row reordering + extension-block skipping, via a
    hand-assembled payload (gif_bytes never emits either)."""
    import numpy as np

    from h3ron_spark.pipeline.multimodal import decode_gif, gif_bytes

    pal = [((i * 37) % 256, (i * 91) % 256, (i * 13) % 256) for i in range(16)]
    h, w = 13, 9
    yy, xx = np.mgrid[0:h, 0:w]
    idx = ((yy * 2 + xx) % 16).astype(np.uint8)
    # rows in GIF pass order; flag 0x40 tells the decoder to reorder
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    plain = gif_bytes(idx[order], pal)
    body = bytearray(plain)
    # image descriptor starts after 6 (hdr) + 7 (lsd) + 48 (gct): set
    # the interlace bit in its flags byte, and inject a GCE extension
    # before it
    desc_at = 6 + 7 + 48
    assert body[desc_at] == 0x2C
    body[desc_at + 9] |= 0x40
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    payload = bytes(body[:desc_at]) + gce + bytes(body[desc_at:])
    assert np.array_equal(decode_gif(payload), np.array(pal, np.uint8)[idx])


# ------------------------------------------------------------------
# JPEG (T.81 baseline) — third real compressed codec
# ------------------------------------------------------------------


def test_jpeg_dct_matrix_orthonormal():
    """The shared 8-point DCT matrix is orthonormal: C @ C.T == I, so
    the decoder's C.T @ F @ C exactly inverts the encoder's transform
    (quantization is the only lossy stage)."""
    import numpy as np

    from h3ron_spark.pipeline.jpeg import _C

    assert np.allclose(_C @ _C.T, np.eye(8), atol=1e-12)


def test_jpeg_huffman_tables_canonical_and_prefix_free():
    """All four Annex-K tables build prefix-free canonical codes whose
    per-length counts equal BITS, and the decoder lookup inverts the
    encoder codes symbol-for-symbol."""
    from h3ron_spark.pipeline.jpeg import (
        AC_CHR_BITS, AC_CHR_VALS, AC_LUM_BITS, AC_LUM_VALS,
        DC_CHR_BITS, DC_CHR_VALS, DC_LUM_BITS, DC_LUM_VALS,
        _build_huff_codes, _build_huff_decoder,
    )

    for bits, vals in (
        (DC_LUM_BITS, DC_LUM_VALS), (DC_CHR_BITS, DC_CHR_VALS),
        (AC_LUM_BITS, AC_LUM_VALS), (AC_CHR_BITS, AC_CHR_VALS),
    ):
        enc = _build_huff_codes(bits, vals)
        dec = _build_huff_decoder(bits, vals)
        assert len(enc) == sum(bits) == len(vals)
        by_len = {}
        for sym, (code, ln) in enc.items():
            by_len[ln] = by_len.get(ln, 0) + 1
            assert dec[(ln, code)] == sym
        assert all(by_len.get(i + 1, 0) == bits[i] for i in range(16))
        # prefix-free: no code is a prefix of a longer one
        codes = sorted(
            (ln, code) for code, ln in enc.values()
        )
        for i, (ln_a, c_a) in enumerate(codes):
            for ln_b, c_b in codes[i + 1 :]:
                if ln_b > ln_a:
                    assert (c_b >> (ln_b - ln_a)) != c_a


def test_jpeg_quality_scaling_pins():
    """IJG quality mapping: q=50 keeps the Annex-K table verbatim,
    q=100 degenerates to all-ones (lossless-but-rounding), q=10 is a
    5x coarsening (clipped at 255)."""
    import numpy as np

    from h3ron_spark.pipeline.jpeg import Q_LUM, quality_scaled

    assert np.array_equal(quality_scaled(Q_LUM, 50), Q_LUM)
    assert np.array_equal(quality_scaled(Q_LUM, 100), np.ones(64, np.int64))
    assert np.array_equal(
        quality_scaled(Q_LUM, 10), np.minimum(255, (Q_LUM * 500 + 50) // 100)
    )


def test_jpeg_roundtrip_flat_and_dc_accuracy():
    """Flat-color images carry only DC coefficients; at q=100 the
    round-trip error is bounded by the +-0.5 rounding of one quantized
    coefficient — every tested gray level reconstructs within 1."""
    import numpy as np

    from h3ron_spark.pipeline.jpeg import decode_jpeg, jpeg_bytes

    for v in (0, 1, 63, 128, 200, 254, 255):
        img = np.full((16, 24, 3), v, dtype=np.uint8)
        out = decode_jpeg(jpeg_bytes(img, quality=100))
        assert np.abs(out.astype(int) - v).max() <= 1, v


def test_jpeg_roundtrip_gradients_all_paths():
    """Smooth gradients survive 4:4:4, 4:2:0+restart-markers, and
    grayscale encodes within tight error bounds at q>=85 (smooth
    signals have tiny high-frequency energy, so quantization noise is
    a few gray levels at most)."""
    import numpy as np

    from h3ron_spark.pipeline.jpeg import decode_jpeg, jpeg_bytes

    yy, xx = np.mgrid[0:37, 0:45]  # odd dims: exercises edge padding
    rgb = np.stack(
        [
            (xx * 255) // 44,
            (yy * 255) // 36,
            (xx * 110) // 44 + (yy * 120) // 36,
        ],
        axis=-1,
    ).astype(np.uint8)

    out = decode_jpeg(jpeg_bytes(rgb, quality=95))
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 4

    p = jpeg_bytes(rgb, quality=88, subsample=True, restart_interval=3)
    assert any(bytes([0xFF, 0xD0 + k]) in p for k in range(8))  # RSTn real
    out = decode_jpeg(p)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 14  # chroma NN

    gray = ((xx * 3 + yy * 2) % 200).astype(np.uint8)
    # mod-200 wrap makes step edges; bound mean (ringing is local)
    outg = decode_jpeg(jpeg_bytes(gray, quality=92))
    assert outg.shape == (37, 45, 3)
    err = np.abs(outg[:, :, 0].astype(int) - gray.astype(int))
    assert err.mean() < 6.0
    assert np.array_equal(outg[:, :, 0], outg[:, :, 1])  # replicated


def test_jpeg_rejects_nonbaseline():
    """Progressive (SOF2) and 12-bit streams raise NotImplementedError
    (stub boundary); trash raises too."""
    import numpy as np
    import pytest as _pytest

    from h3ron_spark.pipeline.jpeg import decode_jpeg, jpeg_bytes

    img = np.full((8, 8, 3), 77, dtype=np.uint8)
    good = bytearray(jpeg_bytes(img, quality=90))
    sof_at = good.find(b"\xff\xc0")
    assert sof_at > 0
    prog = bytes(good[:sof_at]) + b"\xff\xc2" + bytes(good[sof_at + 2 :])
    with _pytest.raises(NotImplementedError):
        decode_jpeg(prog)
    with _pytest.raises(NotImplementedError):
        decode_jpeg(b"\x00\x01not a jpeg")


def test_real_jpeg_features_and_resize(spark):
    """Spark-level: synthetic_media_jpeg payloads decode through the
    Arrow batch kernel (modality tag 5), and resize_media re-encodes a
    real resampled JPEG whose decode matches nearest-neighbor within
    quantization error."""
    import numpy as np

    from h3ron_spark.pipeline import multimodal as MM
    from h3ron_spark.pipeline.jpeg import decode_jpeg

    media = MM.synthetic_media_jpeg(spark, 9)
    src = {r.asset_id: bytes(r.payload) for r in media.collect()}
    feats = MM.extract_features(media, fake=False).collect()
    assert len(feats) == 9
    for r in feats:
        f = r.feature
        assert f[0] == 5.0 and f[5] == 3.0 and r.dim == 6

    resized = MM.resize_media(media, 16, 12, fake=False).collect()
    for r in resized:
        buf = bytes(r.payload)
        assert buf[:2] == b"\xff\xd8"
        px = decode_jpeg(buf)
        assert px.shape == (12, 16, 3)
        orig = decode_jpeg(src[r.asset_id])
        ys = (np.arange(12) * orig.shape[0]) // 12
        xs = (np.arange(16) * orig.shape[1]) // 16
        nn = orig[ys][:, xs].astype(int)
        assert np.abs(px.astype(int) - nn).max() <= 24  # q=90 re-encode


def test_stream_hll_registers_equal_batch_bit_for_bit(spark, tmp_path):
    """The monoid claim, pinned: registers accumulated across three
    micro-batches (with every key spanning every batch) equal the
    batch hll_registers over the union of rows EXACTLY — not just the
    estimate, the full register state."""
    from pyspark.sql import functions as F2

    from h3ron_spark.pipeline import sketch as SK
    from h3ron_spark.streaming.sketches import hll_stream

    df = spark.range(900).select(
        F2.col("id").alias("event_id"),
        F2.concat(F2.lit("t"), F2.col("id") % 3).alias("k"),
        ((F2.col("id") * 31) % 140).alias("v"),
    )
    for i in range(3):
        df.filter(F2.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{tmp_path}/in/b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("event_id long, k string, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    q = (
        hll_stream(stream, "v", "k", p=6)
        .writeStream.format("memory")
        .queryName("hllmono")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    streamed = {
        (r.k, r._reg): r._M
        for r in spark.table("hllmono")
        .groupBy(F2.col("key").alias("k"), "_reg")
        .agg(F2.max("_M").alias("_M"))
        .collect()
    }
    batch = {
        (r.k, r._reg): r._M
        for r in SK.hll_registers(df, "v", ["k"], p=6).collect()
    }
    assert streamed == batch


def test_avi_lossless_roundtrip_and_dispatch(spark):
    """Raw-frame AVI is LOSSLESS: encode->decode is exact (incl. odd
    widths exercising DIB row padding); the feature dispatch tags
    video as modality 6 with n_frames, and compressed codec ids raise
    at the documented stub boundary."""
    import numpy as np
    import pytest as _pytest

    from h3ron_spark.pipeline import multimodal as MM

    yy, xx = np.mgrid[0:13, 0:19]  # odd width -> 1-byte row pad
    frames = np.stack(
        [
            np.stack(
                [(xx + t) % 256, (yy * 3 + t) % 256, (xx * yy + t) % 256],
                axis=-1,
            )
            for t in range(5)
        ]
    ).astype(np.uint8)
    p = MM.avi_bytes(frames, fps=8)
    assert np.array_equal(MM.decode_avi(p), frames)
    f = MM.real_decode_features(p)
    assert f == [6.0, 19.0, 13.0, f[3], f[4], 5.0]

    # flip the strf compression field to a fake fourcc -> stub boundary
    bad = bytearray(p)
    strf_at = bytes(bad).find(b"strf")
    assert strf_at > 0
    comp_off = strf_at + 8 + 16  # header + (size,w,h,planes+bits)
    bad[comp_off : comp_off + 4] = b"H264"
    with _pytest.raises(NotImplementedError):
        MM.decode_avi(bytes(bad))

    feats = MM.extract_features(
        MM.synthetic_media_avi(spark, 6), fake=False
    ).collect()
    assert len(feats) == 6
    assert all(r.feature[0] == 6.0 and r.kind == "video" for r in feats)

    # WAV payloads (also RIFF) still route to the audio decoder
    wav = MM.wav_bytes(np.arange(500, dtype=np.int16), 8000)
    assert MM.real_decode_features(wav)[0] == 1.0


def test_stream_cms_counters_equal_batch_bit_for_bit(spark, tmp_path):
    """Sum-monoid twin of the streaming-HLL pin: CMS counters
    accumulated across three micro-batches equal batch cms_build over
    the union of rows exactly (per key, max-merged emissions)."""
    from pyspark.sql import functions as F2

    from h3ron_spark.pipeline.sketch import cms_build
    from h3ron_spark.streaming.sketches import cms_stream

    df = spark.range(600).select(
        F2.col("id").alias("event_id"),
        F2.concat(F2.lit("s"), F2.col("id") % 2).alias("k"),
        ((F2.col("id") * 13) % 37).alias("v"),
    )
    for i in range(3):
        df.filter(F2.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{tmp_path}/in/b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("event_id long, k string, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    q = (
        cms_stream(stream, "v", "k", w=64)
        .writeStream.format("memory")
        .queryName("cmsmono")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    for kval in ("s0", "s1"):
        streamed = {
            (r.j, r.bucket): r.cnt
            for r in spark.table("cmsmono")
            .filter(F2.col("key") == kval)
            .groupBy("j", "bucket")
            .agg(F2.max("cnt").alias("cnt"))
            .collect()
        }
        batch = {
            (r.j, r.bucket): r.cnt
            for r in cms_build(
                df.filter(F2.col("k") == kval), "v", w=64
            ).collect()
        }
        assert streamed == batch, kval


def test_stream_rollup_equals_batch_and_is_idempotent(spark, tmp_path):
    """streaming/rollup.py: the versioned foreachBatch rollup over
    three file micro-batches equals the direct batch rollup over the
    union of rows bit-for-bit (counts, sums, registers, estimate),
    and re-running a batch merge with the same batch_id (crash-retry)
    leaves the result unchanged."""
    from pyspark.sql import functions as F2

    from h3ron_spark.pipeline import sketch as SK
    from h3ron_spark.streaming.rollup import (
        merge_rollup_batch,
        rollup_result,
        rollup_stream,
    )

    df = spark.range(600).select(
        F2.col("id").alias("event_id"),
        F2.concat(F2.lit("g"), F2.col("id") % 4).alias("g"),
        ((F2.col("id") * 37) % 90).alias("u"),
        (F2.col("id") % 50 / 3.0).alias("value"),
    )
    for i in range(3):
        df.filter(F2.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{tmp_path}/in/b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("event_id long, g string, u long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    q = rollup_stream(
        stream,
        base_path=f"{tmp_path}/state",
        checkpoint=f"{tmp_path}/ckpt",
        keys=["g"],
        value_col="value",
        user_col="u",
        p=6,
    )
    assert q.awaitTermination(300)

    got = {
        tuple(r)
        for r in rollup_result(spark, f"{tmp_path}/state", ["g"], p=6)
        .select("g", "n_events", "sum_value_scaled", "hll_est", "regs_used")
        .collect()
    }
    counts = df.groupBy("g").agg(
        F2.count(F2.lit(1)).alias("n_events"),
        F2.sum(
            F2.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
        ).alias("sum_value_scaled"),
    )
    est = SK.hll_estimate(SK.hll_registers(df, "u", ["g"], p=6), ["g"], p=6)
    want = {
        tuple(r)
        for r in counts.join(est, "g")
        .select("g", "n_events", "sum_value_scaled", "hll_est", "regs_used")
        .collect()
    }
    assert got == want

    # crash-retry: re-merge the LAST batch with its own batch_id — it
    # must read state strictly below its id and overwrite its version
    # to the identical result
    last = spark.read.parquet(f"{tmp_path}/in/b2.parquet")
    versions = sorted(
        int(p.name[1:])
        for p in (tmp_path / "state").iterdir()
        if p.name.startswith("v")
    )
    merge_rollup_batch(
        last, f"{tmp_path}/state", versions[-1],
        keys=["g"], value_col="value", user_col="u", p=6,
    )
    again = {
        tuple(r)
        for r in rollup_result(spark, f"{tmp_path}/state", ["g"], p=6)
        .select("g", "n_events", "sum_value_scaled", "hll_est", "regs_used")
        .collect()
    }
    assert again == want


def test_stream_rollup_ignores_uncommitted_versions(spark, tmp_path):
    """A half-written state version (counts present, no _COMMITTED
    marker — the crash-mid-write shape) must be invisible to both
    rollup_result and the next batch's merge."""
    from pyspark.sql import functions as F2

    from h3ron_spark.streaming.rollup import (
        merge_rollup_batch,
        rollup_result,
    )

    df = spark.range(100).select(
        F2.lit("g0").alias("g"),
        (F2.col("id") % 9).alias("u"),
        (F2.col("id") % 10 * 1.0).alias("value"),
    )
    base = f"{tmp_path}/state"
    merge_rollup_batch(df, base, 0, ["g"], "value", "u", p=6)
    want = rollup_result(spark, base, ["g"], p=6).collect()

    # simulate a crash: v99 gets a counts table but never the marker
    df.groupBy("g").agg(F2.count(F2.lit(1)).alias("n")).write.parquet(
        f"{base}/v99/counts"
    )
    got = rollup_result(spark, base, ["g"], p=6).collect()
    assert got == want


def test_stream_queries_thread_safe_under_parallel_replay(spark):
    """ADVICE r8/r9: registry queries may run from concurrent threads
    on one session. Two stream_* queries
    must not (a) leak their shuffle-partitions pin to any other query
    (each streaming run now executes on a PRIVATE cloned session —
    queries_h3._stream_session — so the caller's session conf is
    never written at all), (b) read each other's memory sink (all
    runs share one sink name, whose view and active-query check live
    on each run's own clone), or (c) leave the
    caller's session conf changed afterwards. Runs two different
    stateful stream queries concurrently twice and checks results
    match their sequential runs and the caller conf is untouched."""
    from concurrent.futures import ThreadPoolExecutor

    import h3ron_spark.queries_h3 as QH

    sf = "/root/testdata/sf0.001"
    conf_key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf_key)

    def run(fn):
        return sorted(map(tuple, fn(spark, sf).collect()))

    want_a = run(QH.stream_windowed_counts)
    want_b = run(QH.stream_dedup_exact)
    for _ in range(2):
        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(run, QH.stream_windowed_counts)
            fb = pool.submit(run, QH.stream_dedup_exact)
            got_a, got_b = fa.result(timeout=600), fb.result(timeout=600)
        assert got_a == want_a
        assert got_b == want_b
        assert spark.conf.get(conf_key) == before


def test_stream_session_conf_isolated_from_caller(spark):
    """ADVICE r9: queries_h3._stream_session pins the streaming
    shuffle-partitions override on a CLONED session's private SQLConf.
    The clone must (a) carry the pin, (b) share the SparkContext (same
    executors — no second JVM/cluster), and (c) leave the caller's
    session conf untouched even while the clone exists, so a
    concurrent non-stream query can never observe the override."""
    import h3ron_spark.queries_h3 as QH

    conf_key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf_key)
    ss = QH._stream_session(spark)
    want = str(min(8, spark.sparkContext.defaultParallelism))
    assert ss.conf.get(conf_key) == want
    assert spark.conf.get(conf_key) == before
    assert ss.sparkContext is spark.sparkContext
    # isolation is two-way: a conf write on the clone never surfaces
    # on the caller (AQE makes partition-count assertions on tiny
    # shuffles meaningless, so pin the SQLConf boundary itself)
    ss.conf.set("spark.sql.session.timeZone", "UTC+03:00")
    assert spark.conf.get("spark.sql.session.timeZone") != "UTC+03:00"
    assert spark.conf.get(conf_key) == before


@pytest.mark.parametrize("fail", [False, True])
def test_drain_file_stream_removes_temp_dir(spark, tmp_path, monkeypatch, fail):
    """The file-stream driver removes its temp dir (input files and
    checkpoint) after a normal return and when ``build`` raises; the
    returned sink table lives in memory, so it still collects after
    the dir is gone."""
    import tempfile

    import h3ron_spark.queries_h3 as QH

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def ours():
        return [p for p in tmp_path.iterdir() if p.name.startswith("h3ron_stream_")]

    seen = []

    def build(stream):
        seen.append(ours())
        if fail:
            raise ValueError("build failed")
        return stream

    parts = [
        spark.range(lo, lo + 3).select(
            "id", F.col("id").cast("timestamp").alias("ts")
        )
        for lo in (0, 3)
    ]
    if fail:
        with pytest.raises(ValueError, match="build failed"):
            QH._drain_file_stream(spark, parts, build)
    else:
        rows = QH._drain_file_stream(spark, parts, build)
    assert len(seen) == 1 and len(seen[0]) == 1  # the dir existed in build
    assert ours() == []
    if not fail:
        assert sorted(r.id for r in rows.collect()) == list(range(6))
