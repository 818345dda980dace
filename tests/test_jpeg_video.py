"""Baseline JPEG codec + MJPEG/AVI container (kernels/jpeg.py,
kernels/video.py) and the video paths of operators/multimodal.py.

JPEG is lossy: round-trips assert error bounds / PSNR, never bit
equality — except DC-only content (flat blocks), which the pipeline
reconstructs exactly at high quality. Table transcriptions are
cross-checked against independently-typed spec constants.
"""

import os
import struct

import numpy as np
import pytest

from datafiller_spark.exceptions import EngineValueError
from datafiller_spark.kernels.jpeg import (
    AC_CHROM_BITS,
    AC_CHROM_VALS,
    AC_LUM_BITS,
    AC_LUM_VALS,
    ZIGZAG,
    _canonical_codes,
    _DCT8,
    decode_jpeg,
    encode_jpeg,
)
from datafiller_spark.kernels.video import decode_video, demux_avi, mux_avi
from datafiller_spark.operators.multimodal import (
    decode_asset,
    extract_features,
    sample_frames,
    synthesize_assets,
)


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 10 * np.log10(255.0**2 / mse) if mse else np.inf


def _photo(h, w, seed=5):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 128 + 80 * np.sin(xx / 9.0) * np.cos(yy / 7.0)
    rgb = np.stack([base, np.roll(base, 5, 1), 255 - base], axis=2)
    return np.clip(rgb + rng.normal(0, 3, rgb.shape), 0, 255).astype(np.uint8)


# ------------------------------------------------------------ tables


def test_zigzag_matches_spec_table():
    """The generated zigzag order vs the T.81 figure, typed here
    independently — a transposition in either would fail."""
    spec = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert ZIGZAG.tolist() == spec


def test_dct_matrix_orthonormal():
    assert np.allclose(_DCT8 @ _DCT8.T, np.eye(8), atol=1e-12)


@pytest.mark.parametrize(
    "bits,vals", [(AC_LUM_BITS, AC_LUM_VALS), (AC_CHROM_BITS, AC_CHROM_VALS)]
)
def test_huffman_tables_form_valid_prefix_code(bits, vals):
    codes = _canonical_codes(bits, vals)
    assert len(codes) == len(vals) == 162
    seen = set()
    for sym, (code, length) in codes.items():
        assert code < (1 << length)
        bitstr = format(code, f"0{length}b")
        for p in seen:
            assert not bitstr.startswith(p) and not p.startswith(bitstr)
        seen.add(bitstr)
    # every run/size the encoder can emit has a code
    for run in range(16):
        for size in range(1, 11):
            assert (run << 4) | size in codes or run == 15
    assert 0x00 in codes and 0xF0 in codes  # EOB, ZRL


# --------------------------------------------------------- roundtrips


@pytest.mark.parametrize(
    "shape,kw,min_psnr",
    [
        ((48, 64), {}, 38),
        ((48, 64, 3), {"subsampling": "444"}, 36),
        ((48, 64, 3), {"subsampling": "422"}, 32),
        ((48, 64, 3), {"subsampling": "420"}, 31),
        ((47, 63, 3), {"subsampling": "420", "quality": 95}, 31),
        ((45, 61, 3), {"subsampling": "422"}, 32),
        ((9, 17), {}, 36),
    ],
)
def test_jpeg_roundtrip_psnr(shape, kw, min_psnr):
    img = _photo(shape[0], shape[1])
    img = img[:, :, 0] if len(shape) == 2 else img
    out = decode_jpeg(encode_jpeg(img, **kw))
    assert out.shape == img.shape
    assert _psnr(img, out) >= min_psnr


def test_jpeg_flat_is_lossless_and_1x1():
    flat = np.full((16, 16, 3), 130, np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(flat, quality=95)), flat)
    one = np.array([[77]], dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(one)), one)


def test_jpeg_restart_markers_do_not_change_pixels():
    img = _photo(48, 64)
    ref = decode_jpeg(encode_jpeg(img, subsampling="420"))
    for ri in (1, 3, 7):
        out = decode_jpeg(encode_jpeg(img, subsampling="420", restart_interval=ri))
        assert np.array_equal(out, ref), f"restart_interval={ri}"


def test_jpeg_quality_monotone_size():
    img = _photo(48, 64)
    sizes = [len(encode_jpeg(img, quality=q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


# ----------------------------------------------------------- hostile


def test_jpeg_rejects_unsupported_processes():
    img = _photo(16, 16)
    data = bytearray(encode_jpeg(img))
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
    with pytest.raises(EngineValueError, match="progressive"):
        decode_jpeg(bytes(data))


def test_jpeg_hostile_payloads_raise_engine_error():
    img = _photo(16, 16)
    good = encode_jpeg(img)
    cases = [
        b"",
        b"\xff\xd8",  # SOI only
        good[: len(good) // 2],  # truncated mid-stream
        good[:-30],  # truncated entropy data
        good[:2] + b"\x00\x00" + good[2:],  # garbage between markers
        # 16-bit DQT precision
        good[:2] + struct.pack(">BBHB", 0xFF, 0xDB, 3 + 129, 0x10) + b"\x00" * 129 + good[2:],
    ]
    for bad in cases:
        with pytest.raises(EngineValueError):
            decode_jpeg(bad)


def test_jpeg_dims_cap():
    # header claims 65535x65535 (> _MAX_PIXELS): reject before allocating
    img = _photo(8, 8)
    data = bytearray(encode_jpeg(img[:, :, 0]))
    i = bytes(data).find(b"\xff\xc0")
    struct.pack_into(">HH", data, i + 5, 65535, 65535)
    with pytest.raises(EngineValueError, match="dimensions"):
        decode_jpeg(bytes(data))


def test_jpeg_entropy_c_and_python_paths_identical(monkeypatch):
    """The self-compiled C scan decoder and the per-symbol Python loop
    must produce identical pixels on every supported shape (golden
    parity, same pattern as the PNG defilter)."""
    from datafiller_spark.kernels import cext

    img = _photo(48, 64)
    cases = [
        encode_jpeg(img),
        encode_jpeg(img, subsampling="420"),
        encode_jpeg(img, subsampling="422"),
        encode_jpeg(img[:47, :63], subsampling="420", quality=95),
        encode_jpeg(img[:, :, 0]),
        encode_jpeg(img, restart_interval=3),
        encode_jpeg(img, quality=30),
    ]
    with_lib = [decode_jpeg(d) for d in cases]
    monkeypatch.setitem(cext._STATE, "lib", None)
    monkeypatch.setitem(cext._STATE, "tried", True)
    without = [decode_jpeg(d) for d in cases]
    for i, (a, b) in enumerate(zip(with_lib, without)):
        assert np.array_equal(a, b), f"case {i}: C and Python paths differ"
    # hostile payloads raise the same way on the Python path
    with pytest.raises(EngineValueError):
        decode_jpeg(cases[0][:-40])


def test_jpeg_entropy_c_speedup(monkeypatch):
    """Entropy decode is the bit-serial hot loop; the C path must be
    clearly faster than the Python loop on a symbol-dense image."""
    import time

    from datafiller_spark.kernels import cext

    if cext.lib() is None:
        pytest.skip("no C compiler on this host; Python fallback only")
    rng = np.random.default_rng(0)
    noisy = rng.integers(0, 256, (256, 256, 3)).astype(np.uint8)  # max symbols
    data = encode_jpeg(noisy, quality=90)
    decode_jpeg(data)  # warm
    t0 = time.perf_counter()
    decode_jpeg(data)
    fast = time.perf_counter() - t0
    monkeypatch.setitem(cext._STATE, "lib", None)
    monkeypatch.setitem(cext._STATE, "tried", True)
    t0 = time.perf_counter()
    decode_jpeg(data)
    slow = time.perf_counter() - t0
    assert slow / fast >= 2, f"only {slow / fast:.1f}x ({fast*1e3:.0f} ms C)"


# ------------------------------------------------------------- AVI


def _fixture_avi(n=5, h=24, w=32, fps=10, **jpeg_kw):
    frames_px = []
    for t in range(n):
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.clip(128 + 60 * np.sin((xx + 4 * t) / 5.0), 0, 255).astype(np.uint8)
        frames_px.append(np.stack([img, img[::-1], 255 - img], axis=2).astype(np.uint8))
    payloads = [encode_jpeg(f, quality=92, **jpeg_kw) for f in frames_px]
    return mux_avi(payloads, fps, w, h), payloads, frames_px


def test_avi_mux_demux_roundtrip():
    avi, payloads, frames_px = _fixture_avi()
    got, fps, offsets = demux_avi(avi)
    assert fps == 10.0 and got == payloads
    # offsets point at the exact frame bytes inside the container
    for off, p in zip(offsets, payloads):
        assert avi[off : off + len(p)] == p
    frames, fps = decode_video(avi)
    assert len(frames) == 5 and frames[0].shape == (24, 32, 3)
    for d, f in zip(frames, frames_px):
        assert _psnr(f, d) >= 30


def test_avi_frame_indices_and_odd_payload_alignment():
    avi, payloads, _ = _fixture_avi(n=4)
    sel, _ = decode_video(avi, frame_indices=[0, 2, 99])
    assert len(sel) == 2
    # odd-length frame payloads must demux back at their exact lengths
    odd = [p + b"x" if len(p) % 2 == 0 else p for p in payloads]
    got, _, _ = demux_avi(mux_avi(odd, 10, 32, 24))
    assert [len(g) for g in got] == [len(p) for p in odd]


def test_avi_hostile_payloads():
    avi, _, _ = _fixture_avi(n=2)
    for bad in (
        b"nope",
        avi[:40],  # truncated
        b"RIFF\x10\x00\x00\x00AVI LIST\xff\xff\xff\xffmovi",  # lying LIST size
    ):
        with pytest.raises(EngineValueError):
            demux_avi(bad)
    with pytest.raises(EngineValueError):
        mux_avi([], 10, 8, 8)
    with pytest.raises(EngineValueError):
        decode_video(b"RIFF\x04\x00\x00\x00AVI ")  # valid magic, no frames


def test_jpeg_hostile_dht_dc_symbol_raises_engine_error(monkeypatch):
    """round-6 self-review: a DHT whose DC HUFFVAL bytes are 0xFF must
    raise EngineValueError on BOTH entropy paths — not ValueError
    (negative shift) in Python or undefined shifts in C."""
    from datafiller_spark.kernels import cext

    img = _photo(16, 16)
    data = bytearray(encode_jpeg(img[:, :, 0]))
    i = bytes(data).find(b"\xff\xc4")  # first DHT = DC luminance
    seg_len = struct.unpack_from(">H", data, i + 2)[0]
    # overwrite the HUFFVAL list (after the 2-len + 1-class + 16-counts)
    for k in range(i + 4 + 17, i + 2 + seg_len):
        data[k] = 0xFF
    for force_python in (False, True):
        if force_python:
            monkeypatch.setitem(cext._STATE, "lib", None)
            monkeypatch.setitem(cext._STATE, "tried", True)
        with pytest.raises(EngineValueError):
            decode_jpeg(bytes(data))


def test_jpeg_empty_dri_and_fill_bytes():
    img = _photo(16, 16)
    good = encode_jpeg(img)
    # DRI with declared length 2 (empty body): EngineValueError, not struct.error
    bad = good[:2] + b"\xff\xdd\x00\x02" + good[2:]
    with pytest.raises(EngineValueError, match="DRI"):
        decode_jpeg(bad)
    # T.81 B.1.1.2 fill bytes: 0xFF padding before a marker is VALID
    i = good.find(b"\xff\xc4")
    padded = good[:i] + b"\xff\xff\xff" + good[i:]
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(good))


def test_avi_deep_nesting_raises_engine_error():
    """round-6 self-review: unbounded LIST recursion escaped as
    RecursionError; now bounded with EngineValueError."""
    inner = b""
    for _ in range(2000):
        inner = b"LIST" + struct.pack("<I", len(inner) + 4) + b"movi" + inner
    data = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    with pytest.raises(EngineValueError, match="nesting"):
        demux_avi(data)


def test_decode_video_frame_indices_preserve_request_order():
    avi, _, frames_px = _fixture_avi(n=4)
    out, _ = decode_video(avi, frame_indices=[3, 0, 0, 99])
    assert len(out) == 3  # 99 dropped; duplicate honored, order kept
    assert np.array_equal(out[1], out[2])
    ref, _ = decode_video(avi)
    assert np.array_equal(out[0], ref[3]) and np.array_equal(out[1], ref[0])


@pytest.mark.parametrize("force_python", [False, True])
def test_jpeg_mutation_fuzz_never_escapes(monkeypatch, force_python):
    """Deterministic byte-mutation fuzz: every corruption of a valid
    JPEG must either decode (harmless bit damage) or raise
    EngineValueError — never any other exception, hang, or crash —
    on BOTH entropy paths (the C scan decoder's bounds and the Python
    bit reader's shifts are the contract)."""
    if force_python:
        from datafiller_spark.kernels import cext

        monkeypatch.setitem(cext._STATE, "lib", None)
        monkeypatch.setitem(cext._STATE, "tried", True)
    rng = np.random.default_rng(1234)
    img = _photo(32, 40)
    base = bytearray(encode_jpeg(img, subsampling="420", restart_interval=2))
    outcomes = {"ok": 0, "engine_error": 0}
    for _ in range(300):
        data = bytearray(base)
        for _ in range(rng.integers(1, 4)):
            pos = int(rng.integers(2, len(data)))
            data[pos] = int(rng.integers(0, 256))
        try:
            out = decode_jpeg(bytes(data))
            assert out.dtype == np.uint8
            outcomes["ok"] += 1
        except EngineValueError:
            outcomes["engine_error"] += 1
    assert sum(outcomes.values()) == 300
    assert outcomes["engine_error"] > 0  # corruption is actually detected


def test_avi_mutation_and_truncation_fuzz():
    """Same contract for the container walker: decode_video on mutated/
    truncated AVIs either yields frames or raises EngineValueError."""
    rng = np.random.default_rng(99)
    avi, _, _ = _fixture_avi(n=3)
    base = bytearray(avi)
    for trial in range(200):
        data = bytearray(base)
        if trial % 3 == 0:
            data = data[: int(rng.integers(1, len(data)))]  # truncation
        else:
            for _ in range(rng.integers(1, 4)):
                pos = int(rng.integers(0, len(data)))
                data[pos] = int(rng.integers(0, 256))
        try:
            frames, fps = decode_video(bytes(data))
            assert frames and fps > 0
        except EngineValueError:
            pass


# ------------------------------------------------- Spark video paths


def test_decode_asset_video_and_jpeg_image():
    avi, _, frames_px = _fixture_avi(n=3)
    frames, fps = decode_asset(avi, "video")
    assert len(frames) == 3 and fps == 10.0
    img = _photo(12, 16)
    out = decode_asset(encode_jpeg(img), "image")  # JPEG now sniffed
    assert out.shape == img.shape and _psnr(img, out) >= 30
    with pytest.raises(NotImplementedError):
        decode_asset(b"\x00\x00\x00\x18ftypmp42", "video")


def test_extract_features_video_metadata(spark):
    avi, _, _ = _fixture_avi(n=4, h=24, w=32, fps=10)
    df = spark.createDataFrame(
        [("v", "video", bytearray(avi))], ["asset_id", "kind", "payload"]
    )
    r = extract_features(df).collect()[0]
    assert r.decode_ok and r.error is None
    assert (r.width, r.height, r.channels) == (32, 24, 3)
    assert abs(r.duration - 0.4) < 1e-6  # 4 frames / 10 fps
    assert len(r.features) == 16 and all(np.isfinite(r.features))


def test_sample_frames_real_mjpeg_stats(spark):
    """The round-5 verdict deliverable: sample_frames emits REAL frame
    pixel stats for an MJPEG fixture (not byte-window stats)."""
    avi, payloads, frames_px = _fixture_avi(n=6)
    df = spark.createDataFrame(
        [("v", "video", bytearray(avi)), ("raw", "video", bytearray(b"z" * 3000))],
        ["asset_id", "kind", "payload"],
    )
    out = sample_frames(df, every_n_frames=2, max_frames=3).collect()
    mj = sorted((r for r in out if r.asset_id == "v"), key=lambda r: r.frame_no)
    assert [r.frame_no for r in mj] == [0, 2, 4]
    for r in mj:
        w, h, c = r.features[0], r.features[1], r.features[2]
        assert (w, h, c) == (32.0, 24.0, 3.0)
        # gray mean of the decoded frame ≈ gray mean of the source frame
        src_gray = frames_px[r.frame_no][:, :, :3].mean()
        assert abs(r.features[4] - src_gray) < 3.0
    # non-AVI payload still gets byte-window stats (8 floats)
    raw = [r for r in out if r.asset_id == "raw"]
    assert raw and all(len(r.features) == 8 for r in raw)


def test_synthesized_video_assets_decode(spark):
    """synthesize_assets' video fixtures (id % 10 == 6) are real MJPEG
    AVIs whose decoded frames match the deterministic generator."""
    df = spark.createDataFrame([(6,), (16,), (26,)], ["doc_id"])
    assets = {r.asset_id: bytes(r.payload) for r in synthesize_assets(df).collect()}
    for i_str, payload in assets.items():
        i = int(i_str)
        frames, fps = decode_video(payload)
        assert fps == 5.0 and len(frames) == 2 + i % 3
        w, h = 4 + i % 13, 3 + i % 7
        base = (np.arange(h * w, dtype=np.int64) * (i + 1)) % 256
        src = np.stack([(base + k * 31) % 256 for k in range(3)], axis=1)
        src = src.reshape(h, w, 3).astype(np.uint8)
        assert frames[0].shape == (h, w, 3)
        # the generator's mod-256 sawtooth is JPEG-hostile (hard
        # wraparound edges); the oracle checks exact METADATA, pixels
        # only need to be recognizably the same content
        # (tiny frames + 4:2:0 chroma on hard edges → generous bound)
        med = np.median(np.abs(src.astype(int) - frames[0].astype(int)))
        assert med <= 24, f"id {i}: median abs err {med}"


def test_cext_so_cached_by_content_hash(monkeypatch, tmp_path):
    """One compile serves the whole host: the .so is published under a
    content-hash-keyed path with an atomic rename, so a second process
    (simulated by resetting the in-process memo) loads WITHOUT invoking
    cc. Round-7 optimization: round 6 compiled per worker per session."""
    import subprocess as sp

    from datafiller_spark.kernels import cext

    if cext.lib() is None:
        pytest.skip("no C compiler on this host; Python fallback only")
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile as _tf

    monkeypatch.setattr(_tf, "tempdir", None)  # re-read TMPDIR
    calls = []
    real_run = sp.run

    def counting_run(*args, **kwargs):
        calls.append(args[0])
        return real_run(*args, **kwargs)

    monkeypatch.setattr(cext.subprocess, "run", counting_run)
    # process 1: cold host (fresh TMPDIR) → exactly one compile
    monkeypatch.setitem(cext._STATE, "lib", None)
    monkeypatch.setitem(cext._STATE, "tried", False)
    assert cext.lib() is not None
    assert len(calls) == 1
    assert os.path.exists(cext._cache_path())
    # process 2 on the same host: loads the cached .so, cc never runs
    monkeypatch.setitem(cext._STATE, "lib", None)
    monkeypatch.setitem(cext._STATE, "tried", False)
    assert cext.lib() is not None
    assert len(calls) == 1, "second process must not recompile"


def test_demux_avi_pins_first_video_stream():
    """A two-stream AVI (vids + a second stream with dc chunks) must
    demux ONLY the first video stream's frames — foreign '01dc' chunks
    may not interleave into the sequence (round-6 advice)."""
    img = _photo(16, 16)
    good = encode_jpeg(img)
    avi = bytearray(mux_avi([good, good], 5, 16, 16))
    # craft a second strl (auds) and a foreign '01dc' chunk in movi
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")
    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)
    strh2 = b"auds" + b"\x00" * 52
    strl2 = lst(b"strl", chunk(b"strh", strh2))
    # insert the second strl right after the first strl (inside hdrl)
    hdrl_at = bytes(avi).find(b"hdrl")
    hdrl_size_at = hdrl_at - 8
    first_strl_at = bytes(avi).find(b"strl") - 8
    first_strl_size = struct.unpack_from("<I", avi, first_strl_at + 4)[0]
    insert_at = first_strl_at + 8 + first_strl_size + (first_strl_size & 1)
    avi = avi[:insert_at] + strl2 + avi[insert_at:]
    # grow the hdrl LIST and RIFF sizes
    for at in (hdrl_size_at + 4, 4):
        struct.pack_into("<I", avi, at, struct.unpack_from("<I", avi, at)[0] + len(strl2))
    # append a foreign frame chunk into movi
    movi_at = bytes(avi).find(b"movi")
    movi_size_at = movi_at - 8
    movi_size = struct.unpack_from("<I", avi, movi_size_at + 4)[0]
    foreign = chunk(b"01dc", b"\xde\xad\xbe\xef")
    movi_end = movi_size_at + 8 + movi_size
    avi = avi[:movi_end] + foreign + avi[movi_end:]
    for at in (movi_size_at + 4, 4):
        struct.pack_into("<I", avi, at, struct.unpack_from("<I", avi, at)[0] + len(foreign))
    frames, fps, offs = demux_avi(bytes(avi))
    assert len(frames) == 2  # the foreign 01dc chunk was NOT taken
    assert all(f == good for f in frames)
    assert fps == 5.0


def test_demux_avi_movi_before_hdrl_still_pins_stream():
    """Stream pinning must survive hostile chunk ORDER: in an AVI whose
    movi LIST precedes hdrl, a single-pass demuxer would walk the
    frames while the vids stream id is still unknown and fall into the
    headerless-tolerance branch, accepting every stream's chunks. The
    two-pass walk reads headers first, so the foreign '01dc' chunk is
    rejected regardless of where hdrl sits."""
    img = _photo(16, 16)
    good = encode_jpeg(img)
    avi = bytearray(mux_avi([good, good], 5, 16, 16))

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    # append a foreign frame chunk into movi
    movi_at = bytes(avi).find(b"movi")
    movi_size_at = movi_at - 8
    movi_size = struct.unpack_from("<I", avi, movi_size_at + 4)[0]
    foreign = chunk(b"01dc", b"\xde\xad\xbe\xef")
    movi_end = movi_size_at + 8 + movi_size
    avi = avi[:movi_end] + foreign + avi[movi_end:]
    for at in (movi_size_at + 4, 4):
        struct.pack_into("<I", avi, at, struct.unpack_from("<I", avi, at)[0] + len(foreign))
    # reorder the TOP-LEVEL chunks so movi comes before hdrl
    data = bytes(avi)
    pos, tops = 12, []
    while pos + 8 <= len(data):
        size = struct.unpack_from("<I", data, pos + 4)[0]
        end = pos + 8 + size + (size & 1)
        tops.append(data[pos:end])
        pos = end
    def is_movi(c):
        return c[:4] == b"LIST" and c[8:12] == b"movi"
    reordered = [c for c in tops if is_movi(c)] + [c for c in tops if not is_movi(c)]
    swapped = data[:12] + b"".join(reordered)
    assert swapped.find(b"movi") < swapped.find(b"hdrl")
    frames, fps, offs = demux_avi(swapped)
    assert len(frames) == 2  # the foreign 01dc chunk was NOT taken
    assert all(f == good for f in frames)
    assert fps == 5.0


def test_cext_recompiles_over_corrupt_cached_so(monkeypatch, tmp_path):
    """A corrupt cached .so (e.g. from a crashed earlier session) must
    not permanently disable the C fast path: loading it fails, the
    helper recompiles over the file once, and the reload succeeds."""
    import subprocess as sp

    from datafiller_spark.kernels import cext

    if cext.lib() is None:
        pytest.skip("no C compiler on this host; Python fallback only")
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile as _tf

    monkeypatch.setattr(_tf, "tempdir", None)  # re-read TMPDIR
    corrupt = cext._cache_path()
    with open(corrupt, "wb") as f:
        f.write(b"not an elf library")
    calls = []
    real_run = sp.run

    def counting_run(*args, **kwargs):
        calls.append(args[0])
        return real_run(*args, **kwargs)

    monkeypatch.setattr(cext.subprocess, "run", counting_run)
    monkeypatch.setitem(cext._STATE, "lib", None)
    monkeypatch.setitem(cext._STATE, "tried", False)
    assert cext.lib() is not None, "corrupt cache must trigger a recompile"
    assert len(calls) == 1
    import ctypes

    ctypes.CDLL(corrupt)  # the recompile replaced the corrupt file


def test_cext_cache_dir_symlink_or_open_mode_refused(monkeypatch, tmp_path):
    """The cache dir is checked with lstat: a symlink planted at the
    expected name (even to a 0700 directory of this user) is refused,
    as is a real directory that grants group/other access, and lib()
    then falls back to pure Python instead of loading from it."""
    from datafiller_spark.kernels import cext

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile as _tf

    monkeypatch.setattr(_tf, "tempdir", None)  # re-read TMPDIR
    target = tmp_path / "elsewhere"
    target.mkdir(mode=0o700)
    expected = tmp_path / f"datafiller_cext_u{os.getuid()}"
    expected.symlink_to(target, target_is_directory=True)
    with pytest.raises(OSError, match="symlink"):
        cext._cache_path()
    monkeypatch.delenv("DATAFILLER_SPARK_NO_CC", raising=False)
    monkeypatch.setitem(cext._STATE, "lib", None)
    monkeypatch.setitem(cext._STATE, "tried", False)
    assert cext.lib() is None
    assert not list(target.iterdir()), "nothing may be compiled through the link"

    expected.unlink()
    expected.mkdir()
    expected.chmod(0o755)
    with pytest.raises(OSError, match="other users"):
        cext._cache_path()


def test_jpeg_dht_trailing_garbage_raises():
    data = bytearray(encode_jpeg(_photo(16, 16)))
    at = bytes(data).find(b"\xff\xc4")
    size_at = at + 2
    old = struct.unpack_from(">H", data, size_at)[0]
    # append 3 garbage bytes inside the DHT segment body
    data = data[: at + 2 + old] + b"\x01\x02\x03" + data[at + 2 + old :]
    struct.pack_into(">H", data, size_at, old + 3)
    with pytest.raises(EngineValueError, match="DHT"):
        decode_jpeg(bytes(data))


def test_jpeg_sos_duplicate_component_raises():
    data = bytearray(encode_jpeg(_photo(16, 16)))  # RGB: 3 scan components
    at = bytes(data).find(b"\xff\xda")
    # SOS body: [len:2][ns:1][(id, tables) * ns]...; duplicate comp 0 into comp 1's slot
    ns_at = at + 4
    assert data[ns_at] == 3
    data[ns_at + 3] = data[ns_at + 1]  # comp 1 id := comp 0 id
    with pytest.raises(EngineValueError, match="twice"):
        decode_jpeg(bytes(data))


def test_jpeg_eoi_truncated_tail_byte_still_decodes():
    """Stripping the trailing EOI marker leaves complete entropy data;
    the last byte must not be silently dropped (round-6 advice)."""
    full = encode_jpeg(_photo(24, 24), quality=90)
    assert full.endswith(b"\xff\xd9")
    truncated = full[:-2]
    assert np.array_equal(decode_jpeg(truncated), decode_jpeg(full))
