"""Codec backend selection: opportunistic native decoders, pure-numpy floor.

The pure-Python/numpy codecs (operators/jpeg.py, gif.py, and the PNG,
BMP and Y4M parsers below) are correct but ~100-1000x slower than
libjpeg/zlib-native decode loops; at 100 TB the decode stage dominates the pipeline. This
container ships no PIL/soundfile, so pure-numpy is the honest floor HERE —
but the same pipeline must run at production speed off the sandbox. Every
image decode/resize therefore routes through this module:

- ``SDC_CODEC_BACKEND=auto`` (default): use PIL when importable, else the
  pure-numpy path. Resolution happens lazily INSIDE the executor task
  (each worker probes its own environment — driver and executors may have
  different site-packages).
- ``SDC_CODEC_BACKEND=numpy``: force the pure path (reproducibility pins,
  the hash-pinned codec tests).
- ``SDC_CODEC_BACKEND=pil``: require PIL; raise NotImplementedError if
  missing, which fails the Arrow task (fail loudly when a production
  deployment silently lost its native codecs).

Both backends produce the same (h, w, 3) uint8 pixel arrays; tests assert
equality wherever both exist (skipped in this container).

Resize is PIL's bilinear vs the vectorized half-pixel-center bilinear
below; the numpy implementation is the reference semantics (OpenCV
INTER_LINEAR convention: src = (dst + 0.5) * scale - 0.5, edge clamp).

Audio and video get the same treatment with their own probes:
``SDC_AUDIO_BACKEND=auto|numpy|soundfile`` routes
``decode_audio_samples`` through libsndfile (WAV/FLAC/OGG/...) when
importable, with the pure-numpy 16-bit-PCM-WAV parser as the floor;
``SDC_VIDEO_BACKEND=auto|numpy|pyav`` routes ``iter_video_luma``
through ffmpeg (any container/codec) when importable, with the
pure-numpy Y4M parser as the floor and a LOUD NotImplementedError for
compressed payloads without pyav. Graded queries pin ``numpy``
explicitly (their oracles depend on exact decoder semantics); the
``force`` parameter bypasses the env without touching the probes.
"""

from __future__ import annotations

import os
import zlib

import numpy as np

from sdc_spark.operators.gif import gif_decode
from sdc_spark.operators.jpeg import jpeg_decode

_ENV = "SDC_CODEC_BACKEND"
_AUDIO_ENV = "SDC_AUDIO_BACKEND"  # auto|numpy|soundfile
_VIDEO_ENV = "SDC_VIDEO_BACKEND"  # auto|numpy|pyav


def _pil():
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except Exception:  # noqa: BLE001 — any import failure means "absent"
        return None


def _soundfile():
    try:
        import soundfile  # noqa: PLC0415

        return soundfile
    except Exception:  # noqa: BLE001
        return None


def _pyav():
    try:
        import av  # noqa: PLC0415

        return av
    except Exception:  # noqa: BLE001
        return None


def backend() -> str:
    """Resolve the active codec backend NAME ('pil' or 'numpy')."""
    mode = os.environ.get(_ENV, "auto")
    if mode == "numpy":
        return "numpy"
    if mode == "pil":
        if _pil() is None:
            raise NotImplementedError(
                f"{_ENV}=pil but PIL is not importable on this worker"
            )
        return "pil"
    if mode != "auto":
        raise ValueError(f"{_ENV}={mode!r}; expected auto|numpy|pil")
    return "pil" if _pil() is not None else "numpy"


def _resolve_media_backend(env: str, native: str, probe) -> str:
    """Shared auto/numpy/<native> resolution for the audio/video probes —
    same contract as ``backend()``: auto prefers the native decoder when
    importable, explicit native raises loudly when it is not."""
    mode = os.environ.get(env, "auto")
    if mode == "numpy":
        return "numpy"
    if mode == native:
        if probe() is None:
            raise NotImplementedError(f"{env}={native} but {native} is not importable on this worker")
        return native
    if mode != "auto":
        raise ValueError(f"{env}={mode!r}; expected auto|numpy|{native}")
    return native if probe() is not None else "numpy"


def audio_backend() -> str:
    """'soundfile' (libsndfile — WAV/FLAC/OGG and friends) when importable,
    else the pure-numpy 16-bit-PCM-WAV floor."""
    return _resolve_media_backend(_AUDIO_ENV, "soundfile", _soundfile)


def video_backend() -> str:
    """'pyav' (ffmpeg — MP4/H.264/VP9/...) when importable, else the
    pure-numpy Y4M floor."""
    return _resolve_media_backend(_VIDEO_ENV, "pyav", _pyav)


def decode_audio_samples(
    buf: bytes, force: str | None = None
) -> tuple[np.ndarray, int]:
    """Decode an audio payload to ((n, channels) float64 samples in the
    int16 raw scale, sample_rate). The numpy floor parses 16-bit PCM WAV
    (the reference semantics every feature query is graded against);
    the soundfile path reads any libsndfile format and is rescaled by
    32768 so both backends agree on WAV input. Raises on undecodable
    payloads (callers apply poison-pill discipline)."""
    buf = bytes(buf)
    if (force or audio_backend()) == "soundfile":
        import io

        data, rate = _soundfile().read(io.BytesIO(buf), dtype="float64", always_2d=True)
        return data * 32768.0, int(rate)
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size < 44 or a[:4].tobytes() != b"RIFF" or a[8:12].tobytes() != b"WAVE":
        raise ValueError("not WAV (and no soundfile backend for other formats)")
    pos, fmt, data = 12, None, None
    while pos + 8 <= a.size:
        cid = a[pos : pos + 4].tobytes()
        sz = int(np.frombuffer(a[pos + 4 : pos + 8].tobytes(), "<u4")[0])
        body = a[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    if fmt is None or data is None:
        raise ValueError("missing WAV chunks")
    ch = int(np.frombuffer(fmt[2:4].tobytes(), "<u2")[0])
    rate = int(np.frombuffer(fmt[4:8].tobytes(), "<u4")[0])
    depth = int(np.frombuffer(fmt[14:16].tobytes(), "<u2")[0])
    if depth != 16:
        raise ValueError("only 16-bit PCM supported by the numpy floor")
    x = np.frombuffer(data.tobytes(), "<i2").astype(np.float64)
    return x.reshape(-1, ch), rate


def iter_video_luma(buf: bytes, force: str | None = None):
    """Yield (h, w) uint8 luma planes, one per frame. The numpy floor
    parses Y4M (raw-plane container — no entropy coding, so a
    library-free path exists); the pyav path decodes ANY ffmpeg
    container/codec (MP4/H.264/VP9/...) and reformats each frame to
    gray8, which for YUV sources is the Y plane unchanged. Compressed
    payloads without pyav raise NotImplementedError — failing loudly
    beats emitting garbage."""
    buf = bytes(buf)
    if (force or video_backend()) == "pyav":
        import io

        with _pyav().open(io.BytesIO(buf)) as container:
            for frame in container.decode(video=0):
                yield frame.reformat(format="gray").to_ndarray()
        return
    if not buf.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "compressed video needs ffmpeg (install pyav for the native "
            "backend) — only Y4M has a library-free decode path"
        )
    for _w, _h, _m, y, _u, _v in y4m_frames(buf):
        yield y


def decode_image_pixels(buf: bytes, force: str | None = None) -> np.ndarray:
    """Sniff PNG/JPEG/BMP/GIF magic and decode to an (h, w, 3) uint8 RGB
    array via the active backend. Raises on unknown/unsupported payloads
    (callers apply poison-pill discipline). ``force`` pins a backend
    regardless of the environment — graded queries whose oracles depend
    on exact decoder semantics pin 'numpy' so they grade identically on
    a PIL-equipped cluster."""
    buf = bytes(buf)
    if (force or backend()) == "pil":
        import io

        im = _pil().open(io.BytesIO(buf)).convert("RGB")
        return np.asarray(im, dtype=np.uint8)
    if buf[:8] == _PNG_MAGIC:
        px = _png_pixels(buf)
        if px.shape[-1] < 3:  # gray / gray+alpha -> RGB
            px = np.repeat(px[..., :1], 3, axis=-1)
        return px
    if buf[:2] == b"\xff\xd8":
        return jpeg_decode(buf)
    if buf[:2] == b"BM":
        return bmp_pixels(buf)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return gif_decode(buf)[2][0]  # first frame RGB
    raise ValueError("unknown image format")


def bilinear_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Vectorized half-pixel-center bilinear resample to (out_h, out_w).

    src = (dst + 0.5) * (in/out) - 0.5 with edge clamping — the OpenCV
    INTER_LINEAR / PIL-bilinear-without-area-filter convention. Returns
    float64; quantization (round + uint8) is the caller's choice so
    feature extractors can consume unquantized values. Pure numpy: two
    gathers + three lerps, no Python per-pixel loop."""
    px = np.asarray(px)
    squeeze = px.ndim == 2
    if squeeze:
        px = px[:, :, None]
    h, w = px.shape[:2]
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * (w / out_w) - 0.5
    y0f, x0f = np.floor(ys), np.floor(xs)
    ty = (ys - y0f)[:, None, None]
    tx = (xs - x0f)[None, :, None]
    y0 = np.clip(y0f, 0, h - 1).astype(np.int64)
    y1 = np.clip(y0f + 1, 0, h - 1).astype(np.int64)
    x0 = np.clip(x0f, 0, w - 1).astype(np.int64)
    x1 = np.clip(x0f + 1, 0, w - 1).astype(np.int64)
    p = px.astype(np.float64)
    top = p[y0][:, x0] * (1.0 - tx) + p[y0][:, x1] * tx
    bot = p[y1][:, x0] * (1.0 - tx) + p[y1][:, x1] * tx
    out = top * (1.0 - ty) + bot * ty
    return out[:, :, 0] if squeeze else out


def resize_pixels(
    px: np.ndarray, out_w: int, out_h: int, force: str | None = None
) -> np.ndarray:
    """Resize to (out_h, out_w) uint8 via the active backend (PIL bilinear
    when present, else the numpy reference above; round-half-even
    quantization on the numpy path). ``force`` pins a backend regardless
    of the environment — the graded resize query pins 'numpy' so its
    analytic oracle holds on any deployment."""
    if (force or backend()) == "pil":
        Image = _pil()
        im = Image.fromarray(np.asarray(px, dtype=np.uint8))
        return np.asarray(
            im.resize((out_w, out_h), Image.BILINEAR), dtype=np.uint8
        )
    out = bilinear_resize(px, out_w, out_h)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# -- library-free raster/video parsers ---------------------------------------
# PNG (stdlib zlib inflate + numpy un-filtering), 24-bit BMP and Y4M video
# are pure header + raster formats, so the numpy floor decodes them exactly.

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def png_info(buf: bytes) -> tuple:
    """Walk a PNG's chunks: (w, h, depth, color_type, n_channels, the
    concatenated IDAT zlib stream). Supports 8-bit depth, color types
    0 (gray) / 2 (RGB) / 4 (gray+A) / 6 (RGBA), non-interlaced — the
    pure-numpy subset; palette and Adam7 raise."""
    if buf[:8] != _PNG_MAGIC:
        raise ValueError("not PNG")
    pos, w, h, depth, ctype, interlace, idat = 8, None, None, None, None, 0, []
    n = len(buf)
    while pos + 8 <= n:
        ln = int.from_bytes(buf[pos : pos + 4], "big")
        cid = buf[pos + 4 : pos + 8]
        body = buf[pos + 8 : pos + 8 + ln]
        if cid == b"IHDR":
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            depth, ctype, interlace = body[8], body[9], body[12]
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 12 + ln  # length + type + body + crc
    if w is None or not idat:
        raise ValueError("missing chunks")
    if depth != 8 or interlace != 0:
        raise ValueError("only 8-bit non-interlaced supported")
    nch = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"unsupported color type {ctype}")
    return w, h, int(depth), int(ctype), nch, b"".join(idat)


def _png_unfilter(raw: bytes, w: int, h: int, nch: int) -> np.ndarray:
    """Reverse the per-row PNG filters (types 0-4) on inflated IDAT bytes.
    Filters none/sub/up are vectorized (sub via per-channel cumsum mod
    256); average/paeth fall back to the spec's sequential recurrence."""
    stride = w * nch
    rows = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    recon = np.zeros((h, stride), np.int32)
    prior = np.zeros(stride, np.int32)
    for r in range(h):
        f = int(filters[r])
        line = rows[r, 1:].astype(np.int32)
        if f == 0:
            rec = line
        elif f == 1:  # sub: per-channel prefix sum mod 256
            rec = line
            for c in range(nch):
                rec[c::nch] = np.cumsum(rec[c::nch]) & 0xFF
        elif f == 2:  # up
            rec = (line + prior) & 0xFF
        elif f == 3:  # average
            rec = line
            for x in range(stride):
                left = rec[x - nch] if x >= nch else 0
                rec[x] = (rec[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif f == 4:  # paeth
            rec = line
            for x in range(stride):
                left = rec[x - nch] if x >= nch else 0
                up = prior[x]
                ul = prior[x - nch] if x >= nch else 0
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        recon[r] = rec
        prior = recon[r]
    return recon.astype(np.uint8).reshape(h, w, nch)


def _png_pixels(buf: bytes) -> np.ndarray:
    """Full-pixel PNG decode: (h, w, 1..3) uint8, alpha dropped."""
    w, h, _depth, _ctype, nch, idat = png_info(buf)
    raw = zlib.decompress(idat)
    if len(raw) != h * (w * nch + 1):
        raise ValueError("IDAT size mismatch")
    return _png_unfilter(raw, w, h, nch)[..., : min(nch, 3)]


def bmp_pixels(buf: bytes) -> np.ndarray:
    """24-bit uncompressed BMP to (h, w, 3) uint8 RGB: dimensions from the
    BITMAPINFOHEADER, rows 4-byte aligned and stored bottom-up."""
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size < 54 or a[:2].tobytes() != b"BM":
        raise ValueError("not BMP")
    off = int(np.frombuffer(a[10:14].tobytes(), "<u4")[0])
    w = int(np.frombuffer(a[18:22].tobytes(), "<i4")[0])
    h = int(np.frombuffer(a[22:26].tobytes(), "<i4")[0])
    bpp = int(np.frombuffer(a[28:30].tobytes(), "<u2")[0])
    if bpp != 24:
        raise ValueError("only 24-bit BMP")
    stride = (w * 3 + 3) & ~3
    px = a[off : off + stride * abs(h)].reshape(abs(h), stride)[:, : w * 3]
    px = px.reshape(abs(h), w, 3)[::-1]  # bottom-up -> top-down, BGR
    return px[..., ::-1]  # -> RGB


def y4m_frames(buf: bytes):
    """Parse a Y4M payload; yield (w, h, mono, y, u, v) numpy planes per
    frame. Supports Cmono and the C420* family (420jpeg/420mpeg2/420paldv
    share plane sizes); C absent defaults to 420jpeg per spec."""
    nl = buf.index(b"\n")
    head = buf[:nl].decode("ascii", "replace").split(" ")
    if head[0] != "YUV4MPEG2":
        raise ValueError("not Y4M")
    w = h = None
    cs = "420jpeg"
    for p in head[1:]:
        if p.startswith("W"):
            w = int(p[1:])
        elif p.startswith("H"):
            h = int(p[1:])
        elif p.startswith("C"):
            cs = p[1:]
    if not w or not h:
        raise ValueError("missing dimensions")
    mono = cs == "mono"
    if not mono and not cs.startswith("420"):
        raise ValueError(f"unsupported colorspace {cs}")
    ysz = w * h
    csz = 0 if mono else (w // 2) * (h // 2)
    a = np.frombuffer(buf, dtype=np.uint8)
    pos = nl + 1
    while pos < len(a):
        fnl = buf.index(b"\n", pos)
        if buf[pos : pos + 5] != b"FRAME":
            raise ValueError("bad frame marker")
        pos = fnl + 1
        y = a[pos : pos + ysz].reshape(h, w)
        pos += ysz
        u = v = None
        if not mono:
            u = a[pos : pos + csz].reshape(h // 2, w // 2)
            v = a[pos + csz : pos + 2 * csz].reshape(h // 2, w // 2)
            pos += 2 * csz
        yield w, h, mono, y, u, v
