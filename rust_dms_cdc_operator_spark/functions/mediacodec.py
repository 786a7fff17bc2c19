"""Real (stdlib) media decoders behind the multimodal stub seam.

Pixel and sample access to *compressed* codecs needs a codec library;
container/header formats are parseable with ``struct`` alone. This
module decodes, for real:

- **PPM/PGM** (netpbm P2/P3/P5/P6): ASCII header → width/height/maxval;
- **PNG**: signature + IHDR → width/height/bit depth/color channels;
- **JPEG**: SOI + marker-segment walk to SOF0/SOF2 (any SOFn) →
  height/width/components — geometry without a codec library;
- **BMP/GIF**: DIB-header-size-dispatched / logical-screen headers;
- **TIFF**: byte-order-aware first-IFD walk → ImageWidth/ImageLength/
  SamplesPerPixel tags;
- **WebP** (RIFF/WEBP): VP8X canvas, VP8L packed 14-bit fields, or
  lossy VP8 key-frame dims;
- **WAV** (RIFF/WAVE): fmt/data chunk walk → channels, sample rate,
  bit depth, sample count, duration;
- **MP3** (MPEG-1/2/2.5 Layer III): optional ID3v2 skip + frame-header
  walk → channels, sample rate, frame-exact sample count, duration.

``decode(payload)`` sniffs the magic and dispatches to these parsers
only, so its results never depend on which optional libraries are
installed. Unknown magics raise ``UnknownMediaError`` (a
``NotImplementedError``).

All functions are plain ``bytes -> dict`` so they drop into the
Arrow ``mapInPandas`` batch loop of
:func:`rust_dms_cdc_operator_spark.functions.multimodal.decode_media_features`
unchanged.
"""

from __future__ import annotations

import struct


class UnknownMediaError(NotImplementedError):
    """Payload magic not recognized by any wired decoder."""


#: uniform decode result; absent fields are None
_FIELDS = (
    "codec",
    "width",
    "height",
    "channels",
    "sample_rate_hz",
    "n_samples",
    "duration_ms",
)


def _result(**kw) -> dict:
    out = dict.fromkeys(_FIELDS)
    out.update(kw)
    return out


def _netpbm_tokens(payload: bytes, start: int) -> tuple[list[int], int]:
    """The three numeric header tokens (width, height, maxval) after
    the magic at ``start``, and the offset just past the last one.
    Tokens are whitespace-separated; comments run # → end of line;
    only the 512-byte header region is read."""
    toks: list[int] = []
    i = start + 2
    while len(toks) < 3 and i < min(len(payload), start + 512):
        c = payload[i]
        if c == ord("#"):
            nl = payload.find(b"\n", i)
            i = len(payload) if nl < 0 else nl + 1
        elif c in b" \t\r\n":
            i += 1
        else:
            j = i
            while j < len(payload) and payload[j] in b"0123456789":
                j += 1
            if j == i:
                raise ValueError(f"bad netpbm header byte at {i}")
            toks.append(int(payload[i:j]))
            i = j
    if len(toks) < 3:
        raise ValueError("truncated netpbm header")
    return toks, i


def parse_ppm(payload: bytes) -> dict:
    """netpbm header: magic, whitespace/comment-separated width height
    [maxval]. Channels: 3 for pixmaps (P3/P6), 1 for graymaps."""
    magic = payload[:2].decode("ascii", "replace")
    if magic not in ("P2", "P3", "P5", "P6"):
        raise UnknownMediaError(f"not a netpbm header: {magic!r}")
    toks, _ = _netpbm_tokens(payload, 0)
    return _result(
        codec="ppm" if magic in ("P3", "P6") else "pgm",
        width=toks[0],
        height=toks[1],
        channels=3 if magic in ("P3", "P6") else 1,
    )


def _netpbm_header(
    payload: bytes, start: int = 0
) -> tuple[str, int, int, int, int]:
    """Parse a binary netpbm (P5/P6) header at ``start``: returns
    (magic, width, height, maxval, absolute_raster_offset). Raw
    raster data starts exactly one whitespace byte after the maxval
    token. The offset form lets multi-frame walks avoid re-slicing
    the stream per frame (O(n²) copies on long streams)."""
    magic = payload[start : start + 2].decode("ascii", "replace")
    if magic not in ("P5", "P6"):
        raise UnknownMediaError(
            f"not a binary netpbm header: {magic!r} (P2/P3 are ASCII)"
        )
    toks, i = _netpbm_tokens(payload, start)
    if i >= len(payload):
        raise ValueError("truncated netpbm header")
    if payload[i] not in b" \t\r\n":
        raise ValueError("missing whitespace before netpbm raster")
    return magic, toks[0], toks[1], toks[2], i + 1


def resize_netpbm(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize for binary netpbm (P5 graymap /
    P6 pixmap): the raster is a raw uncompressed sample grid, so
    resizing is pure index arithmetic — a numpy fancy-index per axis,
    no codec library. 8- and 16-bit-per-sample maxvals both work (a
    16-bit sample is two raster bytes, moved as a unit). Output is a
    canonical single-`\\n` header + the resampled raster; feeding it
    back through :func:`parse_ppm` yields the target geometry, which
    is exactly how the tests close the loop."""
    import numpy as np  # noqa: PLC0415

    if width <= 0 or height <= 0:
        raise ValueError("target dimensions must be positive")
    magic, w0, h0, maxval, off = _netpbm_header(payload)
    if w0 <= 0 or h0 <= 0 or not 0 < maxval < 65536:
        raise ValueError("bad netpbm geometry/maxval")
    ch = 3 if magic == "P6" else 1
    bps = 1 if maxval < 256 else 2
    item = ch * bps
    need = w0 * h0 * item
    data = payload[off : off + need]
    if len(data) < need:
        raise ValueError("truncated netpbm raster")
    arr = np.frombuffer(data, dtype=np.uint8).reshape(h0, w0, item)
    # standard NN source mapping: src = (dst * src_dim) // dst_dim
    rows = (np.arange(height, dtype=np.int64) * h0) // height
    cols = (np.arange(width, dtype=np.int64) * w0) // width
    out = arr[rows][:, cols]
    header = b"%s\n%d %d\n%d\n" % (magic.encode(), width, height, maxval)
    return header + out.tobytes()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: IHDR color type → sample channels
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_png(payload: bytes) -> dict:
    """PNG signature + IHDR (always the first chunk): big-endian
    width/height at offset 16, bit depth + color type after."""
    if payload[:8] != _PNG_SIG:
        raise UnknownMediaError("not a PNG signature")
    if payload[12:16] != b"IHDR" or len(payload) < 26:
        raise ValueError("PNG without leading IHDR chunk")
    width, height = struct.unpack_from(">II", payload, 16)
    _depth, color_type = struct.unpack_from(">BB", payload, 24)
    return _result(
        codec="png",
        width=width,
        height=height,
        channels=_PNG_CHANNELS.get(color_type),
    )


def parse_wav(payload: bytes) -> dict:
    """RIFF/WAVE chunk walk: fmt → channels/rate/bits, data → size.
    Duration is integer milliseconds (floor — the engine-portable
    convention, see the round-loop parity rules)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise UnknownMediaError("not a RIFF/WAVE header")
    channels = rate = block_align = None
    data_size = None
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (size,) = struct.unpack_from("<I", payload, off + 4)
        body = off + 8
        if cid == b"fmt " and size >= 16:
            _fmt, channels, rate, _brate, block_align, _bits = (
                struct.unpack_from("<HHIIHH", payload, body)
            )
        elif cid == b"data":
            data_size = size
        off = body + size + (size & 1)  # chunks are word-aligned
    if channels is None or rate is None or data_size is None:
        raise ValueError("WAV missing fmt or data chunk")
    n_samples = data_size // block_align if block_align else 0
    return _result(
        codec="wav",
        channels=channels,
        sample_rate_hz=rate,
        n_samples=n_samples,
        duration_ms=(n_samples * 1000) // rate if rate else None,
    )


def split_netpbm_stream(
    payload: bytes, max_frames: int | None = None
) -> list[bytes]:
    """REAL frame extraction for concatenated binary netpbm (the
    multi-image stream the netpbm tools emit, and the one
    'video-like' format raw bytes can split without a codec): each
    P5/P6 frame is self-delimiting — header plus a computable
    ``w*h*channels*bytes-per-sample`` raster — so the walk slices
    exact frames one header-parse at a time. Strict by design: a
    truncated final raster or non-netpbm bytes at a frame boundary
    raise ``ValueError`` (unlike the MP3 walk there is no trailer
    convention to stop at); callers that want salvage catch and fall
    back. ``max_frames`` stops the walk early without reading the
    remainder."""
    frames: list[bytes] = []
    off = 0
    n = len(payload)
    while off < n and (max_frames is None or len(frames) < max_frames):
        magic, w, h, maxval, data_off = _netpbm_header(payload, off)
        if w <= 0 or h <= 0 or not 0 < maxval < 65536:
            raise ValueError("bad netpbm frame geometry/maxval")
        item = (3 if magic == "P6" else 1) * (1 if maxval < 256 else 2)
        end = data_off + w * h * item
        if end > n:
            raise ValueError("truncated netpbm frame raster")
        frames.append(payload[off:end])
        off = end
    if not frames:
        raise ValueError("empty netpbm stream")
    return frames


def _pcm_frames(payload: bytes):
    """Decode a PCM RIFF/WAVE payload to its raw frame grid: returns
    ``(arr, src_rate, bits)`` where ``arr`` is an (n_frames,
    channels) numpy view of the samples (int16 LE or uint8 — the
    widths PCM WAV actually uses). Shared by the resample and
    feature-extraction paths; non-PCM formats are refused, never
    guessed."""
    import numpy as np  # noqa: PLC0415

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise UnknownMediaError("not a RIFF/WAVE header")
    fmt_code = channels = src_rate = bits = None
    data = None
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (size,) = struct.unpack_from("<I", payload, off + 4)
        body = off + 8
        if cid == b"fmt " and size >= 16:
            fmt_code, channels, src_rate, _br, _ba, bits = (
                struct.unpack_from("<HHIIHH", payload, body)
            )
        elif cid == b"data":
            data = payload[body : body + size]
            if len(data) < size:
                raise ValueError("truncated WAV data chunk")
        off = body + size + (size & 1)
    if fmt_code is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if fmt_code != 1:
        raise UnknownMediaError(
            f"only PCM (fmt 1) is wired, got fmt {fmt_code}"
        )
    if bits == 16:
        dtype = np.dtype("<i2")
    elif bits == 8:
        dtype = np.dtype("u1")
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    if channels < 1 or src_rate < 1:
        raise ValueError("bad WAV channel count / sample rate")
    frame = channels * dtype.itemsize
    n = len(data) // frame
    arr = np.frombuffer(data[: n * frame], dtype=dtype).reshape(n, channels)
    return arr, src_rate, bits


def resample_wav(
    payload: bytes, rate: int, mono: bool = False
) -> bytes:
    """REAL resample (+ optional mono downmix) for PCM RIFF/WAVE:
    like :func:`resize_netpbm`, raw PCM is an uncompressed sample
    grid, so nearest-neighbor rate conversion is one numpy
    fancy-index and downmix is a channel mean — no audio library.
    This is the canonical corpus-normalization step (16 kHz mono)
    executed for real. 8-bit (unsigned) and 16-bit (signed LE)
    sample widths are wired — the widths PCM WAV actually uses.
    Output is a canonical 44-byte-header WAV; feeding it back
    through :func:`parse_wav` yields the target rate/channels, which
    is how the tests close the loop."""
    import numpy as np  # noqa: PLC0415

    if rate <= 0:
        raise ValueError("target rate must be positive")
    arr, src_rate, bits = _pcm_frames(payload)
    dtype = arr.dtype
    n, channels = arr.shape
    if mono and channels > 1:
        # mean in a wide accumulator, truncate back (8-bit is
        # unsigned so the plain mean is already in range)
        arr = (arr.astype(np.int32).sum(axis=1) // channels).astype(
            dtype
        ).reshape(n, 1)
        channels = 1
    n_out = n * rate // src_rate
    idx = (np.arange(n_out, dtype=np.int64) * src_rate) // rate
    out = arr[idx]
    body = out.tobytes()
    block = channels * dtype.itemsize
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                      rate * block, block, bits)
        + b"data" + struct.pack("<I", len(body))
    )
    return hdr + body


def pcm_window_features(
    payload: bytes, window_ms: int = 25
) -> list[dict]:
    """REAL windowed audio features over PCM WAV — the standard
    VAD/quality prefilter a speech corpus runs before transcription:
    per fixed window (default 25 ms), RMS energy, zero-crossing
    count, and peak amplitude, computed on the integer-mean mono
    downmix with plain numpy reductions (no audio library). 8-bit
    unsigned samples are centered at 128 first so silence is 0 for
    both widths. The final partial window is emitted (its ``n``
    says how many frames it covers) — tail silence/clipping is
    exactly what corpus filters look for. Returns a list of dicts
    ``{window_idx, n, rms, zero_crossings, peak}``; RMS is a float
    from an exact integer sum of squares, so it is deterministic
    across executors."""
    import numpy as np  # noqa: PLC0415

    if window_ms <= 0:
        raise ValueError("window_ms must be positive")
    arr, src_rate, bits = _pcm_frames(payload)
    n, channels = arr.shape
    if n == 0:
        return []
    x = arr.astype(np.int32)
    if channels > 1:
        x = x.sum(axis=1) // channels
    else:
        x = x[:, 0]
    if bits == 8:
        x = x - 128  # unsigned: center so silence is 0
    win = max(1, src_rate * window_ms // 1000)
    out: list[dict] = []
    for w0 in range(0, n, win):
        w = x[w0 : w0 + win]
        sumsq = int((w.astype(np.int64) ** 2).sum())
        signs = np.sign(w)
        nz = signs[signs != 0]
        crossings = int((nz[1:] != nz[:-1]).sum()) if nz.size > 1 else 0
        out.append(
            {
                "window_idx": w0 // win,
                "n": int(w.size),
                "rms": float((sumsq / w.size) ** 0.5),
                "zero_crossings": crossings,
                "peak": int(np.abs(w).max()),
            }
        )
    return out


def netpbm_channel_stats(payload: bytes) -> list[dict]:
    """REAL per-channel pixel statistics for binary netpbm — the
    brightness/contrast prefilter an image corpus runs before
    training (all-black scans, blown-out pages): per channel, mean
    (float from an exact integer sum), min, max over the raw sample
    grid. 16-bit maxvals decode big-endian per the netpbm spec.
    Returns ``[{channel, mean, min, max}, ...]``."""
    import numpy as np  # noqa: PLC0415

    magic, w, h, maxval, off = _netpbm_header(payload)
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        raise ValueError("bad netpbm geometry/maxval")
    ch = 3 if magic == "P6" else 1
    if maxval < 256:
        dtype = np.dtype("u1")
    else:
        dtype = np.dtype(">u2")  # netpbm raw 2-byte samples are BE
    need = w * h * ch * dtype.itemsize
    data = payload[off : off + need]
    if len(data) < need:
        raise ValueError("truncated netpbm raster")
    arr = np.frombuffer(data, dtype=dtype).reshape(-1, ch)
    sums = arr.astype(np.int64).sum(axis=0)
    return [
        {
            "channel": c,
            "mean": float(sums[c] / arr.shape[0]),
            "min": int(arr[:, c].min()),
            "max": int(arr[:, c].max()),
        }
        for c in range(ch)
    ]


def parse_bmp(payload: bytes) -> dict:
    """BMP: 'BM' magic + a DIB header whose layout the uint32 size at
    offset 14 selects. BITMAPINFOHEADER and later (size >= 40):
    little-endian int32 width/height at 18/22 (height < 0 means
    top-down row order — same pixel count, so abs), uint16 bit depth
    at 28. The OS/2 BITMAPCOREHEADER (size == 12) packs uint16
    width/height at 18/20 and bit depth at 24 — misreading it with
    the int32 layout yields garbage dimensions, so it gets its own
    branch; other ancient sizes raise."""
    if payload[:2] != b"BM":
        raise UnknownMediaError("not a BMP magic")
    if len(payload) < 26:
        raise ValueError("truncated BMP header")
    (dib_size,) = struct.unpack_from("<I", payload, 14)
    if dib_size == 12:  # OS/2 BITMAPCOREHEADER
        width, height, _planes, bits = struct.unpack_from("<HHHH", payload, 18)
        return _result(
            codec="bmp",
            width=width,
            height=height,
            channels=max(1, bits // 8),
        )
    if dib_size < 40:
        raise UnknownMediaError(f"unsupported BMP DIB header size {dib_size}")
    if len(payload) < 30:
        raise ValueError("truncated BMP header")
    width, height = struct.unpack_from("<ii", payload, 18)
    (bits,) = struct.unpack_from("<H", payload, 28)
    return _result(
        codec="bmp",
        width=width,
        height=abs(height),
        channels=max(1, bits // 8),
    )


#: SOF markers carrying frame geometry: C0-CF minus DHT (C4), the
#: reserved JPG extension (C8), and DAC (CC) — covers baseline (SOF0),
#: extended sequential (SOF1), progressive (SOF2), lossless, etc.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_jpeg(payload: bytes) -> dict:
    """JPEG frame header via the standard segment walk — no codec
    library needed for geometry: SOI (FFD8), then marker segments
    (2-byte BE length INCLUDING the length field) skipped until a
    SOF marker, whose body is precision(1) height(2 BE) width(2 BE)
    n_components(1). Standalone markers (TEM, RSTn) carry no length;
    0xFF fill bytes may pad any marker; SOS (FFDA) starts
    entropy-coded data, so a frame with no SOF before it is
    malformed."""
    if payload[:2] != b"\xff\xd8":
        raise UnknownMediaError("not a JPEG SOI marker")
    i, n = 2, len(payload)
    while i < n:
        if payload[i] != 0xFF:
            raise ValueError(f"JPEG marker expected at offset {i}")
        while i < n and payload[i] == 0xFF:  # fill bytes pad markers
            i += 1
        if i >= n:
            break
        marker = payload[i]
        i += 1
        if marker == 0xD9:  # EOI with no SOF seen
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            continue  # standalone markers: no length field
        if i + 2 > n:
            raise ValueError("truncated JPEG segment length")
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            raise ValueError("truncated JPEG segment")
        if marker in _JPEG_SOF:
            if seg_len < 8:
                raise ValueError("short JPEG SOF segment")
            _prec, height, width, ncomp = struct.unpack_from(
                ">BHHB", payload, i + 2
            )
            return _result(
                codec="jpeg", width=width, height=height, channels=ncomp
            )
        if marker == 0xDA:  # SOS — compressed scan follows, stop
            break
        i += seg_len
    raise ValueError("JPEG without SOF frame header")


def parse_gif(payload: bytes) -> dict:
    """GIF87a/GIF89a: uint16-LE logical-screen width/height at 6/8."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise UnknownMediaError("not a GIF magic")
    if len(payload) < 10:
        raise ValueError("truncated GIF header")
    width, height = struct.unpack_from("<HH", payload, 6)
    # palette-indexed; decoded pixels are RGB
    return _result(codec="gif", width=width, height=height, channels=3)


def gif_frame_census(payload: bytes) -> dict:
    """REAL animated-GIF structure walk WITHOUT LZW decompression —
    every GIF block is length-prefixed, so frame boundaries are pure
    offset arithmetic: logical screen descriptor (+ optional global
    color table, size from the packed flags), then a block stream of
    extensions (0x21: label byte + length-prefixed sub-blocks; the
    Netscape application extension carries the animation loop count,
    graphic-control extensions carry per-frame delays) and image
    descriptors (0x2C: 9-byte geometry + optional local color table +
    LZW-min-code byte + length-prefixed data sub-blocks), ending at
    the 0x3B trailer. Returns ``{n_frames, loop_count,
    total_duration_ms, width, height}`` — the census a media-curation
    pass needs (is it animated? how long?) at header-walk cost.
    ``loop_count`` is None for a plain still, 0 meaning
    loop-forever per the Netscape convention. A missing trailer on an
    otherwise well-formed stream is tolerated (truncated uploads are
    routine); a malformed block raises ``ValueError``."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise UnknownMediaError("not a GIF magic")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    width, height = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    off = 13
    if packed & 0x80:  # global color table: 3 * 2^(N+1) bytes
        off += 3 * (2 << (packed & 0x07))

    def skip_subblocks(o: int) -> int:
        while True:
            if o >= len(payload):
                raise ValueError("truncated GIF sub-block chain")
            n = payload[o]
            o += 1
            if n == 0:
                return o
            o += n

    n_frames = 0
    loop_count = None
    total_cs = 0  # graphic-control delays, in centiseconds
    while off < len(payload):
        b = payload[off]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            if off + 2 > len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[off + 1]
            body = off + 2
            if label == 0xF9 and body < len(payload) and payload[body] >= 4:
                # graphic control: block size, packed, delay u16le
                (delay,) = struct.unpack_from("<H", payload, body + 2)
                total_cs += delay
            if label == 0xFF and body < len(payload) and payload[body] == 11:
                app = payload[body + 1 : body + 12]
                if app in (b"NETSCAPE2.0", b"ANIMEXTS1.0"):
                    sub = body + 12
                    if sub + 4 <= len(payload) and payload[sub] == 3:
                        (loop_count,) = struct.unpack_from(
                            "<H", payload, sub + 2
                        )
            off = skip_subblocks(body)
        elif b == 0x2C:  # image descriptor
            if off + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            ipacked = payload[off + 9]
            off += 10
            if ipacked & 0x80:  # local color table
                off += 3 * (2 << (ipacked & 0x07))
            off += 1  # LZW minimum code size
            off = skip_subblocks(off)
            n_frames += 1
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if n_frames == 0:
        raise ValueError("GIF contains no image data")
    return {
        "n_frames": n_frames,
        "loop_count": loop_count,
        "total_duration_ms": total_cs * 10,
        "width": width,
        "height": height,
    }


def png_animation_census(payload: bytes) -> dict:
    """REAL APNG census from the PNG chunk walk (chunks are
    length-prefixed: u32-BE length + type + data + CRC): ``acTL``
    carries frame/play counts, each ``fcTL`` a delay fraction
    (num/den seconds, den 0 meaning 1/100s per the spec). A PNG
    without ``acTL`` is a still: one frame, no loop. Missing IEND is
    tolerated (truncated uploads); a chunk running past the payload
    raises. Returns the same shape as :func:`gif_frame_census`."""
    if payload[:8] != _PNG_SIG:
        raise UnknownMediaError("not a PNG signature")
    if payload[12:16] != b"IHDR" or len(payload) < 26:
        raise ValueError("PNG without leading IHDR chunk")
    width, height = struct.unpack_from(">II", payload, 16)
    n_frames = None
    num_plays = None
    total_ms = 0
    off = 8
    while off + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, off)
        ctype = payload[off + 4 : off + 8]
        body = off + 8
        if body + length + 4 > len(payload):
            if ctype == b"IEND":
                break
            raise ValueError("PNG chunk runs past payload end")
        if ctype == b"IEND":
            break
        if ctype == b"acTL" and length >= 8:
            n_frames, num_plays = struct.unpack_from(">II", payload, body)
        elif ctype == b"fcTL" and length >= 26:
            num, den = struct.unpack_from(">HH", payload, body + 20)
            total_ms += num * 1000 // (den if den else 100)
        off = body + length + 4  # skip data + CRC
    if n_frames is None:
        return {
            "n_frames": 1, "loop_count": None, "total_duration_ms": 0,
            "width": width, "height": height,
        }
    return {
        "n_frames": int(n_frames),
        # APNG num_plays 0 means loop forever — same as GIF's 0
        "loop_count": int(num_plays),
        "total_duration_ms": total_ms,
        "width": width,
        "height": height,
    }


def tiff_page_census(payload: bytes) -> dict:
    """REAL multi-page TIFF census: each IFD ends with the u32 offset
    of the next IFD (0 = last), so page count is a chain walk — the
    structure every scanned-document corpus needs censused before
    OCR. Geometry comes from the first page
    (:func:`parse_tiff`). A cycle or out-of-bounds link raises."""
    first = parse_tiff(payload)  # validates magic + first IFD
    bo = "<" if payload[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    seen: set[int] = set()
    pages = 0
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("TIFF IFD chain cycle")
        seen.add(ifd_off)
        if ifd_off + 2 > len(payload):
            raise ValueError("TIFF IFD offset past end of payload")
        (n_tags,) = struct.unpack_from(bo + "H", payload, ifd_off)
        next_at = ifd_off + 2 + 12 * n_tags
        if next_at + 4 > len(payload):
            raise ValueError("truncated TIFF IFD")
        pages += 1
        (ifd_off,) = struct.unpack_from(bo + "I", payload, next_at)
    return {
        "n_pages": pages,
        "width": first["width"],
        "height": first["height"],
        "channels": first["channels"],
    }


def parse_tiff(payload: bytes) -> dict:
    """TIFF header + first IFD walk: byte order from the II/MM magic,
    IFD offset at 4, then 12-byte tag entries scanned for ImageWidth
    (256), ImageLength (257), and SamplesPerPixel (277). SHORT(3) and
    LONG(4) values are inlined in the entry's value field — the only
    encodings baseline TIFF geometry uses."""
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise UnknownMediaError("not a TIFF magic")
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF IFD offset past end of payload")
    (n_tags,) = struct.unpack_from(bo + "H", payload, ifd_off)
    width = height = None
    channels = 1  # TIFF default when SamplesPerPixel is absent
    for i in range(n_tags):
        ent = ifd_off + 2 + 12 * i
        if ent + 12 > len(payload):
            raise ValueError("truncated TIFF IFD entry")
        tag, typ, _count = struct.unpack_from(bo + "HHI", payload, ent)
        if tag not in (256, 257, 277):
            continue
        if typ == 3:  # SHORT, left-justified in the 4-byte value slot
            (val,) = struct.unpack_from(bo + "H", payload, ent + 8)
        elif typ == 4:  # LONG
            (val,) = struct.unpack_from(bo + "I", payload, ent + 8)
        else:
            continue
        if tag == 256:
            width = val
        elif tag == 257:
            height = val
        else:
            channels = val
    if width is None or height is None:
        raise ValueError("TIFF IFD missing ImageWidth/ImageLength")
    return _result(
        codec="tiff", width=width, height=height, channels=channels
    )


def parse_webp(payload: bytes) -> dict:
    """WebP (RIFF container, format tag WEBP): geometry from the first
    chunk — VP8X (canvas-1 as 24-bit LE), VP8L (14-bit fields packed
    after the 0x2F signature byte), or lossy VP8 (16-bit LE dims, low
    14 bits, after the 3-byte frame tag + 3-byte start code)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise UnknownMediaError("not a RIFF/WEBP header")
    if len(payload) < 30:
        raise ValueError("truncated WebP payload")
    fourcc = payload[12:16]
    body = 20  # RIFF(4) size(4) WEBP(4) fourcc(4) chunk-size(4)
    if fourcc == b"VP8X":
        w = int.from_bytes(payload[body + 4 : body + 7], "little") + 1
        h = int.from_bytes(payload[body + 7 : body + 10], "little") + 1
        has_alpha = bool(payload[body] & 0x10)
        return _result(
            codec="webp", width=w, height=h, channels=4 if has_alpha else 3
        )
    if fourcc == b"VP8L":
        if payload[body] != 0x2F:
            raise ValueError("bad VP8L signature byte")
        bits = int.from_bytes(payload[body + 1 : body + 5], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        has_alpha = bool((bits >> 28) & 1)
        return _result(
            codec="webp", width=w, height=h, channels=4 if has_alpha else 3
        )
    if fourcc == b"VP8 ":
        # key frame: 3-byte frame tag, then 9D 01 2A, then dims
        if payload[body + 3 : body + 6] != b"\x9d\x01\x2a":
            raise ValueError("VP8 start code missing (not a key frame?)")
        w = int.from_bytes(payload[body + 6 : body + 8], "little") & 0x3FFF
        h = int.from_bytes(payload[body + 8 : body + 10], "little") & 0x3FFF
        return _result(codec="webp", width=w, height=h, channels=3)
    raise UnknownMediaError(f"unknown WebP chunk {fourcc!r}")


#: Layer III bitrate tables (kbps) by version, indexed by the 4-bit
#: bitrate field. Index 0 is "free format" — frame length is then only
#: discoverable by scanning for the next sync, which a header-level
#: parser honestly refuses; index 15 is forbidden by the spec.
_MP3_BITRATES = {
    3: (None, 32, 40, 48, 56, 64, 80, 96, 112, 128,
        160, 192, 224, 256, 320, None),  # MPEG-1
    2: (None, 8, 16, 24, 32, 40, 48, 56, 64, 80,
        96, 112, 128, 144, 160, None),   # MPEG-2
    0: (None, 8, 16, 24, 32, 40, 48, 56, 64, 80,
        96, 112, 128, 144, 160, None),   # MPEG-2.5
}
#: sample-rate tables (Hz) by version id, indexed by the 2-bit field
_MP3_RATES = {
    3: (44100, 48000, 32000),  # MPEG-1
    2: (22050, 24000, 16000),  # MPEG-2
    0: (11025, 12000, 8000),   # MPEG-2.5
}


def _mp3_skip_id3v2(payload: bytes) -> int:
    """Return the offset of the first audio byte past an ID3v2 tag
    ('ID3' + version(2) + flags(1) + syncsafe size(4); footer flag
    0x10 appends 10 more bytes). Syncsafe bytes must have bit 7
    clear."""
    if len(payload) < 10:
        raise ValueError("truncated ID3v2 header")
    sz = payload[6:10]
    if any(b & 0x80 for b in sz):
        raise ValueError("ID3v2 size bytes are not syncsafe")
    size = (sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3]
    return 10 + size + (10 if payload[5] & 0x10 else 0)


def parse_mp3(payload: bytes) -> dict:
    """MPEG audio (MP3) via the standard frame-header walk — no codec
    library needed for stream facts: skip an optional leading ID3v2
    tag, then iterate 4-byte frame headers (11-bit sync ``FFE``),
    decoding version (MPEG-1/2/2.5) / layer / bitrate index /
    sample-rate index / padding / channel mode, and stepping
    ``floor(spf/8 * bitrate / rate) + padding`` bytes to the next
    frame (spf = 1152 samples for MPEG-1 Layer III, 576 for
    MPEG-2/2.5). Bitrate may vary frame-to-frame (VBR); version,
    sample rate, and channel mode must not. The walk stops cleanly at
    an ID3v1 ``TAG`` trailer or a truncated final frame — real
    corpora end mid-frame constantly, and losing the tail frame is
    the honest answer at header level. Only Layer III is wired
    (Layer I/II raise :class:`UnknownMediaError` — different bitrate
    tables, vanishing formats)."""
    off = _mp3_skip_id3v2(payload) if payload[:3] == b"ID3" else 0
    n = len(payload)
    frames = 0
    n_samples = 0
    rate = channels = version = None
    while off + 4 <= n:
        b0, b1, b2, b3 = payload[off : off + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            if frames:
                break  # ID3v1 'TAG' trailer or trailing junk
            raise UnknownMediaError("no MPEG audio frame sync")
        ver = (b1 >> 3) & 3
        layer = (b1 >> 1) & 3
        if ver == 1:
            raise ValueError("reserved MPEG version id")
        if layer != 1:  # 1 = Layer III; 2/3 = Layer II/I; 0 reserved
            raise UnknownMediaError(
                "only MPEG Layer III is wired (mp1/mp2 need their own "
                "bitrate tables)"
            )
        br_i = b2 >> 4
        sr_i = (b2 >> 2) & 3
        if br_i == 0:
            raise ValueError(
                "free-format bitrate needs next-sync scanning"
            )
        if br_i == 15 or sr_i == 3:
            raise ValueError("forbidden bitrate/sample-rate index")
        f_rate = _MP3_RATES[ver][sr_i]
        f_channels = 1 if (b3 >> 6) == 3 else 2
        if frames == 0:
            version, rate, channels = ver, f_rate, f_channels
        elif (ver, f_rate, f_channels) != (version, rate, channels):
            raise ValueError(
                "inconsistent version/rate/channels mid-stream"
            )
        spf = 1152 if ver == 3 else 576
        frame_len = (spf // 8) * _MP3_BITRATES[ver][br_i] * 1000 // f_rate
        frame_len += (b2 >> 1) & 1  # padding slot
        if off + frame_len > n:
            break  # truncated final frame: count complete frames only
        frames += 1
        n_samples += spf
        off += frame_len
    if frames == 0:
        raise ValueError("no complete MPEG audio frame in payload")
    return _result(
        codec="mp3",
        channels=channels,
        sample_rate_hz=rate,
        n_samples=n_samples,
        duration_ms=(n_samples * 1000) // rate,
    )


#: EXIF IFD0 tags worth surfacing: tag → (name, type class)
_EXIF_TAGS = {
    270: "description",   # ImageDescription, ASCII
    271: "make",          # Make, ASCII
    272: "model",         # Model, ASCII
    274: "orientation",   # Orientation, SHORT 1-8
    306: "datetime",      # DateTime, ASCII "YYYY:MM:DD HH:MM:SS"
}


def jpeg_exif(payload: bytes) -> dict:
    """REAL EXIF metadata from a JPEG — the APP1 segment is a TIFF
    file ('Exif\\0\\0' + byte-order header + IFD0), so the same IFD
    tag walk that censuses TIFFs reads orientation / camera make +
    model / timestamps here. Orientation (tag 274, values 1-8) is the
    one every image pipeline must honor before training — a rotated
    corpus is a silent augmentation bug. Returns a dict of the
    :data:`_EXIF_TAGS` found (possibly empty — most synthetic or
    stripped JPEGs carry no APP1); non-JPEG payloads raise."""
    if payload[:2] != b"\xff\xd8":
        raise UnknownMediaError("not a JPEG SOI marker")
    i, n = 2, len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            break
        marker = payload[i + 1]
        if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seg_len,) = struct.unpack_from(">H", payload, i + 2)
        if seg_len < 2 or i + 2 + seg_len > n:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDA:  # start of scan: no APP1 will follow
            break
        if marker == 0xE1 and payload[i + 4 : i + 10] == b"Exif\x00\x00":
            return _exif_ifd0(payload[i + 10 : i + 2 + seg_len])
        i += 2 + seg_len
    return {}


def _exif_ifd0(tiff: bytes) -> dict:
    """Walk IFD0 of the embedded TIFF for the tags in
    :data:`_EXIF_TAGS`. SHORT values inline; ASCII values inline when
    count <= 4 else at the u32 offset (offsets are relative to the
    TIFF header, as the spec demands)."""
    if tiff[:4] == b"II*\x00":
        bo = "<"
    elif tiff[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("bad EXIF TIFF header")
    (ifd_off,) = struct.unpack_from(bo + "I", tiff, 4)
    if ifd_off + 2 > len(tiff):
        raise ValueError("EXIF IFD offset past end")
    (n_tags,) = struct.unpack_from(bo + "H", tiff, ifd_off)
    out: dict = {}
    for t in range(n_tags):
        ent = ifd_off + 2 + 12 * t
        if ent + 12 > len(tiff):
            raise ValueError("truncated EXIF IFD entry")
        tag, typ, count = struct.unpack_from(bo + "HHI", tiff, ent)
        name = _EXIF_TAGS.get(tag)
        if name is None:
            continue
        if typ == 3 and count == 1:  # SHORT
            (val,) = struct.unpack_from(bo + "H", tiff, ent + 8)
            out[name] = int(val)
        elif typ == 2:  # ASCII, NUL-terminated
            if count <= 4:
                raw = tiff[ent + 8 : ent + 8 + count]
            else:
                (off,) = struct.unpack_from(bo + "I", tiff, ent + 8)
                if off + count > len(tiff):
                    raise ValueError("EXIF ASCII value past end")
                raw = tiff[off : off + count]
            out[name] = raw.rstrip(b"\x00").decode("ascii", "replace")
    return out


#: ID3v2 text frames worth surfacing for dedup/curation keys
_ID3_TEXT_FRAMES = {
    b"TIT2": "title",
    b"TPE1": "artist",
    b"TALB": "album",
    b"TDRC": "date",     # v2.4 recording time
    b"TYER": "date",     # v2.3 year
    b"TCON": "genre",
    b"TRCK": "track",
}


def id3v2_tags(payload: bytes) -> dict:
    """REAL ID3v2.3/2.4 text-frame extraction from an MP3 payload —
    (title, artist, album) are the metadata dedup keys an audio
    corpus groups on before any acoustic matching. Frame sizes are
    syncsafe in v2.4, plain big-endian in v2.3 (misreading one as
    the other walks into garbage — version-dispatched here); text
    encodings 0/1/2/3 (latin-1, UTF-16 BOM, UTF-16BE, UTF-8) all
    decoded. Returns the frames found from
    :data:`_ID3_TEXT_FRAMES` (empty for tagless audio); payloads
    without an ID3v2 header raise, and ID3v2.2 (3-byte frame layout)
    is refused with :class:`UnknownMediaError` rather than misread."""
    if payload[:3] != b"ID3":
        raise UnknownMediaError("no ID3v2 header")
    if len(payload) < 10:
        raise ValueError("truncated ID3v2 header")
    version = payload[3]
    if version < 3:
        # v2.2 frames use 3-byte IDs + 3-byte sizes; walking them with
        # the 4-byte v2.3/2.4 layout reads garbage and silently returns
        # wrong/empty metadata. Honest refusal, like Layer I/II MP3 and
        # non-PCM WAV — never a fabricated answer.
        raise UnknownMediaError(f"ID3v2.{version} unsupported (need >=2.3)")
    sz = payload[6:10]
    if any(b & 0x80 for b in sz):
        raise ValueError("ID3v2 size bytes are not syncsafe")
    tag_end = 10 + ((sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3])
    tag_end = min(tag_end, len(payload))
    out: dict = {}
    off = 10
    while off + 10 <= tag_end:
        fid = payload[off : off + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        raw_sz = payload[off + 4 : off + 8]
        if version >= 4:
            if any(b & 0x80 for b in raw_sz):
                raise ValueError("non-syncsafe v2.4 frame size")
            fsz = ((raw_sz[0] << 21) | (raw_sz[1] << 14)
                   | (raw_sz[2] << 7) | raw_sz[3])
        else:
            (fsz,) = struct.unpack(">I", raw_sz)
        body = off + 10
        if body + fsz > tag_end:
            raise ValueError("ID3v2 frame runs past tag end")
        name = _ID3_TEXT_FRAMES.get(fid)
        if name is not None and fsz >= 1:
            enc = payload[body]
            raw = payload[body + 1 : body + fsz]
            codec = {0: "latin-1", 1: "utf-16", 2: "utf-16-be",
                     3: "utf-8"}.get(enc)
            if codec is not None:
                out.setdefault(
                    name,
                    raw.decode(codec, "replace").rstrip("\x00"),
                )
        off = body + fsz
    return out


def parse_flac(payload: bytes) -> dict:
    """REAL FLAC header decode: magic + metadata-block walk to
    STREAMINFO (the mandatory first block), unpacking the 64-bit
    packed field — sample rate (20 bits), channels-1 (3), bits per
    sample-1 (5), total samples (36). Sample DECODE is deliberately
    not attempted (FLAC frames need a codec library); the stream
    facts a corpus census needs live entirely in STREAMINFO. Non-FLAC
    magics raise UnknownMediaError; truncated/corrupt blocks raise
    ValueError — the module poison-pill contract."""
    if payload is None or len(payload) < 8 or payload[:4] != b"fLaC":
        raise UnknownMediaError("not a FLAC payload")
    off = 4
    info = None
    last = False
    while not last:
        if off + 4 > len(payload):
            raise ValueError("FLAC metadata header runs past payload")
        hdr = payload[off]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        if btype == 127:
            raise ValueError("FLAC metadata block type 127 is invalid")
        length = int.from_bytes(payload[off + 1:off + 4], "big")
        body = off + 4
        if body + length > len(payload):
            raise ValueError("FLAC metadata block runs past payload")
        if btype == 0:
            if length < 34:
                raise ValueError("FLAC STREAMINFO shorter than 34 bytes")
            packed = int.from_bytes(payload[body + 10:body + 18], "big")
            sr = packed >> 44
            if sr == 0:
                raise ValueError("FLAC sample rate is zero")
            info = (
                sr,
                ((packed >> 41) & 0x7) + 1,
                ((packed >> 36) & 0x1F) + 1,
                packed & ((1 << 36) - 1),
            )
        off = body + length
    if info is None:
        raise ValueError("FLAC without a STREAMINFO block")
    sr, channels, _bps, total = info
    return _result(
        codec="flac",
        channels=channels,
        sample_rate_hz=sr,
        n_samples=total,
        duration_ms=(total * 1000) // sr,
    )


def decode(payload: bytes) -> dict:
    """Sniff the payload magic and decode its header for real.

    Dispatch: RIFF by its format tag (WebP or WAV), then the image and
    audio magics of the stdlib parsers below. Raises
    :class:`UnknownMediaError` (a ``NotImplementedError``) for magics
    no wired decoder covers.
    """
    if payload is None or len(payload) < 2:
        raise ValueError("empty payload")
    if payload[:4] == b"RIFF":
        # RIFF is a container: dispatch on the format tag at 8-12
        if payload[8:12] == b"WEBP":
            return parse_webp(payload)
        return parse_wav(payload)
    if payload[:8] == _PNG_SIG:
        return parse_png(payload)
    if payload[:2] == b"\xff\xd8":
        return parse_jpeg(payload)
    if payload[:2] == b"BM":
        return parse_bmp(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return parse_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return parse_tiff(payload)
    if payload[:1] == b"P" and payload[1:2].isdigit():
        return parse_ppm(payload)
    if payload[:4] == b"fLaC":
        return parse_flac(payload)
    if payload[:3] == b"ID3" or (
        payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        # MPEG audio frame sync (JPEG's FFD8 was already dispatched)
        return parse_mp3(payload)
    raise UnknownMediaError(
        f"no decoder wired for magic {payload[:8]!r}; stdlib covers "
        "netpbm/PNG/JPEG/BMP/GIF/TIFF/WebP/WAV/MP3/FLAC headers"
    )


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl",
                   b"udta", b"edts"}


def _mp4_boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for ISO-BMFF boxes in
    payload[start:end]. Size 1 → 64-bit largesize follows the type;
    size 0 → box extends to the end of the enclosing space; any other
    size < 8 is corrupt. A box running past its enclosing space
    raises — truncated uploads fail loudly, never walk garbage."""
    off = start
    while off + 8 <= end:
        (size,) = struct.unpack_from(">I", payload, off)
        btype = payload[off + 4 : off + 8]
        body = off + 8
        if size == 1:
            if body + 8 > end:
                raise ValueError("mp4 largesize runs past payload")
            (size,) = struct.unpack_from(">Q", payload, body)
            body += 8
            if size < 16:
                raise ValueError("mp4 largesize smaller than header")
            box_end = off + size
        elif size == 0:
            box_end = end
        elif size < 8:
            raise ValueError(f"mp4 box size {size} smaller than header")
        else:
            box_end = off + size
        if box_end > end:
            raise ValueError("mp4 box runs past enclosing box")
        yield btype, body, box_end
        off = box_end
    if off != end and end - off > 0:
        # trailing bytes too small to hold a box header
        raise ValueError("mp4 trailing garbage shorter than a box header")


def _mp4_trak(payload: bytes, start: int, end: int) -> dict:
    """One trak subtree: handler fourcc (hdlr, inside mdia) and the
    tkhd 16.16 fixed-point display dimensions."""
    out = {"handler": None, "width": None, "height": None}

    def walk(s: int, e: int) -> None:
        for btype, body, bend in _mp4_boxes(payload, s, e):
            if btype == b"tkhd":
                if payload[body] == 1:  # version 1: 64-bit times
                    w_off = body + 4 + 8 + 8 + 4 + 4 + 8 + 8 + 8 + 36
                else:
                    w_off = body + 4 + 4 + 4 + 4 + 4 + 4 + 8 + 8 + 36
                if w_off + 8 > bend:
                    raise ValueError("tkhd too short for dimensions")
                w, h = struct.unpack_from(">II", payload, w_off)
                out["width"], out["height"] = w >> 16, h >> 16
            elif btype == b"hdlr":
                if body + 12 > bend:
                    raise ValueError("hdlr too short for handler type")
                out["handler"] = payload[body + 8 : body + 12].decode(
                    "latin-1"
                )
            elif btype in _MP4_CONTAINERS:
                walk(body, bend)

    walk(start, end)
    return out


def mp4_box_census(payload: bytes) -> dict:
    """REAL ISO-BMFF (MP4/MOV) container census from the box walk —
    the metadata pass a video corpus runs BEFORE deciding what to
    hand the (heavyweight, GPU-bound) frame decoder: brand, movie
    duration from mvhd (duration/timescale), track inventory split
    by hdlr handler (vide/soun), the first video track's tkhd
    display dimensions, and total mdat payload bytes. Sample DECODE
    is deliberately not attempted — compressed video needs av/ffmpeg
    (UnknownMediaError elsewhere); the container structure itself is
    plain length-prefixed boxes the stdlib walks exactly. Non-BMFF
    payloads raise UnknownMediaError (the ftyp probe is the magic);
    truncated/corrupt boxes raise ValueError/struct.error — the
    poison-pill contract every census in this module keeps."""
    if payload is None or len(payload) < 16 or payload[4:8] != b"ftyp":
        raise UnknownMediaError("not an ISO-BMFF payload (no ftyp)")
    major_brand = payload[8:12].decode("latin-1")
    duration_ms = None
    tracks: list[dict] = []
    mdat_bytes = 0
    for btype, body, bend in _mp4_boxes(payload, 0, len(payload)):
        if btype == b"mdat":
            mdat_bytes += bend - body
        elif btype == b"moov":
            for itype, ibody, ibend in _mp4_boxes(payload, body, bend):
                if itype == b"mvhd":
                    if payload[ibody] == 1:
                        if ibody + 4 + 16 + 12 > ibend:
                            raise ValueError("mvhd v1 too short")
                        (ts,) = struct.unpack_from(
                            ">I", payload, ibody + 4 + 16
                        )
                        (dur,) = struct.unpack_from(
                            ">Q", payload, ibody + 4 + 20
                        )
                    else:
                        if ibody + 4 + 8 + 8 > ibend:
                            raise ValueError("mvhd v0 too short")
                        ts, dur = struct.unpack_from(
                            ">II", payload, ibody + 12
                        )
                    if ts == 0:
                        raise ValueError("mvhd timescale is zero")
                    duration_ms = dur * 1000 // ts
                elif itype == b"trak":
                    tracks.append(_mp4_trak(payload, ibody, ibend))
    if duration_ms is None:
        raise ValueError("ISO-BMFF payload without a moov/mvhd box")
    vids = [t for t in tracks if t["handler"] == "vide"]
    first_vid = vids[0] if vids else {"width": None, "height": None}
    return {
        "major_brand": major_brand,
        "n_tracks": len(tracks),
        "n_video_tracks": len(vids),
        "n_audio_tracks": sum(
            1 for t in tracks if t["handler"] == "soun"
        ),
        "duration_ms": int(duration_ms),
        "width": first_vid["width"],
        "height": first_vid["height"],
        "mdat_bytes": mdat_bytes,
    }


# --------------------------------------------------------------- Matroska
_EBML_HEADER = 0x1A45DFA3
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TRACKS = 0x1654AE6B
_MKV_DOCTYPE = 0x4282
_MKV_TS_SCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACK_ENTRY = 0xAE
_MKV_TRACK_TYPE = 0x83
_MKV_VIDEO = 0xE0
_MKV_PIXEL_W = 0xB0
_MKV_PIXEL_H = 0xBA
_MKV_VOID = 0xEC


def _ebml_vint(payload: bytes, off: int, end: int, keep_marker: bool):
    """Decode one EBML variable-length integer at ``off``.

    The count of leading zero bits in the first byte gives the width
    (1-8 bytes); element IDs keep the marker bit (that is how the
    spec writes them), sizes strip it. An all-ones size means
    "unknown size" (streamed Matroska) — unsupported here, the caller
    raises. Truncation raises ValueError: poison-pill contract."""
    if off >= end:
        raise ValueError("EBML vint at end of payload")
    b0 = payload[off]
    if b0 == 0:
        raise ValueError("EBML vint with >8-byte width")
    length = 1
    mask = 0x80
    while not (b0 & mask):
        mask >>= 1
        length += 1
    if off + length > end:
        raise ValueError("EBML vint runs past payload")
    val = b0 if keep_marker else (b0 & (mask - 1))
    unknown = (b0 & (mask - 1)) == mask - 1
    for i in range(1, length):
        b = payload[off + i]
        val = (val << 8) | b
        unknown = unknown and b == 0xFF
    return val, length, (unknown and not keep_marker)


def _ebml_children(payload: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) for the EBML elements
    in payload[start:end]. Skipping unknown elements by their declared
    size is the EBML forward-compatibility contract."""
    off = start
    while off < end:
        eid, idlen, _ = _ebml_vint(payload, off, end, keep_marker=True)
        off += idlen
        size, szlen, unknown = _ebml_vint(
            payload, off, end, keep_marker=False
        )
        if unknown:
            raise ValueError("EBML unknown-size element unsupported")
        off += szlen
        if off + size > end:
            raise ValueError("EBML element runs past enclosing space")
        yield eid, off, off + size
        off += size


def _ebml_uint(payload: bytes, start: int, end: int) -> int:
    if end - start > 8 or end == start:
        raise ValueError("EBML uint width out of range")
    return int.from_bytes(payload[start:end], "big")


def _ebml_float(payload: bytes, start: int, end: int) -> float:
    width = end - start
    if width == 4:
        return struct.unpack_from(">f", payload, start)[0]
    if width == 8:
        return struct.unpack_from(">d", payload, start)[0]
    raise ValueError(f"EBML float of width {width}")


def mkv_census(payload: bytes) -> dict:
    """REAL Matroska/WebM (EBML) container census — the sibling of
    :func:`mp4_box_census` for the other mainstream video container:
    DocType, track inventory split by TrackType (1=video, 2=audio),
    first video track's pixel dimensions, movie duration from
    Info.Duration x Info.TimestampScale, and total Void padding
    bytes. EBML is length-prefixed varint soup the stdlib walks
    exactly; sample decode is deliberately not attempted (compressed
    frames need av/ffmpeg). Non-EBML payloads raise UnknownMediaError
    (magic probe); truncated/corrupt elements raise ValueError or
    struct.error — the module-wide poison-pill contract."""
    if payload is None or len(payload) < 5 or payload[:4] != bytes.fromhex(
        "1A45DFA3"
    ):
        raise UnknownMediaError("not an EBML payload")
    doc_type = None
    ts_scale = 1_000_000  # EBML default: 1 ms
    duration = None
    tracks: list[dict] = []
    void_bytes = 0
    for eid, body, bend in _ebml_children(payload, 0, len(payload)):
        if eid == _EBML_HEADER:
            for cid, cb, ce in _ebml_children(payload, body, bend):
                if cid == _MKV_DOCTYPE:
                    doc_type = payload[cb:ce].decode("latin-1")
        elif eid == _MKV_SEGMENT:
            for cid, cb, ce in _ebml_children(payload, body, bend):
                if cid == _MKV_INFO:
                    for iid, ib, ie in _ebml_children(payload, cb, ce):
                        if iid == _MKV_TS_SCALE:
                            ts_scale = _ebml_uint(payload, ib, ie)
                        elif iid == _MKV_DURATION:
                            duration = _ebml_float(payload, ib, ie)
                elif cid == _MKV_TRACKS:
                    for tid, tb, te in _ebml_children(payload, cb, ce):
                        if tid != _MKV_TRACK_ENTRY:
                            continue
                        t = {"type": None, "width": None, "height": None}
                        for aid, ab, ae in _ebml_children(
                            payload, tb, te
                        ):
                            if aid == _MKV_TRACK_TYPE:
                                t["type"] = _ebml_uint(payload, ab, ae)
                            elif aid == _MKV_VIDEO:
                                for vid, vb, ve in _ebml_children(
                                    payload, ab, ae
                                ):
                                    if vid == _MKV_PIXEL_W:
                                        t["width"] = _ebml_uint(
                                            payload, vb, ve
                                        )
                                    elif vid == _MKV_PIXEL_H:
                                        t["height"] = _ebml_uint(
                                            payload, vb, ve
                                        )
                        tracks.append(t)
                elif cid == _MKV_VOID:
                    void_bytes += ce - cb
    if doc_type is None:
        raise ValueError("EBML payload without a DocType")
    if duration is None:
        raise ValueError("Matroska segment without Info.Duration")
    if ts_scale == 0:
        raise ValueError("Matroska TimestampScale is zero")
    vids = [t for t in tracks if t["type"] == 1]
    first = vids[0] if vids else {"width": None, "height": None}
    # duration is in TimestampScale (ns) units; both factors are
    # integral by construction in real muxers, so the int() is exact
    return {
        "doc_type": doc_type,
        "n_tracks": len(tracks),
        "n_video_tracks": len(vids),
        "n_audio_tracks": sum(1 for t in tracks if t["type"] == 2),
        "duration_ms": int(duration * ts_scale) // 1_000_000,
        "width": first["width"],
        "height": first["height"],
        "void_bytes": void_bytes,
    }


def dhash64(payload: bytes) -> int:
    """64-bit perceptual difference hash (dHash — the
    gradient-direction perceptual hash popularized by Krawetz's
    "Kind of Like That", 2013) of a binary netpbm image: NN-resize to
    9x8 through :func:`resize_netpbm` (real index arithmetic on the
    raster), integer ITU-R BT.601 luminance per pixel
    ((299 r + 587 g + 114 b) // 1000 — exact, no float), then bit
    (y*8 + x) is set iff luminance(x+1, y) > luminance(x, y). Images
    that differ by uniform brightness shifts, codec-free re-saves, or
    resolution changes keep (nearly) the same hash — equality/low
    Hamming distance is the standard image near-dup signal, fed to
    the same banded multi-index join the text SimHash uses."""
    import numpy as np  # noqa: PLC0415

    small = resize_netpbm(payload, 9, 8)
    magic, w, h, maxval, off = _netpbm_header(small)
    ch = 3 if magic == "P6" else 1
    bps = 1 if maxval < 256 else 2
    arr = np.frombuffer(
        small[off : off + 9 * 8 * ch * bps], dtype=np.uint8
    ).reshape(8, 9, ch * bps)
    if bps == 2:  # big-endian 16-bit samples: use the high byte per
        arr = arr[:, :, 0::2]  # channel — monotone in the true value
    if ch == 3:
        lum = (
            299 * arr[:, :, 0].astype(np.int64)
            + 587 * arr[:, :, 1].astype(np.int64)
            + 114 * arr[:, :, 2].astype(np.int64)
        ) // 1000
    else:
        lum = arr[:, :, 0].astype(np.int64)
    bits = (lum[:, 1:] > lum[:, :-1]).astype(np.int64)  # 8 rows x 8
    out = 0
    for y in range(8):
        for x in range(8):
            if bits[y, x]:
                out |= 1 << (y * 8 + x)
    return out
