"""Library-free BMP and WAV codecs (pure struct/NumPy).

The container ships no imaging/audio library, but both formats are
plain byte layouts — BMP's BITMAPFILEHEADER/BITMAPINFOHEADER and WAV's
RIFF chunks parse with ``struct`` alone, the same way ``io/idat.py``
decodes Illumina IDAT v3. This upgrades the multimodal decode path
from a simulated byte stream to real pixels/samples for the formats
that need no codec, while PIL/ffmpeg-dependent formats (JPEG, MP3, …)
keep their guarded plug-in points.

Encoders are included so tests can synthesize fixtures and assert a
bit-exact round trip.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------------------
# BMP — uncompressed 24-bit BITMAPINFOHEADER (the interchange baseline)
# ---------------------------------------------------------------------------

def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed BMP from top-down row-major RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb must be width*height*3 bytes")
    stride = (width * 3 + 3) // 4 * 4
    pixel_bytes = stride * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + pixel_bytes, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    # bottom-up storage, BGR on disk, rows padded to 4-byte stride —
    # vectorized (the per-pixel Python loop dominated fixture synthesis
    # once video clips meant 64 frames per doc)
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    bgr = arr[::-1, :, ::-1]
    if stride > width * 3:
        padded = np.zeros((height, stride), dtype=np.uint8)
        padded[:, : width * 3] = bgr.reshape(height, width * 3)
        return header + padded.tobytes()
    return header + bgr.tobytes()


def decode_bmp(raw: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed 24/32-bit BMP → (width, height, RGB bytes,
    top-down row-major). Raises ValueError on non-BMP or unsupported
    (compressed / palettized) variants."""
    if len(raw) < 54 or raw[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_offset,) = struct.unpack_from("<I", raw, 10)
    header_size, width, height = struct.unpack_from("<Iii", raw, 14)
    if header_size < 40:
        raise ValueError("BITMAPCOREHEADER not supported")
    planes, bpp, compression = struct.unpack_from("<HHI", raw, 26)
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    n_ch = bpp // 8
    stride = (width * n_ch + 3) // 4 * 4
    if len(raw) < pixel_offset + stride * height:
        raise ValueError("truncated BMP pixel array")
    data = np.frombuffer(raw, dtype=np.uint8, count=stride * height, offset=pixel_offset)
    rows = data.reshape(height, stride)[:, : width * n_ch].reshape(height, width, n_ch)
    if not top_down:
        rows = rows[::-1]
    rgb = rows[:, :, [2, 1, 0]]  # BGR(A) -> RGB, alpha dropped
    return width, height, rgb.tobytes()


# ---------------------------------------------------------------------------
# WAV — RIFF/WAVE with PCM 8/16-bit fmt + data chunks
# ---------------------------------------------------------------------------

def encode_wav(sample_rate: int, samples: "np.ndarray", bits: int = 16) -> bytes:
    """Mono PCM WAV from float samples in [-1, 1]."""
    x = np.asarray(samples, dtype=float).clip(-1.0, 1.0)
    if bits == 16:
        pcm = (x * 32767.0).round().astype("<i2").tobytes()
        block_align, fmt_bits = 2, 16
    elif bits == 8:
        pcm = ((x * 127.0).round() + 128).clip(0, 255).astype(np.uint8).tobytes()
        block_align, fmt_bits = 1, 8
    else:
        raise ValueError("bits must be 8 or 16")
    fmt = struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * block_align, block_align, fmt_bits
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(raw: bytes) -> tuple[int, "np.ndarray"]:
    """Parse a PCM WAV → (sample_rate, mono float samples in [-1, 1]).
    Walks RIFF chunks (tolerates extras like LIST/fact); multi-channel
    audio is downmixed by averaging. Raises ValueError on non-WAV or
    non-PCM payloads."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid, size = struct.unpack_from("<4sI", raw, pos)
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                # declared size overran the buffer — a truncated upload
                # must surface as the ValueError the decode fallbacks
                # catch, not a struct.error that kills the task
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1:
        raise ValueError(f"non-PCM WAV (format={audio_format}) needs a codec lib")
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM width: {bits}")
    if channels > 1:
        x = x[: len(x) // channels * channels].reshape(-1, channels).mean(axis=1)
    return sample_rate, x


# ---------------------------------------------------------------------------
# AVI — minimal RIFF 'AVI ' container (avih header + movi frame chunks)
# ---------------------------------------------------------------------------

def encode_avi(frames: list[bytes], fps: float = 30.0) -> bytes:
    """Minimal AVI container: RIFF('AVI ') with a hdrl LIST (avih main
    header carrying the frame interval + count) and a movi LIST of
    '00dc' frame chunks. Enough structure for any RIFF-aware reader to
    recover frame count, rate, and payloads — codec-free, like the BMP
    and WAV writers."""
    us_per_frame = int(round(1_000_000 / fps))
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, 0, 0, 0, 0, 0, 0,
    )
    hdrl_body = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = b"movi"
    for fr in frames:
        movi_body += b"00dc" + struct.pack("<I", len(fr)) + fr
        if len(fr) & 1:
            movi_body += b"\x00"  # RIFF chunks are word-aligned
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(raw: bytes) -> tuple[float, list[bytes]]:
    """Parse a RIFF AVI → (fps, frame payload list). Walks the chunk
    tree (avih for the frame interval, movi LIST for '00dc'/'00db'
    frame chunks); raises ValueError on non-AVI payloads."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    fps, frames = 30.0, []

    def walk(pos: int, end: int) -> None:
        nonlocal fps
        # declared chunk sizes in a corrupt container can overrun the
        # buffer — clamp every traversal bound so the parse degrades to
        # "fewer frames" instead of struct.error past the end
        end = min(end, len(raw))
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", raw, pos)
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, min(body_start + size, len(raw)))
            elif cid == b"avih" and size >= 4 and body_start + 4 <= len(raw):
                (us_per_frame,) = struct.unpack_from("<I", raw, body_start)
                if us_per_frame:
                    fps = 1_000_000 / us_per_frame
            elif cid in (b"00dc", b"00db"):
                frames.append(raw[body_start : body_start + size])
            pos = body_start + size + (size & 1)

    walk(12, len(raw))
    return fps, frames
