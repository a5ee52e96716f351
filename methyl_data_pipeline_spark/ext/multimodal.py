"""Multimodal (image/audio/video) column plumbing.

Design: media are opaque ``binary`` columns + a typed metadata struct
(`modality`, `mime`, `n_bytes`), flowing through the same long-form
engine as any other column. Decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` — per-partition batch iterators so a
decoder amortizes model/codec init across a batch, the shape a real
image/audio library needs.

Codecs: BMP images and PCM WAV audio decode for REAL via the
pure-struct parsers in ``ext/codecs.py`` (no library needed — same
approach as the IDAT reader). Formats that genuinely require a codec
library (JPEG/PNG, MP3/AAC) fall back to deterministic md5-derived
features with the exact output schema a real codec produces, keeping
the Spark-side plumbing testable end-to-end.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F


MEDIA_SCHEMA = (
    "id long, modality string, mime string, n_bytes long, content binary"
)


def attach_binary(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Wrap a column as an opaque media row (binary + metadata struct).
    Used by tests/fixtures to exercise the plumbing with utf-8 payloads
    standing in for image bytes."""
    content = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("id"),
        F.lit("text").alias("modality"),
        F.lit("text/plain").alias("mime"),
        F.octet_length(content).cast("long").alias("n_bytes"),
        content.alias("content"),
    )


def decode_features(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Batch feature extraction over binary content via ``mapInPandas``.

    REAL decode for the codec-free formats: BMP payloads (magic ``BM``)
    are struct-parsed to pixels and summarized as per-channel means +
    overall population std (``kind="bmp"``, features = [r_mean, g_mean,
    b_mean, px_std]); PCM WAV payloads (RIFF magic) are parsed to a
    mono waveform and summarized as [mean, std_pop, rms,
    zero-crossing-rate] (``kind="wav"``). Formats that genuinely need a
    codec library (JPEG/PNG/MP3 — absent in this container) keep the
    deterministic md5-digest pseudo-features (``kind="digest"``), which
    preserves schema/batch shape for the plug-in point.

    All stats are float64; std is population (ddof=0) to match SQL
    ``stddev_pop``. ZCR = fraction of adjacent sample pairs whose
    ``x >= 0`` sign differs.
    """
    out_schema = (
        "id long, modality string, kind string, n_bytes long, "
        "digest string, features array<double>"
    )

    def extract(batches):
        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import decode_bmp, decode_wav

        for pdf in batches:
            kinds, digests, feats = [], [], []
            for content in pdf["content"]:
                if content is None:
                    # NULL payload: digest and features are NULL, like
                    # md5(NULL) in any SQL engine — not the digest of b""
                    kinds.append("digest")
                    digests.append(None)
                    feats.append(None)
                    continue
                raw = bytes(content)
                d = hashlib.md5(raw).hexdigest()
                kind, fv = "digest", None
                if raw[:2] == b"BM":
                    try:
                        _w, _h, rgb = decode_bmp(raw)
                        px = np.frombuffer(rgb, np.uint8).astype(np.float64)
                        ch = px.reshape(-1, 3)
                        fv = [
                            float(ch[:, 0].mean()),
                            float(ch[:, 1].mean()),
                            float(ch[:, 2].mean()),
                            float(px.std()),
                        ]
                        kind = "bmp"
                    except ValueError:
                        pass
                elif raw[:4] == b"RIFF":
                    try:
                        _rate, x = decode_wav(raw)
                        pos = x >= 0
                        zcr = float((pos[1:] != pos[:-1]).mean()) if len(x) > 1 else 0.0
                        fv = [
                            float(x.mean()),
                            float(x.std()),
                            float(np.sqrt((x * x).mean())),
                            zcr,
                        ]
                        kind = "wav"
                    except ValueError:
                        pass
                if fv is None:
                    # md5 yields 16 byte-pairs; extend by re-hashing so
                    # feature_dim > 16 keeps working instead of raising
                    # int('', 16)
                    hx = d
                    while len(hx) < 2 * feature_dim:
                        hx += hashlib.md5(hx.encode()).hexdigest()
                    fv = [
                        int(hx[2 * i : 2 * i + 2], 16) / 255.0
                        for i in range(feature_dim)
                    ]
                kinds.append(kind)
                digests.append(d)
                feats.append(fv)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "modality": pdf["modality"],
                    "kind": kinds,
                    "n_bytes": pdf["n_bytes"],
                    "digest": digests,
                    "features": feats,
                }
            )

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(media.sparkSession)
    return media.mapInPandas(extract, out_schema)


def synthesize_media(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    img_w: int = 16,
    img_h: int = 16,
    n_samples: int = 256,
) -> DataFrame:
    """Deterministic media fixture stream over a document table, round-
    tripping the REAL encoders in ``ext/codecs.py`` so downstream
    decode is exercised against known pixel/sample values:

    - ``id % 3 == 0`` → 24-bit BMP whose top-down RGB byte ``i`` is
      ``(id*7 + i) % 256``;
    - ``id % 3 == 1`` → 16-bit PCM WAV whose sample ``i`` is
      ``v/32767`` with ``v = (id*13 + 5*i) % 65535 - 32767`` (exactly
      representable through the encoder's round-trip);
    - ``id % 3 == 2`` → raw utf-8 text (undecodable-format stand-in,
      exercising the digest fallback).

    The closed-form byte patterns make every decoded statistic
    SQL-derivable, which is what lets the DuckDB oracle check the whole
    encode → decode → featurize chain.
    """

    def synth(batches):
        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import encode_bmp, encode_wav

        for pdf in batches:
            rows = {"id": [], "modality": [], "mime": [], "n_bytes": [], "content": []}
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                rid = int(rid)
                k = rid % 3
                if k == 0:
                    i = np.arange(img_w * img_h * 3, dtype=np.int64)
                    rgb = ((rid * 7 + i) % 256).astype(np.uint8).tobytes()
                    content = encode_bmp(img_w, img_h, rgb)
                    modality, mime = "image", "image/bmp"
                elif k == 1:
                    i = np.arange(n_samples, dtype=np.int64)
                    v = (rid * 13 + 5 * i) % 65535 - 32767
                    content = encode_wav(16_000, v / 32767.0, bits=16)
                    modality, mime = "audio", "audio/wav"
                else:
                    # NULL text -> NULL payload (str(None) would hash
                    # the literal "None", a value no SQL engine derives)
                    content = (
                        None if text is None or (isinstance(text, float) and pd.isna(text))
                        else str(text).encode("utf-8")
                    )
                    modality, mime = "text", "text/plain"
                rows["id"].append(rid)
                rows["modality"].append(modality)
                rows["mime"].append(mime)
                rows["n_bytes"].append(None if content is None else len(content))
                rows["content"].append(content)
            yield pd.DataFrame(rows)

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(docs.sparkSession)
    # _spread before the Python stage (guide §2.5) — see synthesize_images
    from methyl_data_pipeline_spark.ext.dedup import _spread

    return _spread(docs.select(id_col, text_col), id_col).mapInPandas(
        synth, MEDIA_SCHEMA
    )


def frame_sample(
    media: DataFrame, every_n: int = 10, assumed_fps: float = 30.0
) -> DataFrame:
    """Video frame sampling: 1:N ``mapInPandas`` — each input row
    explodes into every ``every_n``-th frame with its timestamp and a
    frame digest.

    AVI payloads (RIFF 'AVI ' magic) are parsed for REAL by the
    struct codec in ``ext/codecs.py``: frame count and rate come from
    the container, ``frame_digest`` is the md5 of the actual frame
    chunk bytes. Non-AVI payloads keep the deterministic fallback
    (1 fake frame per KiB at ``assumed_fps``) so the 1:N batch shape
    stays testable for codec-dependent containers (MP4/MKV need
    ffmpeg, absent here)."""
    out_schema = "id long, frame_idx int, t_offset double, frame_digest string"

    def sample(batches):
        from methyl_data_pipeline_spark.ext.codecs import decode_avi

        for pdf in batches:
            rows = {"id": [], "frame_idx": [], "t_offset": [], "frame_digest": []}
            for rid, content, n_bytes in zip(pdf["id"], pdf["content"], pdf["n_bytes"]):
                raw = bytes(content) if content is not None else b""
                is_avi = raw[:4] == b"RIFF" and raw[8:12] == b"AVI "
                if is_avi:
                    # a corrupt container falls back to the fake stream
                    # (same as codec-less formats) instead of failing
                    # the whole job on one bad row
                    try:
                        fps, frames = decode_avi(raw)
                        if not frames:  # corrupt container, no chunks
                            is_avi = False
                    except ValueError:
                        is_avi = False
                if is_avi:
                    for idx in range(0, len(frames), every_n):
                        rows["id"].append(rid)
                        rows["frame_idx"].append(idx)
                        rows["t_offset"].append(idx / fps)
                        rows["frame_digest"].append(
                            hashlib.md5(frames[idx]).hexdigest()
                        )
                    continue
                n_frames = max(1, int(n_bytes) // 1024)
                for idx in range(0, n_frames, every_n):
                    rows["id"].append(rid)
                    rows["frame_idx"].append(idx)
                    rows["t_offset"].append(idx / assumed_fps)
                    rows["frame_digest"].append(
                        hashlib.md5(raw[:64] + idx.to_bytes(4, "big")).hexdigest()
                    )
            yield pd.DataFrame(rows)

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(media.sparkSession)
    return media.mapInPandas(sample, out_schema)


def synthesize_video(
    docs: DataFrame,
    id_col: str = "doc_id",
    fps: float = 10.0,
    base_frames: int = 3,
    max_extra: int = 5,
) -> DataFrame:
    """Deterministic AVI fixture stream: each doc becomes a real AVI
    container (``ext.codecs.encode_avi``) holding
    ``base_frames + id % max_extra`` frames whose payload is the ASCII
    string ``frame|{id}|{idx}`` — so a SQL oracle can recompute every
    sampled frame's md5 digest and timestamp from first principles,
    certifying the container parse end to end."""

    def synth(batches):
        from methyl_data_pipeline_spark.ext.codecs import encode_avi

        for pdf in batches:
            rows = {"id": [], "modality": [], "mime": [], "n_bytes": [], "content": []}
            for rid in pdf[id_col]:
                rid = int(rid)
                frames = [
                    f"frame|{rid}|{i}".encode()
                    for i in range(base_frames + rid % max_extra)
                ]
                content = encode_avi(frames, fps=fps)
                rows["id"].append(rid)
                rows["modality"].append("video")
                rows["mime"].append("video/avi")
                rows["n_bytes"].append(len(content))
                rows["content"].append(content)
            yield pd.DataFrame(rows)

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(docs.sparkSession)
    # _spread before the Python stage (guide §2.5): a single parquet
    # file scans as ONE partition locally, which would run the whole
    # per-row codec loop serially in one task; the id-only shuffle is
    # tiny next to the encode work it parallelizes (r14 A/B in
    # OPTIMIZATION_r14.md, same move as the curate gate)
    from methyl_data_pipeline_spark.ext.dedup import _spread

    return _spread(docs.select(id_col), id_col).mapInPandas(
        synth, MEDIA_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual image fingerprints (VERDICT r13 #5): average-hash near-dup
# ---------------------------------------------------------------------------

def synthesize_images(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic BMP fixture stream with PLANTED near-duplicates,
    round-tripped through the REAL encoder (``ext.codecs.encode_bmp``)
    so :func:`image_ahash` exercises decode -> grayscale -> downsample
    -> threshold against known pixel values. Images are built from 64
    blocks (an 8x8 grid) of constant intensity so the 8x8 average-hash
    grid samples each block exactly; block values are closed-form in
    ``doc_id`` alone (no text dependency — NULL-text docs get images
    too), which is what lets the DuckDB oracle replay the whole chain.

    Per doc: ``group = id // 4``, ``role = id % 4``,
    ``base_j = (group*37 + j*11) % 200`` for block ``j`` in 0..63:

    - role 0 — base image, 16x16 px (2x2-px blocks);
    - role 1 — brightness variant: every block ``base_j + 40``
      (uniform shift, no clipping: the mean shifts identically, so the
      ahash is bit-identical — a planted hamming-0 near-dup);
    - role 2 — resized + edited variant: 32x32 px (4x4-px blocks),
      blocks 0 and 1 replaced by ``(base_j + 100) % 200`` — the ahash
      is resolution-invariant under the nearest-neighbor grid, so the
      pair lands at small hamming (the 2 edited bits plus any
      blocks the shifted mean flips);
    - role 3 — independent image: ``(group*101 + j*53 + 7) % 200``
      (expected hamming ~32 vs everything — never a candidate).
    """

    def synth(batches):
        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import encode_bmp

        j = np.arange(64, dtype=np.int64)
        for pdf in batches:
            rows = {"id": [], "modality": [], "mime": [], "n_bytes": [], "content": []}
            for rid in pdf[id_col]:
                rid = int(rid)
                grp, role = rid // 4, rid % 4
                base = (grp * 37 + j * 11) % 200
                if role == 0:
                    vals, px = base, 2
                elif role == 1:
                    vals, px = base + 40, 2
                elif role == 2:
                    vals = base.copy()
                    vals[:2] = (base[:2] + 100) % 200
                    px = 4
                else:
                    vals, px = (grp * 101 + j * 53 + 7) % 200, 2
                size = 8 * px
                blocks = vals.astype(np.uint8).reshape(8, 8)
                gray = np.repeat(np.repeat(blocks, px, axis=0), px, axis=1)
                rgb = np.repeat(gray[:, :, None], 3, axis=2).tobytes()
                content = encode_bmp(size, size, rgb)
                rows["id"].append(rid)
                rows["modality"].append("image")
                rows["mime"].append("image/bmp")
                rows["n_bytes"].append(len(content))
                rows["content"].append(content)
            yield pd.DataFrame(rows)

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(docs.sparkSession)
    # _spread before the Python stage (guide §2.5): a single parquet
    # file scans as ONE partition locally, which would run the whole
    # per-row codec loop serially in one task; the id-only shuffle is
    # tiny next to the encode work it parallelizes (r14 A/B in
    # OPTIMIZATION_r14.md, same move as the curate gate)
    from methyl_data_pipeline_spark.ext.dedup import _spread

    return _spread(docs.select(id_col), id_col).mapInPandas(
        synth, MEDIA_SCHEMA
    )


def image_ahash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash fingerprint over BMP payloads: decode
    (real struct parser), integer grayscale ``(r+g+b)//3``,
    nearest-neighbor downsample to a ``grid x grid`` sample (the same
    ``i*dim//grid`` index map a nearest-neighbor resize uses — so the
    hash is resolution-invariant for block-constant images), then
    threshold each sample at the grid mean and pack row-major into a
    signed 64-bit int (bit ``k = i*grid + j``; bit set iff
    ``grid² * v_k >= sum(v)`` — the integer-exact form of
    ``v_k >= mean``, no float division anywhere, which is what makes
    the fingerprint engine-portable to the SQL oracle).

    One Arrow-batched ``mapInPandas`` pass (codec work is the
    sanctioned Python tier); everything downstream
    (:func:`image_neardup` banding + verify) is JVM-side. Non-BMP /
    corrupt payloads yield NULL and are filtered — fingerprint only
    what decodes. Output: ``(id, ahash)``.
    """
    if grid * grid > 64:
        raise ValueError("grid*grid must fit a 64-bit fingerprint")
    out_schema = "id long, ahash long"
    nbits = grid * grid

    def fingerprint(batches):
        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import decode_bmp

        weights = (1 << np.arange(nbits, dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            ids, hashes = [], []
            for rid, content in zip(pdf["id"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                h = None
                if raw[:2] == b"BM":
                    try:
                        w, ht, rgb = decode_bmp(raw)
                        img = np.frombuffer(rgb, dtype=np.uint8).reshape(ht, w, 3)
                        gray = img.astype(np.int64).sum(axis=2) // 3
                        yi = (np.arange(grid) * ht // grid).clip(0, ht - 1)
                        xi = (np.arange(grid) * w // grid).clip(0, w - 1)
                        v = gray[yi][:, xi].reshape(-1)
                        bits = (nbits * v >= v.sum()).astype(np.uint64)
                        u = int((bits * weights).sum(dtype=np.uint64))
                        h = u - (1 << 64) if u >= (1 << 63) else u
                    except ValueError:
                        h = None  # corrupt BMP: skip, don't kill the job
                ids.append(int(rid))
                hashes.append(h)
            yield pd.DataFrame({"id": ids, "ahash": hashes})

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(media.sparkSession)
    return (
        media.select("id", "content")
        .mapInPandas(fingerprint, out_schema)
        .filter(F.col("ahash").isNotNull())
    )


def image_neardup(
    media: DataFrame,
    grid: int = 8,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: :func:`image_ahash`
    fingerprints fed through the LOSSLESS pigeonhole hamming kernel
    (``dedup.hamming_pairs`` — the same banding `simhash_hamming_pairs`
    uses, so every scale property carries over: one O(images x bands)
    shuffle, mega-bucket triangle guard, ``bit_count(xor)`` JVM
    verify; no all-pairs anywhere). Closes the text-only gap in the
    dedup layer (VERDICT r13 #5): resized and brightness-shifted
    re-encodes of the same image land at hamming 0-2 while unrelated
    images sit near ``grid²/2``. Output ``(id_a, id_b, hamming)``.

    SCALE HYGIENE (measured, r14 10x probe): pairs within an
    IDENTICAL-fingerprint family are all-pairs by definition, so on a
    corpus with large exact-dup families the output is quadratic in
    family size regardless of banding (a ~2500-member family is ~3M
    pairs in one bucket — OOMed a 16 GiB probe JVM). Collapse first:
    ``hamming_pairs(collapse_exact_fingerprints(image_ahash(m))
    .select("ahash", "id"), "ahash", "id")`` and join families back
    by fingerprint when member-level pairs are needed. The collapsed
    form measured 4.80 s -> 18.39 s at 1x -> 10x corpus (slope 3.8x,
    sublinear: the collapse absorbs the growing dup families;
    tools/scale_probe.py image_neardup).
    """
    from methyl_data_pipeline_spark.ext.dedup import hamming_pairs

    return hamming_pairs(
        image_ahash(media, grid=grid),
        sig_col="ahash",
        id_col="id",
        bits=64,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def synthesize_audio(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PCM-WAV fixture stream with PLANTED near-dups,
    through the REAL encoder — the audio twin of
    :func:`synthesize_images`. Each doc is 512 samples (64 windows x 8
    samples) of window-constant amplitude, closed-form in ``doc_id``:

    ``group = id // 4``, ``role = id % 4``,
    ``base_j = 2*(((group+1)*(j+7)*977 + group*13) % 12000) + 200``
    (EVEN, so the volume-halved variant divides exactly;
    MULTIPLICATIVE group mixing, deliberately — an additive pattern
    ``(group*c1 + j*c2) % M`` makes every group a translation of every
    other, and mean-thresholding is translation-invariant, so
    unrelated clips collided at hamming 0 under the first design;
    measured fix: independents now sit at min hamming 7, sampled
    cross-group collisions 3/9180):

    - role 0 — base clip;
    - role 1 — volume-halved: ``base_j // 2`` (uniform gain change —
      the energy pattern is identical, so the ahash matches at
      hamming 0);
    - role 2 — edit variant: windows 0 and 1 replaced by
      ``2*((base_j//2 + 2000) % 12000) + 200`` (measured hamming 0-4
      for ~95% of groups);
    - role 3 — independent clip:
      ``2*(((group+3)*(j+11)*1013 + group*29 + 5) % 12000) + 200``.
    """

    def synth(batches):
        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import encode_wav

        j = np.arange(64, dtype=np.int64)
        for pdf in batches:
            rows = {"id": [], "modality": [], "mime": [], "n_bytes": [], "content": []}
            for rid in pdf[id_col]:
                rid = int(rid)
                grp, role = rid // 4, rid % 4
                base = 2 * (((grp + 1) * (j + 7) * 977 + grp * 13) % 12000) + 200
                if role == 0:
                    amps = base
                elif role == 1:
                    amps = base // 2
                elif role == 2:
                    amps = base.copy()
                    amps[:2] = 2 * ((base[:2] // 2 + 2000) % 12000) + 200
                else:
                    amps = 2 * (((grp + 3) * (j + 11) * 1013 + grp * 29 + 5) % 12000) + 200
                samples = np.repeat(amps, 8) / 32767.0
                content = encode_wav(16_000, samples, bits=16)
                rows["id"].append(rid)
                rows["modality"].append("audio")
                rows["mime"].append("audio/wav")
                rows["n_bytes"].append(len(content))
                rows["content"].append(content)
            yield pd.DataFrame(rows)

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(docs.sparkSession)
    # _spread before the Python stage (guide §2.5): a single parquet
    # file scans as ONE partition locally, which would run the whole
    # per-row codec loop serially in one task; the id-only shuffle is
    # tiny next to the encode work it parallelizes (r14 A/B in
    # OPTIMIZATION_r14.md, same move as the curate gate)
    from methyl_data_pipeline_spark.ext.dedup import _spread

    return _spread(docs.select(id_col), id_col).mapInPandas(
        synth, MEDIA_SCHEMA
    )


def audio_ahash(media: DataFrame, windows: int = 64) -> DataFrame:
    """Perceptual audio fingerprint over PCM WAV payloads: decode (real
    RIFF parser), recover exact int16 samples (``round(x * 32768)`` —
    the decoder normalizes by 32768), split into ``windows`` equal
    windows, per-window ENERGY ``e_w = sum |v|`` (integer), threshold
    each window at the clip mean (integer-exact:
    ``windows * e_w >= sum(e)``), and pack into a signed 64-bit int —
    gain changes rescale every window together, so volume variants
    hash identically, the same invariance brightness has under
    :func:`image_ahash`. One Arrow-batched ``mapInPandas``; non-WAV /
    corrupt payloads yield NULL and are filtered.

    Output: ``(id, ahash)`` — feed to ``dedup.hamming_pairs`` or
    :func:`audio_neardup`.
    """
    if windows > 64:
        raise ValueError("windows must fit a 64-bit fingerprint")
    out_schema = "id long, ahash long"

    def fingerprint(batches):
        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import decode_wav

        weights = (1 << np.arange(windows, dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            ids, hashes = [], []
            for rid, content in zip(pdf["id"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                h = None
                if raw[:4] == b"RIFF":
                    try:
                        _rate, x = decode_wav(raw)
                        v = np.abs(np.round(x * 32768.0).astype(np.int64))
                        n = len(v) // windows * windows
                        if n == 0:
                            raise ValueError("clip shorter than the window grid")
                        e = v[:n].reshape(windows, -1).sum(axis=1)
                        bits = (windows * e >= e.sum()).astype(np.uint64)
                        u = int((bits * weights).sum(dtype=np.uint64))
                        h = u - (1 << 64) if u >= (1 << 63) else u
                    except ValueError:
                        h = None  # corrupt WAV: skip, don't kill the job
                ids.append(int(rid))
                hashes.append(h)
            yield pd.DataFrame({"id": ids, "ahash": hashes})

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(media.sparkSession)
    return (
        media.select("id", "content")
        .mapInPandas(fingerprint, out_schema)
        .filter(F.col("ahash").isNotNull())
    )


def audio_neardup(
    media: DataFrame,
    windows: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Perceptual near-duplicate audio pairs: :func:`audio_ahash`
    energy fingerprints through the same LOSSLESS pigeonhole hamming
    kernel as :func:`image_neardup` / ``simhash_hamming_pairs`` —
    volume-changed re-encodes land at hamming 0, small edits at 1-3,
    unrelated clips near ``windows/2``. Output ``(id_a, id_b,
    hamming)``."""
    from methyl_data_pipeline_spark.ext.dedup import hamming_pairs

    return hamming_pairs(
        audio_ahash(media, windows=windows),
        sig_col="ahash",
        id_col="id",
        bits=64,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def synthesize_videos(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic AVI fixture stream with PLANTED near-duplicates
    through the REAL encoders (``encode_avi`` over ``encode_bmp``
    frames) — the video twin of :func:`synthesize_images` /
    :func:`synthesize_audio`. Each clip is 64 (or 128, role 1)
    constant-gray BMP frames whose luminance is closed-form in
    ``doc_id`` alone, which is what lets the DuckDB oracle replay the
    whole container-parse -> frame-decode -> hash chain:

    ``group = id // 4``, ``role = id % 4``, frame ``f`` in 0..63,
    ``base_f = (((group+1)*(f+7)*977 + group*13) % 223) + 16``
    (MULTIPLICATIVE group mixing for the same reason as
    :func:`synthesize_audio`: mean-thresholding is translation- and
    scale-invariant, so an additive pattern would collide unrelated
    clips at hamming 0; measured with this form: in-group independents
    sit at min hamming 10, sampled cross-group collisions 28/19951):

    - role 0 — base clip: 64 frames, 4x4 px, luminance ``base_f``;
    - role 1 — downsized + retimed variant: every frame duplicated
      (128 frames, so the nearest-neighbor frame sampler must pick
      every other frame) at 2x2 px (so per-frame totals rescale
      uniformly) — both invariances compose to a bit-identical hash,
      a planted hamming-0 near-dup;
    - role 2 — edit variant: frames 0 and 1 replaced by
      ``((base_f//2 + 61) % 223) + 16`` (measured hamming 0-3 for all
      of 300 probed groups);
    - role 3 — independent clip:
      ``(((group+3)*(f+11)*1013 + group*29 + 5) % 223) + 16``.
    """

    def synth(batches):
        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import encode_avi, encode_bmp

        f = np.arange(64, dtype=np.int64)
        for pdf in batches:
            rows = {"id": [], "modality": [], "mime": [], "n_bytes": [], "content": []}
            for rid in pdf[id_col]:
                rid = int(rid)
                grp, role = rid // 4, rid % 4
                base = (((grp + 1) * (f + 7) * 977 + grp * 13) % 223) + 16
                if role == 2:
                    lum = base.copy()
                    lum[:2] = ((base[:2] // 2 + 61) % 223) + 16
                elif role == 3:
                    lum = (((grp + 3) * (f + 11) * 1013 + grp * 29 + 5) % 223) + 16
                else:
                    lum = base
                px = 2 if role == 1 else 4
                frames = [
                    encode_bmp(px, px, bytes([int(v)]) * (px * px * 3)) for v in lum
                ]
                if role == 1:
                    frames = [fr for fr in frames for _ in (0, 1)]
                content = encode_avi(frames, fps=30.0)
                rows["id"].append(rid)
                rows["modality"].append("video")
                rows["mime"].append("video/avi")
                rows["n_bytes"].append(len(content))
                rows["content"].append(content)
            yield pd.DataFrame(rows)

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(docs.sparkSession)
    # _spread before the Python stage (guide §2.5): a single parquet
    # file scans as ONE partition locally, which would run the whole
    # per-row codec loop serially in one task; the id-only shuffle is
    # tiny next to the encode work it parallelizes (r14 A/B in
    # OPTIMIZATION_r14.md, same move as the curate gate)
    from methyl_data_pipeline_spark.ext.dedup import _spread

    return _spread(docs.select(id_col), id_col).mapInPandas(
        synth, MEDIA_SCHEMA
    )


def video_ahash(media: DataFrame, frames: int = 64) -> DataFrame:
    """Perceptual temporal average-hash over AVI payloads: parse the
    RIFF container (real chunk walker), sample ``frames`` frames with
    the same nearest-neighbor index map every resize in this codebase
    uses (``i*n_frames//frames`` — so a retimed clip with duplicated
    frames hashes identically), BMP-decode each sampled frame to its
    integer grayscale TOTAL ``e_f = sum((r+g+b)//3)``, threshold each
    frame at the clip mean (integer-exact: ``frames * e_f >= sum(e)``,
    no float division), and pack row-major into a signed 64-bit int.
    Uniform spatial rescales multiply every ``e_f`` by the same pixel
    count and uniform brightness gain rescales every frame together,
    so downsized and gain-adjusted re-encodes hash identically — the
    video analogue of :func:`image_ahash`'s resolution invariance and
    :func:`audio_ahash`'s volume invariance.

    One Arrow-batched ``mapInPandas`` (codec work is the sanctioned
    Python tier); non-AVI / frameless / undecodable-frame payloads
    yield NULL and are filtered. Output: ``(id, ahash)``.
    """
    if frames > 64:
        raise ValueError("frames must fit a 64-bit fingerprint")
    out_schema = "id long, ahash long"

    def fingerprint(batches):
        import struct

        import numpy as np

        from methyl_data_pipeline_spark.ext.codecs import decode_avi, decode_bmp

        weights = (1 << np.arange(frames, dtype=np.uint64)).astype(np.uint64)

        def frame_totals(sampled: list[bytes]) -> "np.ndarray":
            """Integer grayscale total per frame. Fast path: a clip's
            frames normally share one BMP geometry, so decode the
            header once and sum the whole frame stack in a few numpy
            ops instead of 64 tiny per-frame decodes (the per-frame
            loop dominated the 1x probe at ~1.5 ms/clip); any geometry
            or header deviation falls back to the per-frame decoder,
            whose output this path matches bit-for-bit (channel order
            and row direction don't change a per-pixel (r+g+b)//3)."""
            head = sampled[0]
            w, ht, _ = decode_bmp(head)  # validates frame 0, raises on corrupt
            (pixel_offset,) = struct.unpack_from("<I", head, 10)
            bpp = struct.unpack_from("<H", head, 28)[0]
            n_ch = bpp // 8
            stride = (w * n_ch + 3) // 4 * 4
            L = len(head)
            if all(
                len(p) == L and p[:pixel_offset] == head[:pixel_offset]
                for p in sampled
            ):
                stack = np.frombuffer(b"".join(sampled), dtype=np.uint8).reshape(
                    len(sampled), L
                )
                px = stack[:, pixel_offset : pixel_offset + stride * ht]
                rows = px.reshape(len(sampled), ht, stride)[:, :, : w * n_ch]
                chan = rows.reshape(len(sampled), ht, w, n_ch)[:, :, :, :3]
                tri = chan.astype(np.int64).sum(axis=3)
                return (tri // 3).sum(axis=(1, 2))
            e = np.empty(len(sampled), dtype=np.int64)
            for k, p in enumerate(sampled):
                fw, fh, rgb = decode_bmp(p)
                img = np.frombuffer(rgb, dtype=np.uint8)
                gray = img.reshape(-1, 3).astype(np.int64).sum(axis=1) // 3
                e[k] = int(gray.sum())
            return e

        for pdf in batches:
            ids, hashes = [], []
            for rid, content in zip(pdf["id"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                h = None
                if raw[:4] == b"RIFF":
                    try:
                        _fps, payloads = decode_avi(raw)
                        if not payloads:
                            raise ValueError("no frames in container")
                        fi = (
                            (np.arange(frames, dtype=np.int64) * len(payloads))
                            // frames
                        ).clip(0, len(payloads) - 1)
                        e = frame_totals([payloads[int(i)] for i in fi])
                        bits = (frames * e >= e.sum()).astype(np.uint64)
                        u = int((bits * weights).sum(dtype=np.uint64))
                        h = u - (1 << 64) if u >= (1 << 63) else u
                    except ValueError:
                        h = None  # corrupt AVI/frame: skip, don't kill the job
                ids.append(int(rid))
                hashes.append(h)
            yield pd.DataFrame({"id": ids, "ahash": hashes})

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(media.sparkSession)
    return (
        media.select("id", "content")
        .mapInPandas(fingerprint, out_schema)
        .filter(F.col("ahash").isNotNull())
    )


def video_neardup(
    media: DataFrame,
    frames: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Perceptual near-duplicate video pairs: :func:`video_ahash`
    temporal fingerprints through the same LOSSLESS pigeonhole hamming
    kernel as :func:`image_neardup` / :func:`audio_neardup` — retimed
    and downsized re-encodes land at hamming 0, short edits at 1-3,
    unrelated clips near ``frames/2``. Same scale hygiene as the other
    two: collapse exact fingerprint families first on corpora with
    large exact-dup families (see :func:`collapse_exact_fingerprints`).
    Output ``(id_a, id_b, hamming)``."""
    from methyl_data_pipeline_spark.ext.dedup import hamming_pairs

    return hamming_pairs(
        video_ahash(media, frames=frames),
        sig_col="ahash",
        id_col="id",
        bits=64,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def collapse_exact_fingerprints(sigs: DataFrame, sig_col: str = "ahash", id_col: str = "id") -> DataFrame:
    """Collapse identical perceptual fingerprints to one representative
    (min id) with a member count — the mandatory pre-step before
    hamming banding on corpora with large exact-dup families. Pairs
    WITHIN an identical family are implied by the family itself
    (hamming 0, all-pairs = C(n,2)), so materializing them is
    quadratic waste: the r14 10x scale probe measured the banding
    kernel OOMing a 16 GiB JVM on ~2500-member identical families
    (~3M pair structs per bucket) when fed raw fingerprints, while the
    collapsed representatives stream through unchanged. One
    fingerprint-keyed shuffle, output <= distinct signatures.

    Output: ``(sig_col, id_col, n_members)`` — feed to
    ``dedup.hamming_pairs``; join families back by fingerprint when
    member-level pairs are genuinely needed.
    """
    return sigs.groupBy(sig_col).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
