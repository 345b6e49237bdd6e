"""Multimodal column plumbing: opaque binary payloads and their decoders.

Beyond-reference surface (BASELINE.json north star): treat
image/audio/video as `binary` columns; decode / feature-extract /
resize / frame-sample run as Arrow-batched pandas functions over
``mapInPandas``.

This container has no image/audio codec LIBRARIES, so decode splits
in two: uncompressed binary PPM (P6) is decoded FOR REAL below
(header parse + numpy reshape + integer nearest-neighbor resize —
fully oracle-checked by query `multimodal_ppm_decode`), while
compressed formats (JPEG/PNG/video) stay behind the clearly-marked
deterministic stub. Everything around decode — schema, batch
iteration, partition behavior, column pruning — is real and what
matters at 100 TB: payloads stream through executors in Arrow
batches and metadata extraction never touches the driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame


def _fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """STUB: stands in for a real image decode (no codecs in this
    container). Deterministic pseudo-dimensions derived from the
    payload digest — replace with PIL/ffmpeg in production."""
    h = hashlib.md5(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


def extract_features(
    df: DataFrame, id_col: str, binary_col: str
) -> DataFrame:
    """Per-payload features via mapInPandas (Arrow batches).

    Output: (id, n_bytes, digest, width, height, aspect_milli).
    The decode inside is the stub; the plumbing (batch iterator,
    schema, column pruning before the UDF) is the real pattern.
    """
    schema = (
        f"{id_col} long, n_bytes long, digest string, "
        "width int, height int, aspect_milli long"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[binary_col]
            ids = pdf[id_col]
            rows = []
            for i, p in zip(ids, payloads):
                b = bytes(p)
                w, h = _fake_decode_dims(b)
                rows.append(
                    (
                        int(i),
                        len(b),
                        hashlib.md5(b).hexdigest(),
                        w,
                        h,
                        int(w * 1000 // h),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_bytes", "digest", "width", "height", "aspect_milli"],
            )

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


def frame_sample(
    df: DataFrame, id_col: str, binary_col: str, n_frames: int = 4
) -> DataFrame:
    """'Video' frame sampling stub: slice the payload into n_frames
    equal chunks (stands in for ffmpeg keyframe extraction); output one
    row per frame with its chunk digest — the explode-shaped output a
    real frame sampler would produce."""
    schema = f"{id_col} long, frame_no int, frame_digest string"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                b = bytes(p)
                if not b:
                    continue
                step = max(1, len(b) // n_frames)
                for f_no in range(min(n_frames, len(b))):
                    chunk = b[f_no * step : (f_no + 1) * step]
                    rows.append(
                        (int(i), f_no, hashlib.md5(chunk).hexdigest())
                    )
            yield pd.DataFrame(rows, columns=[id_col, "frame_no", "frame_digest"])

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


# ---------------------------------------------------------------------------
# REAL decode path: PPM (P6), an uncompressed public format needing no
# codec library — header parse + numpy reshape. Compressed formats
# (JPEG/PNG/...) remain environment-gated behind the stub above.
# ---------------------------------------------------------------------------


def encode_ppm(arr) -> bytes:
    """Binary PPM (P6, maxval 255) from an (h, w, 3) uint8 array."""
    h, w, c = arr.shape
    assert c == 3
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(payload: bytes):
    """REAL image decode for binary PPM (P6): parse the header
    (whitespace + '#' comments per the spec), then one zero-copy numpy
    reshape of the raw RGB plane. Returns (h, w, 3) uint8."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    raw = payload[pos : pos + w * h * 3]
    if len(raw) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def resize_nearest(arr, tw: int, th: int):
    """Integer nearest-neighbor resize: target pixel (i, j) samples
    source ((i*h)//th, (j*w)//tw) — exact integer index math, so any
    engine reproduces it bit-for-bit."""
    import numpy as np

    h, w, _ = arr.shape
    rows = (np.arange(th) * h) // th
    cols = (np.arange(tw) * w) // tw
    return arr[rows][:, cols]


def ppm_features(
    df: DataFrame, id_col: str, binary_col: str, tw: int = 8, th: int = 8
) -> DataFrame:
    """REAL decode -> nearest-neighbor resize -> per-channel integer
    sums, as Arrow-batched ``mapInPandas``. Unlike ``extract_features``
    (stub dims), every byte of the payload is actually parsed; output
    is integer-exact so the whole pipeline is DuckDB-oracle-checkable."""
    schema = (
        f"{id_col} long, width int, height int, "
        "sum_r bigint, sum_g bigint, sum_b bigint"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                img = decode_ppm(bytes(p))
                h, w, _ = img.shape
                small = resize_nearest(img, tw, th).astype("int64")
                sums = small.reshape(-1, 3).sum(axis=0)
                rows.append(
                    (int(i), w, h, int(sums[0]), int(sums[1]), int(sums[2]))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "sum_r", "sum_g", "sum_b"],
            )

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


def synthesize_ppm_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic PPM payloads from an id column (the test corpus
    carries no real images): size (16 + id%16) x (12 + id%8), pixel
    (x, y) = ((id*7 + x) % 256, (x + y) % 256, (id + 3*y) % 256) —
    closed-form integers, so an oracle can recompute any downstream
    stat without decoding bytes."""
    schema = f"{id_col} long, image binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 16 + i % 16, 12 + i % 8
                y, x = np.indices((h, w))
                img = np.stack(
                    [(i * 7 + x) % 256, (x + y) % 256, (i + 3 * y) % 256],
                    axis=-1,
                ).astype("uint8")
                rows.append((i, encode_ppm(img)))
            yield pd.DataFrame(rows, columns=[id_col, "image"])

    return df.select(id_col).mapInPandas(fn, schema)


# ---------------------------------------------------------------------------
# REAL decode path #2: WAV (RIFF PCM16 mono) — the audio analog of the
# PPM path. Pure struct parsing + numpy; compressed audio (MP3/AAC/...)
# stays behind the stub.
# ---------------------------------------------------------------------------


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Canonical RIFF/WAVE payload from an int16 numpy array (mono
    PCM16)."""
    import struct

    raw = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes):
    """REAL audio decode for RIFF/WAVE PCM16 mono: walk the chunk
    list (fmt/data in any order, unknown chunks skipped per spec),
    validate the format block, return (sample_rate, int16 array)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, raw = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError(
                    f"only PCM16 mono supported, got fmt={audio_fmt} "
                    f"ch={channels} bits={bits}"
                )
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or raw is None:
        raise ValueError("missing fmt or data chunk")
    return rate, np.frombuffer(raw, dtype="<i2")


def wav_features(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """REAL decode -> integer signal stats per payload (duration,
    total |amplitude|, peak) — Arrow-batched, integer-exact, so the
    whole path is DuckDB-oracle-checkable like ``ppm_features``."""
    schema = (
        f"{id_col} long, sample_rate int, n_samples int, "
        "duration_ms int, sum_abs bigint, peak int"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                rate, samples = decode_wav(bytes(p))
                a = samples.astype("int64")
                rows.append(
                    (
                        int(i),
                        int(rate),
                        len(a),
                        int(len(a) * 1000 // rate),
                        int(abs(a).sum()),
                        int(abs(a).max()) if len(a) else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "sample_rate", "n_samples",
                    "duration_ms", "sum_abs", "peak",
                ],
            )

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


def wav_frame_energies(
    df: DataFrame, id_col: str, binary_col: str, frame: int = 160
) -> DataFrame:
    """REAL decode -> one row per fixed-length analysis frame with its
    integer energy (sum of squared PCM16 samples, exact in int64): the
    front half of voice-activity segmentation. The tail frame may be
    short; its true length is emitted so thresholds can normalize by
    n_in_frame instead of assuming a full frame. Arrow-batched like
    ``wav_features`` — the whole path stays DuckDB-oracle-checkable."""
    schema = f"{id_col} long, frame_no int, n_in_frame int, energy bigint"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                _rate, samples = decode_wav(bytes(p))
                a = samples.astype("int64")
                for f0 in range(0, len(a), frame):
                    seg = a[f0 : f0 + frame]
                    rows.append(
                        (int(i), f0 // frame, len(seg), int((seg * seg).sum()))
                    )
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_no", "n_in_frame", "energy"]
            )

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


def synthesize_wav_clips(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic PCM16 clips from an id column: n = 800 + 16*(id%17)
    samples at 8 kHz, sample(t) = ((id*31 + t*7) % 4096) - 2048 —
    closed-form integers an oracle can recompute without decoding."""
    schema = f"{id_col} long, audio binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                n = 800 + 16 * (i % 17)
                t = np.arange(n, dtype="int64")
                samples = ((i * 31 + t * 7) % 4096) - 2048
                rows.append((i, encode_wav(samples, 8000)))
            yield pd.DataFrame(rows, columns=[id_col, "audio"])

    return df.select(id_col).mapInPandas(fn, schema)


# ---------------------------------------------------------------------------
# REAL decode path #3: Y4M (YUV4MPEG2) — the video analog. Uncompressed
# frame stream, no codec library needed; frame sampling becomes real
# frame extraction instead of byte slicing.
# ---------------------------------------------------------------------------


def encode_y4m(frames, fps: int = 25) -> bytes:
    """YUV4MPEG2 C444 payload from an (n, 3, h, w) uint8 array
    (one Y, U, V plane per frame)."""
    n, c, h, w = frames.shape
    assert c == 3
    head = b"YUV4MPEG2 W%d H%d F%d:1 Ip A1:1 C444\n" % (w, h, fps)
    out = [head]
    for f in frames:
        out.append(b"FRAME\n" + f.tobytes())
    return b"".join(out)


def decode_y4m(payload: bytes):
    """REAL video decode for YUV4MPEG2 (C444): parse the stream
    header's tagged parameters, then split the FRAME stream. Returns
    (fps, (n, 3, h, w) uint8)."""
    import numpy as np

    nl = payload.index(b"\n")
    head = payload[:nl].split(b" ")
    if head[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = fps = None
    colorspace = b"C420jpeg"  # spec default when the C tag is absent
    for tag in head[1:]:
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"F":
            fps = int(tag[1:].split(b":")[0])
        elif tag[:1] == b"C":
            colorspace = tag
    if colorspace != b"C444":
        raise ValueError(f"only C444 supported, got {colorspace.decode()}")
    if w is None or h is None or fps is None:
        raise ValueError("missing W/H/F stream parameters")
    frame_bytes = 3 * w * h
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("malformed FRAME marker")
        raw = payload[fnl + 1 : fnl + 1 + frame_bytes]
        if len(raw) != frame_bytes:
            raise ValueError("truncated frame raster")
        frames.append(
            np.frombuffer(raw, dtype=np.uint8).reshape(3, h, w)
        )
        pos = fnl + 1 + frame_bytes
    import numpy as np

    return fps, np.stack(frames) if frames else np.zeros((0, 3, h, w), "uint8")


def y4m_frame_stats(
    df: DataFrame, id_col: str, binary_col: str, every: int = 2
) -> DataFrame:
    """REAL frame sampling: decode the Y4M stream, keep every
    ``every``-th frame (ffmpeg `select=not(mod(n\\,k))` analog), emit
    one row per sampled frame with integer luma stats — the
    explode-shaped output of a real keyframe pipeline, oracle-exact."""
    schema = (
        f"{id_col} long, frame_no int, n_frames int, fps int, "
        "width int, height int, sum_luma bigint"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                fps, frames = decode_y4m(bytes(p))
                n, _, h, w = frames.shape
                for f_no in range(0, n, every):
                    luma = frames[f_no][0].astype("int64")
                    rows.append(
                        (int(i), f_no, n, int(fps), w, h, int(luma.sum()))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "frame_no", "n_frames", "fps",
                    "width", "height", "sum_luma",
                ],
            )

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


def wav_vad_segments_local(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    frame: int = 160,
    thresh: int = 1400000,
) -> DataFrame:
    """REAL decode -> voice-activity SEGMENTS computed inside the
    Arrow batch: per-frame int64 energies, mean-square threshold, and
    the consecutive-active-frame merge all happen on the clip's own
    samples — a payload is self-contained, so no window function and
    no cross-row state is needed. This is the streaming-legal form of
    the batch gaps-and-islands plan (window functions are not allowed
    on streaming DataFrames); both produce identical segments and
    share one oracle."""
    schema = (
        f"{id_col} long, seg_start int, seg_end int, "
        "n_frames_seg long, seg_energy bigint"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                _rate, samples = decode_wav(bytes(p))
                a = samples.astype("int64")
                run_start = None
                run_n = 0
                run_e = 0
                fno = -1
                for f0 in range(0, len(a), frame):
                    fno = f0 // frame
                    seg = a[f0 : f0 + frame]
                    e = int((seg * seg).sum())
                    if e // len(seg) > thresh:
                        if run_start is None:
                            run_start, run_n, run_e = fno, 0, 0
                        run_n += 1
                        run_e += e
                    elif run_start is not None:
                        rows.append(
                            (int(i), run_start, fno - 1, run_n, run_e)
                        )
                        run_start = None
                if run_start is not None:
                    rows.append((int(i), run_start, fno, run_n, run_e))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "seg_start", "seg_end",
                    "n_frames_seg", "seg_energy",
                ],
            )

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


def y4m_frame_sad(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """REAL decode -> per-consecutive-frame-pair sum of absolute luma
    differences (SAD, exact in int64) — the signal shot-boundary
    detection thresholds. One row per frame transition (frame_no is
    the LATER frame); clips with a single frame emit nothing.
    Arrow-batched like the other decode paths; the closed-form test
    clips keep the whole path DuckDB-oracle-checkable."""
    schema = f"{id_col} long, frame_no int, n_frames int, sad bigint"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                _fps, frames = decode_y4m(bytes(p))
                n = frames.shape[0]
                luma = frames[:, 0].astype("int64")
                for f in range(1, n):
                    sad = int(np.abs(luma[f] - luma[f - 1]).sum())
                    rows.append((int(i), f, n, sad))
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_no", "n_frames", "sad"]
            )

    return df.select(id_col, binary_col).mapInPandas(fn, schema)


def synthesize_y4m_clips(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic C444 clips: 3 + id%4 frames of 8x6, luma(f, x, y)
    = (id + 17*f + x + 2*y) % 256, chroma planes constant 128 —
    closed-form integers an oracle can recompute."""
    schema = f"{id_col} long, video binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                n, w, h = 3 + i % 4, 8, 6
                y_idx, x_idx = np.indices((h, w))
                frames = []
                for f in range(n):
                    luma = (i + 17 * f + x_idx + 2 * y_idx) % 256
                    chroma = np.full((h, w), 128)
                    frames.append(np.stack([luma, chroma, chroma]))
                rows.append(
                    (i, encode_y4m(np.stack(frames).astype("uint8"), fps=25))
                )
            yield pd.DataFrame(rows, columns=[id_col, "video"])

    return df.select(id_col).mapInPandas(fn, schema)
