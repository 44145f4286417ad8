"""Multimodal (image/audio/video) column handling.

Design: media are opaque ``binary`` columns + a typed metadata struct; all
decode/feature work happens in Arrow-batched ``mapInPandas`` stages so bytes
never round-trip through Python row-at-a-time. Partitioning contract: media
rows are heavy — repartition by byte-size budget before a decode stage, not
by row count.

The decode kernels themselves need codec libraries (Pillow/torchaudio/ffmpeg)
that are NOT in this container — they are stubbed behind
``DecoderUnavailable`` with a deterministic fake used by tests, so the
Spark-side plumbing (schemas, batch iteration, UDF signatures) is real and
tested while the kernel is swappable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


class DecoderUnavailable(NotImplementedError):
    """Raised by real decode kernels when the codec library is absent."""


def real_decode_kernel(content: bytes, kind: str, dim: int = 8) -> list[float] | None:
    """Codec-backed kernel, import-gated: images decode through Pillow when
    it is installed (grayscale → 4×2 thumbnail → ``dim`` normalized pixel
    values, matching ``fake_decode_kernel``'s shape contract exactly);
    PCM-WAV audio decodes via the stdlib (``_decode_wav``); video decodes
    through PyAV/ffmpeg when installed (``_decode_video``, first-frame
    thumbnail on the same grid). When a library is absent the kernel
    raises ``DecoderUnavailable`` — callers swap in
    ``fake_decode_kernel`` to exercise the identical Arrow path.
    Corrupt/undecodable bytes yield ``None`` (a NULL feature), not an
    exception — a single bad blob must never abort a 100 TB stage."""
    if dim < 2 or dim % 2:
        # the 4x2-thumbnail layout yields 2*(dim//2) pixels — an odd dim
        # would silently return dim-1 values and break the shape contract
        # shared with fake_decode_kernel
        raise ValueError(f"dim must be an even integer >= 2, got {dim}")
    if content is None:
        return [0.0] * dim
    if kind == "image":
        try:
            from PIL import Image  # optional dep — present on real clusters
        except ImportError as e:
            raise DecoderUnavailable(
                "Pillow is not installed — cannot decode kind='image'; "
                "install Pillow or swap in fake_decode_kernel"
            ) from e
        import io

        try:
            img = Image.open(io.BytesIO(content)).convert("L").resize((dim // 2, 2))
        except Exception:
            # one corrupt blob among millions must not abort the stage:
            # surface it as a NULL feature row (queryable downstream),
            # never as a task-killing exception
            return None
        return [p / 255.0 for p in img.getdata()][:dim]
    if kind == "audio":
        return _decode_wav(content, dim)
    if kind == "video":
        return _decode_video(content, dim)
    raise DecoderUnavailable(
        f"no codec library available to decode kind={kind!r}; "
        "swap in fake_decode_kernel"
    )


def _import_av():
    """PyAV, or a crisp ``DecoderUnavailable`` whose __cause__ is the
    ImportError — the marker `extract_features` uses to FAIL FAST
    (a missing library is environment-uniform, unlike one bad blob)."""
    try:
        import av
    except ImportError as e:
        raise DecoderUnavailable(
            "PyAV is not installed — cannot decode kind='video'; "
            "install av (PyAV, bundles ffmpeg) or swap in "
            "fake_decode_kernel"
        ) from e
    return av


def _decode_video(content: bytes, dim: int) -> list[float] | None:
    """PyAV/ffmpeg-gated video kernel (r11 verdict #8 — the last modality
    to get the gated-real-kernel treatment): decode the FIRST frame,
    grayscale it, block-mean it down to the same 2×(dim//2) thumbnail
    grid as the image kernel, emit ``dim`` values in [0, 1]. First-frame-
    only by design: the feature exists for dedup/triage, and a corpus
    pass must not transcode every video. Corrupt/undecodable bytes →
    ``None`` (NULL feature), never a task-killing exception."""
    av = _import_av()
    import io

    import numpy as np

    try:
        with av.open(io.BytesIO(content)) as container:
            stream = next(
                s for s in container.streams if s.type == "video"
            )
            frame = next(container.decode(stream))
            gray = frame.to_ndarray(format="gray").astype(np.float64)
    except Exception:
        return None  # corrupt/streamless blob: NULL row, stage survives
    h, w = gray.shape
    cols = dim // 2
    if h < 2 or w < cols:
        return None  # sub-thumbnail frame: nothing meaningful to pool
    rb = np.linspace(0, h, 3).astype(int)
    cb = np.linspace(0, w, cols + 1).astype(int)
    return [
        float(gray[rb[r] : rb[r + 1], cb[c] : cb[c + 1]].mean()) / 255.0
        for r in range(2)
        for c in range(cols)
    ]


def _decode_wav(content: bytes, dim: int) -> list[float] | None:
    """Stdlib PCM-WAV audio kernel (zero new dependencies — ``wave`` +
    numpy; ``audioop`` is deliberately avoided: removed in Python 3.13):
    parse the RIFF/WAVE container, fold channels to mono, and emit the
    ``dim``-window RMS envelope normalized to [0, 1] — same shape
    contract as the image kernel. ``DecoderUnavailable`` is reserved for
    genuinely codec-bound content (non-WAV audio like MP3/OGG, or a WAVE
    container whose format tag the stdlib reader cannot decompress);
    corrupt/truncated PCM yields ``None`` like every other kernel."""
    import io
    import wave

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise DecoderUnavailable(
            "the stdlib audio kernel decodes PCM WAV only; install "
            "torchaudio/ffmpeg for compressed audio or swap in "
            "fake_decode_kernel"
        )
    try:
        with wave.open(io.BytesIO(content)) as w:
            nch, sw = w.getnchannels(), w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except wave.Error as e:
        # a WAVE container with a compression the stdlib reader lacks
        # (ADPCM, mu-law, ...) is codec-bound, not corrupt
        raise DecoderUnavailable(
            f"WAVE container the stdlib reader cannot decode ({e}); "
            "install torchaudio/ffmpeg or swap in fake_decode_kernel"
        ) from e
    except Exception:
        return None  # corrupt container: NULL feature, never an abort
    try:
        if sw == 1:  # unsigned 8-bit
            x = (np.frombuffer(raw, np.uint8).astype(np.float64) - 128.0) / 128.0
        elif sw == 2:
            x = np.frombuffer(raw, "<i2").astype(np.float64) / 32768.0
        elif sw == 3:  # packed 24-bit little-endian
            b = np.frombuffer(raw, np.uint8)
            b = b[: (len(b) // 3) * 3].reshape(-1, 3).astype(np.uint32)
            v = (b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)).astype(np.int64)
            v[v >= 1 << 23] -= 1 << 24
            x = v.astype(np.float64) / float(1 << 23)
        elif sw == 4:
            x = np.frombuffer(raw, "<i4").astype(np.float64) / float(1 << 31)
        else:
            return None
        if nch > 1:
            x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
        if len(x) == 0:
            return [0.0] * dim
        bounds = np.linspace(0, len(x), dim + 1).astype(int)
        return [
            float(np.sqrt(np.mean(x[s:e] ** 2))) if e > s else 0.0
            for s, e in zip(bounds[:-1], bounds[1:])
        ]
    except Exception:
        return None


def fake_decode_kernel(content: bytes, kind: str, dim: int = 8) -> list[float]:
    """Deterministic stand-in: 'features' derived from the content digest.
    Exercises the full Arrow/mapInPandas path with stable outputs."""
    if content is None:
        return [0.0] * dim
    h = hashlib.sha256(content).digest()
    return [h[i] / 255.0 for i in range(dim)]


def extract_features(
    df: DataFrame,
    kernel: Callable[[bytes, str], list[float]] = real_decode_kernel,
) -> DataFrame:
    """Arrow-batched feature extraction over media rows.

    mapInPandas keeps the binary column inside Arrow buffers; each batch is
    processed vectorized-per-partition.

    Per-row ``DecoderUnavailable`` degrades to a NULL feature here — a
    mixed corpus with one MP3 among a million WAVs must not abort the
    stage (r11 review), exactly like corrupt bytes. The ONE exception:
    an unavailability CAUSED by ``ImportError`` (a missing codec
    library) is environment-uniform — every row of that kind would fail
    identically — so it propagates and fails fast instead of silently
    NULLing 100 % of a modality. Direct ``kernel(...)`` calls keep the
    informative raise."""

    def feat(c, k):
        try:
            return kernel(c, k)
        except DecoderUnavailable as e:
            if isinstance(e.__cause__, ImportError):
                raise  # missing library: uniform, fail fast
            return None  # content this kernel can't decode: NULL row

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0),
                    "sha256": pdf["content"].map(
                        lambda b: hashlib.sha256(b).hexdigest() if b is not None else None
                    ),
                    "feature": [
                        feat(c, k) for c, k in zip(pdf["content"], pdf["kind"])
                    ],
                }
            )
            yield out

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


