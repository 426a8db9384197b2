"""Multimodal (image/audio/video) feature extraction.

Media travel as opaque ``binary`` columns with a typed metadata struct;
all per-asset compute (decode, feature extraction, frame fan-out) runs
as Arrow-batched ``mapInPandas`` so bytes never leave the executor and
batches amortize Python crossing costs.

One decoder per media kind, each stdlib + numpy only:

- image: binary netpbm, P5 grayscale / P6 RGB (``decode_image``);
- audio: PCM WAV through the stdlib ``wave`` module (``decode_audio``);
- video: the RAWV raw-frame container (``decode_video_frame``).

Any other payload (PNG, JPEG, MP3, H.264, ...) raises
NotImplementedError, and a malformed one ValueError; ``extract_features``
and ``video_frame_features`` record either per row (``decode_ok`` false
plus the error) instead of failing the job. ``synth_wav_assets`` and
``synth_rawv_assets`` render text as WAV and RAWV payloads for the
media near-dup queries in ``queries/scale_ops.py``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # image|audio|video
    T.StructField("media", T.BinaryType(), True),       # opaque payload
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]), True),
])

FEATURE_SCHEMA = ("asset_id long, kind string, n_bytes long, "
                  "feature array<double>, decode_ok boolean, error string")


def _netpbm_gray(payload: bytes):
    """Parse a binary netpbm image (P5 grayscale / P6 RGB — REAL public
    formats, pure stdlib+numpy) into a normalized [0,1] grayscale
    (h, w) array. Returns None when the magic doesn't match; raises
    ValueError on a corrupt header/raster."""
    import numpy as np

    if payload is None or payload[:2] not in (b"P5", b"P6"):
        return None
    # header: magic, then 3 ints (w, h, maxval) separated by
    # whitespace, with '#' comments running to end-of-line
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("corrupt netpbm header (unclosed comment)")
            pos = nl + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("corrupt netpbm header (missing field)")
        vals.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then the raster
    w, h, maxval = vals
    if w <= 0 or h <= 0 or maxval <= 0 or maxval > 65535:
        raise ValueError("corrupt netpbm header (bad dimensions)")
    nch = 3 if payload[:2] == b"P6" else 1
    dt = np.dtype(">u2" if maxval > 255 else "u1")
    need = w * h * nch * dt.itemsize
    raster = payload[pos:pos + need]
    if len(raster) < need:
        raise ValueError("truncated netpbm raster")
    px = np.frombuffer(raster, dtype=dt).astype(np.float64) / maxval
    if nch == 3:
        px = px.reshape(h, w, 3).mean(axis=2)
    else:
        px = px.reshape(h, w)
    return px


def decode_image(payload: bytes, dims: int = 8) -> list[float]:
    """Real image decode of binary netpbm (P5/P6) into a ``dims``-strip
    of block-mean normalized intensities (the decode_video_frame
    feature shape). Any other format raises NotImplementedError —
    callers record the error per-row instead of failing the job."""
    import numpy as np

    gray = _netpbm_gray(payload)
    if gray is None:
        raise NotImplementedError(
            "not a binary netpbm (P5/P6) image, the only image format "
            "with a decoder")
    return [float(c.mean()) if c.size else 0.0 for c in
            np.array_split(gray, dims, axis=1)]


def decode_audio(payload: bytes, dims: int = 8) -> list[float]:
    """Real audio decode of PCM WAV (stdlib ``wave`` module): mono ->
    mean absolute amplitude over ``dims`` equal chunks (a coarse
    loudness envelope). Non-WAV payloads raise NotImplementedError
    (recorded per-row by callers)."""
    import numpy as np

    data = _wav_pcm_samples(payload)
    if data.ndim > 1:
        data = data.mean(axis=1)
    if len(data) == 0:
        return [0.0] * dims
    return [float(c.mean()) if len(c) else 0.0
            for c in np.array_split(np.abs(data), dims)]


def _wav_pcm_samples(payload: bytes):
    """PCM WAV -> float array in [-1, 1] via the stdlib wave module
    (8/16/32-bit int PCM; channels averaged by the caller)."""
    import io
    import wave

    import numpy as np
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            width = w.getsampwidth()
            nch = w.getnchannels()
            frames = w.readframes(w.getnframes())
    except (wave.Error, EOFError) as e:
        raise NotImplementedError(
            f"not a PCM WAV, the only audio format with a decoder ({e})")
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise NotImplementedError(f"unsupported PCM width {width}")
    data = np.frombuffer(frames, dtype=dtype).astype(np.float64)
    if width == 1:                       # 8-bit WAV is unsigned
        data = data - 128.0
    data /= float(2 ** (8 * width - 1))
    if nch > 1:
        data = data.reshape(-1, nch)
    return data


_DECODERS = {"image": decode_image, "audio": decode_audio}


def extract_features(assets: DataFrame, dims: int = 8) -> DataFrame:
    """Per-asset feature extraction over mapInPandas. One pass over the
    binary column; output is a narrow feature table (the wide media
    bytes are dropped executor-side, never shuffled)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, oks, errs = [], [], []
            for payload, kind in zip(pdf["media"], pdf["kind"]):
                try:
                    decoder = _DECODERS.get(kind)
                    if decoder is None:
                        raise NotImplementedError(
                            f"no codec for kind={kind} (video decodes "
                            "per frame in video_frame_features)")
                    feats.append(decoder(payload, dims))
                    oks.append(True)
                    errs.append(None)
                except Exception as e:  # malformed payloads included
                    feats.append(None)
                    oks.append(False)
                    errs.append(str(e)[:100])
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["media"].map(lambda b: len(b) if b is not None else 0),
                "feature": feats,
                "decode_ok": oks,
                "error": errs,
            })

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = ("asset_id long, frame_idx int, ts_ms int, "
                "feature array<double>, decode_ok boolean, error string")


RAWV_MAGIC = b"RAWV"
_RAWV_HEADER_LEN = 10  # magic + u16 width + u16 height + u16 frame_ms


def encode_rawv(frames: list[bytes], width: int, height: int,
                frame_ms: int) -> bytes:
    """Encode grayscale frames into the RAWV container: ``RAWV`` magic,
    little-endian u16 width/height/frame-interval-ms, then frames of
    ``width*height`` intensity bytes concatenated in order."""
    import struct
    if any(len(f) != width * height for f in frames):
        raise ValueError("every RAWV frame must be width*height bytes")
    return (RAWV_MAGIC + struct.pack("<HHH", width, height, frame_ms)
            + b"".join(frames))


def decode_video_frame(payload: bytes, ts_ms: int, dims: int = 8) -> list[float]:
    """Real video frame decode for the RAWV raw-frame container (pure
    Python, no system codecs): seek to the frame covering ``ts_ms`` and
    reduce it to a ``dims``-value strip of mean normalized intensities —
    the same feature shape as ``decode_image``. Non-RAWV payloads raise
    NotImplementedError (compressed codecs need a PyAV/ffmpeg deployment
    this container lacks); corrupt RAWV raises ValueError. Either way the
    caller records the error per-row and never fails the job."""
    import struct
    if payload is None or len(payload) < _RAWV_HEADER_LEN \
            or payload[:4] != RAWV_MAGIC:
        raise NotImplementedError(
            "only the RAWV raw-frame container decodes in-environment; "
            "compressed video needs PyAV/ffmpeg deployment")
    width, height, frame_ms = struct.unpack_from("<HHH", payload, 4)
    if width == 0 or height == 0 or frame_ms == 0:
        raise ValueError("corrupt RAWV header (zero dimension/interval)")
    if ts_ms < 0:
        # floor division would seek a negative offset into the header
        raise ValueError(f"negative frame timestamp {ts_ms}ms")
    fsize = width * height
    idx = ts_ms // frame_ms
    off = _RAWV_HEADER_LEN + idx * fsize
    if off + fsize > len(payload):
        raise ValueError(f"frame {idx} (ts={ts_ms}ms) beyond payload")
    frame = payload[off:off + fsize]
    # mean intensity over `dims` contiguous pixel blocks; when
    # dims > pixels some blocks are empty — they repeat the nearest
    # in-range pixel (clamped index) rather than dividing by zero
    step = fsize / dims
    out = []
    for i in range(dims):
        lo, hi = round(i * step), round((i + 1) * step)
        block = frame[lo:hi]
        if not block:
            j = min(lo, fsize - 1)
            block = frame[j:j + 1]
        out.append(sum(block) / len(block) / 255.0)
    return out


def video_frame_features(assets: DataFrame, every_ms: int = 1000,
                         dims: int = 8) -> DataFrame:
    """Per-frame RAWV decode for video assets: one tick every
    ``every_ms`` from t=0 through ``meta.duration_ms`` inclusive, so
    ``int(duration_ms / every_ms) + 1`` rows per asset, each decoded by
    ``decode_video_frame`` or carrying its per-row error.

    Ticks are generated executor-side in Python rather than as a JVM
    frame plan joined back to the media column — that join would
    replicate each asset's bytes once PER FRAME through the shuffle.
    Here each asset's bytes cross the Arrow boundary exactly once and
    fan out to frames in memory.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("asset_id", "frame_idx", "ts_ms",
                                   "feature", "decode_ok", "error")}
            for aid, payload, meta in zip(pdf["asset_id"], pdf["media"],
                                          pdf["meta"]):
                dur = (meta or {}).get("duration_ms") or 0
                n_frames = max(int(dur / every_ms), 0)
                for idx in range(n_frames + 1):
                    ts = idx * every_ms
                    try:
                        feat = decode_video_frame(payload, ts, dims)
                        ok, err = True, None
                    except Exception as e:
                        feat, ok, err = None, False, str(e)[:100]
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(idx)
                    out["ts_ms"].append(ts)
                    out["feature"].append(feat)
                    out["decode_ok"].append(ok)
                    out["error"].append(err)
            yield pd.DataFrame(out)

    video = assets.where(F.col("kind") == "video") \
        .select("asset_id", "media", "meta")
    return video.mapInPandas(run, schema=FRAME_SCHEMA)


def blockhash63(feature):
    """63-bit Blockhash-style perceptual hash from a 63-strip feature
    array (Yang/Oostveen block-mean hashing, public): bit i = strip
    i's mean intensity above the array median (exact middle of 63
    values — every strip contributes a bit, no blind-spot strip).
    Pure higher-order column expression over the decoded feature —
    per-row, no UDF beyond the decode itself; bit 63 stays clear so
    the value is positive (same convention as
    operators/dedup.simhash64, so the banding/verify machinery is
    shared)."""
    from pyspark.sql import functions as F

    med = F.element_at(F.array_sort(feature), 32)
    out = F.lit(0).cast("long")
    for i in range(63):
        out = out.bitwiseOR(
            F.when(F.element_at(feature, i + 1) > med,
                   F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    return out


def synth_wav_assets(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_samples: int = 8192) -> DataFrame:
    """Render each document's text as a REAL 8-bit PCM WAV payload
    (stdlib ``wave`` writer; samples = the text's own bytes, capped at
    ``max_samples``, NO padding or cycling — the signal's duration is
    the text's length, so feature windows computed relative to
    duration stay content-aligned; padding would hand every short doc
    an identical constant tail and cycling would phase-shift the
    whole signal under a one-word edit). The ingest-side twin of
    decode_audio's stdlib parser: downstream audio operators exercise
    a genuine encode->decode round trip instead of fake bytes.
    Deterministic: same text, same payload. Runs in mapInPandas; text
    never rides a shuffle as audio."""
    import io
    import wave
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias, durs = [], []
            for text in pdf["_t"]:
                raw = (text or " ").encode("utf-8", "replace")
                samples = raw[:max_samples]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(1)
                    w.setframerate(8000)
                    w.writeframes(samples)
                medias.append(buf.getvalue())
                durs.append(len(samples) * 1000 // 8000)
            yield pd.DataFrame({
                "asset_id": pdf["_id"], "kind": "audio",
                "media": medias,
                "meta": [{"mime": "audio/wav", "width": None,
                          "height": None, "duration_ms": dur}
                         for dur in durs],
            })

    src = docs.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_t"))
    return src.mapInPandas(run, schema=ASSET_SCHEMA)


def diffhash63(feature):
    """63-bit sign-of-difference audio fingerprint from a 64-window
    loudness envelope: bit i = window i+1 louder than window i — the
    Haitsma-Kalker (2002) robust-hash shape (energy DIFFERENCES, not
    absolute levels, so the hash is invariant to overall gain and far
    more discriminative than a median threshold on near-constant
    envelopes). Pure higher-order column expression; bit 63 stays
    clear so the value is positive and the shared 4x16 banding
    applies."""
    from pyspark.sql import functions as F

    out = F.lit(0).cast("long")
    for i in range(63):
        out = out.bitwiseOR(
            F.when(F.element_at(feature, i + 2)
                   > F.element_at(feature, i + 1),
                   F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    return out


def synth_rawv_assets(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", frame_w: int = 8,
                      frame_h: int = 8, max_frames: int = 8,
                      frame_ms: int = 1000) -> DataFrame:
    """Render each document's text as a REAL RAWV video payload: the
    normalized text splits into width*height-byte frames (last frame
    space-padded, count capped at ``max_frames``), so a text edit is a
    FRAME-LOCAL pixel change and document length is the video's
    duration. The ingest twin of decode_video_frame — downstream video
    operators exercise the genuine container round trip. Deterministic;
    text never rides a shuffle as video."""
    from collections.abc import Iterator

    import pandas as pd

    fsize = frame_w * frame_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias, metas = [], []
            for text in pdf["_t"]:
                raw = (text or " ").encode("utf-8", "replace")
                n = min(max(1, -(-len(raw) // fsize)), max_frames)
                frames = [raw[i * fsize:(i + 1) * fsize]
                          .ljust(fsize, b" ") for i in range(n)]
                medias.append(encode_rawv(frames, frame_w, frame_h,
                                          frame_ms))
                # ticks run 0..duration inclusive; (n-1)*frame_ms
                # samples exactly the n real frames
                metas.append({"mime": "video/x-rawv", "width": frame_w,
                              "height": frame_h,
                              "duration_ms": (n - 1) * frame_ms})
            yield pd.DataFrame({
                "asset_id": pdf["_id"], "kind": "video",
                "media": medias, "meta": metas,
            })

    src = docs.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_t"))
    return src.mapInPandas(run, schema=ASSET_SCHEMA)
