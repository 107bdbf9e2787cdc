"""Multimodal columns: opaque binary payloads + typed metadata.

100 TB design (task brief): media columns are POINTERS + metadata, not
inline blobs — the parquet row holds (uri, byte_size, sha256, modality)
and small payloads only; decode/feature-extraction runs as Arrow-
batched ``mapInPandas`` so bytes never round-trip through Python
row-by-row.

Decode tiers (round 8 split):

- **REAL decoders** — :func:`decode_image_features`
  (magic-dispatched :func:`parse_image`: binary PPM/P6 header parse
  and 24-bit BMP with bottom-up BGR rows + 4-byte row padding, both
  to one numpy RGB contract), :func:`decode_audio_features`
  (RIFF/WAV PCM audio via :func:`parse_wav` on the stdlib ``wave``
  module), and :func:`decode_video_features` (YUV4MPEG2 raw video —
  stream-header tags + per-FRAME planes via :func:`parse_y4m`).
  All are genuine byte-level format decoders with zero external
  dependencies, so the decode path itself — not just the plumbing —
  executes and is oracle-checked (llm_image_decode /
  llm_audio_decode / llm_video_decode run them over deterministic
  fixtures whose pixel/sample statistics have closed-form SQL).
- **Stubbed decoders** — compressed formats (JPEG/PNG/MP4/...) need
  libjpeg/ffmpeg, which the package does not depend on:
  :func:`extract_features` derives a deterministic fake feature
  vector from the payload hash and :func:`sample_frames` slices the
  payload bytes as frames.  A real codec replaces only the
  per-payload Python in their ``mapInPandas`` bodies.

The Spark-side plumbing — schema, batching, partitioning — is shared
by both tiers and tested end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the (stubbed) feature extractor.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload_sha", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def pack_payload(df: DataFrame, text_col: str = "text", uri_prefix: str = "mem://doc/") -> DataFrame:
    """Attach a binary payload column + metadata struct.

    The fixture has no real media, so the document text doubles as the
    payload bytes; the struct carries (uri, n_bytes, sha256, modality)
    — exactly the pointer-not-blob record a 100 TB pipeline stores.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.concat(F.lit(uri_prefix), F.col("doc_id").cast("string")).alias("uri"),
            F.octet_length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
            F.lit("text/plain").alias("modality"),
        ),
    )


def extract_features(df: DataFrame, dim: int = 4) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: each batch arrives as a pandas DataFrame of
    payload bytes; a real implementation would decode (PIL/ffmpeg) and
    run a feature net here.  The stub derives a deterministic
    pseudo-feature from the sha256 so tests can assert the plumbing
    (schema, batch shape, partition parallelism) end-to-end.
    """
    # validate at call time: the stub slices the 64-char sha256 hex
    # digest in 8-char windows, so dim > 8 would raise
    # int('', 16) ValueError inside every Arrow task instead of here
    if not 1 <= dim <= 8:
        raise ValueError(f"dim={dim} must be in [1, 8] (64-bit digest / 8 hex chars)")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            shas = []
            feats = []
            for payload in pdf["payload"]:
                digest = hashlib.sha256(bytes(payload)).hexdigest()
                shas.append(digest)
                feats.append(
                    [int(digest[8 * i : 8 * i + 8], 16) / 0xFFFFFFFF for i in range(dim)]
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload_sha": shas, "feature": feats}
            )

    return df.select("doc_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


#: Output schema of the frame sampler: one row per SAMPLED frame.
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def sample_frames(
    df: DataFrame,
    frame_bytes: int = 256,
    every: int = 4,
) -> DataFrame:
    """Frame-sample a media payload: split into fixed-size frames, keep
    every ``every``-th, emit one row per sampled frame (1→N batch
    expansion through ``mapInPandas``).

    The stub treats the payload bytes as the 'video' — frame i is the
    byte slice [i*frame_bytes, (i+1)*frame_bytes); a real decoder
    (ffmpeg keyframe extraction) replaces the slicing only, so the
    Spark-side shape (Arrow batches in, multi-row batches out, schema,
    partition parallelism) is the production plumbing.  Deterministic
    ⇒ fully oracle-checkable despite running in Python.
    """
    # Fail fast at CALL time — inside the closure these surface as an
    # opaque per-task PythonException (range() step 0 /
    # ZeroDivisionError) only after the job has scanned and shipped
    # payload batches (same policy as extract_features' dim check).
    if every <= 0:
        raise ValueError(f"every={every} must be >= 1")
    if frame_bytes <= 0:
        raise ValueError(f"frame_bytes={frame_bytes} must be >= 1")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            ids, idxs, shas = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n_frames = (len(raw) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every):
                    ids.append(doc_id)
                    idxs.append(i)
                    shas.append(
                        hashlib.sha256(
                            raw[i * frame_bytes : (i + 1) * frame_bytes]
                        ).hexdigest()
                    )
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_sha": shas})

    return df.select("doc_id", "payload").mapInPandas(batches, FRAME_SCHEMA)


# ------------------------------------------------- real decoders (r8)

#: Output schema of the PPM image decoder.
IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)

#: Output schema of the WAV audio decoder.
AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("mean_amp", T.DoubleType()),
        T.StructField("rms_amp", T.DoubleType()),
    ]
)


def parse_ppm(raw: bytes):
    """Decode a binary PPM (P6) image: ``(width, height, pixels)``
    with ``pixels`` a ``(height, width, 3)`` uint8 numpy array.

    A REAL byte-level image decode (netpbm is a standard interchange
    format): magic check, whitespace-delimited header fields (with
    ``#`` end-of-line comments per the spec), 8-bit raster.  EVERY
    malformed payload raises ``ValueError`` (fuzz-asserted) — the caller
    decides quarantine vs fail (llm_image_decode fails fast: its
    fixtures are generated).  Kept dependency-free on purpose; a
    JPEG/PNG tier would swap this function for a libjpeg call and
    keep every Spark-side line unchanged.
    """
    import numpy as np

    if raw[:2] != b"P6":
        raise ValueError(f"not a binary PPM (P6) payload: magic={raw[:2]!r}")
    # the magic must be FOLLOWED by whitespace (or a '#' comment) per
    # the spec — without this check b"P642 12 ..." would merge "42"
    # after the magic into the width token (ADVICE r8)
    if not (raw[2:3].isspace() or raw[2:3] == b"#"):
        raise ValueError(
            f"malformed PPM header: magic not followed by whitespace "
            f"({raw[:3]!r})"
        )
    # header = magic + 3 whitespace-separated ints; the raster starts
    # one byte after the maxval token
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        # skip whitespace AND netpbm '#' comments (run to end-of-line)
        while pos < len(raw):
            if raw[pos : pos + 1].isspace():
                pos += 1
            elif raw[pos : pos + 1] == b"#":
                nl = raw.find(b"\n", pos)
                pos = len(raw) if nl < 0 else nl + 1
            else:
                break
        start = pos
        while pos < len(raw) and not raw[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        tok = raw[start:pos]
        # plain ASCII digits only — int() also accepts non-spec tokens
        # like b"1_0" (underscore separators) and b"+3" (ADVICE r8)
        if not tok.isdigit():
            raise ValueError(f"non-numeric PPM header field: {tok!r}")
        fields.append(int(tok))
    pos += 1  # the single whitespace byte terminating the header
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, got maxval={maxval}")
    need = width * height * 3
    raster = raw[pos : pos + need]
    if len(raster) != need:
        raise ValueError(
            f"PPM raster truncated: need {need} bytes, have {len(raster)}"
        )
    return width, height, np.frombuffer(raster, dtype=np.uint8).reshape(
        height, width, 3
    )


def parse_wav(raw: bytes):
    """Decode a RIFF/WAV PCM payload: ``(n_samples, sample_rate,
    samples)`` with ``samples`` an int16 numpy array (mono).

    A REAL audio decode via the stdlib ``wave`` module — RIFF chunk
    walk, fmt parse, PCM frames.  16-bit mono only (the fixture
    contract); anything else raises ``ValueError``.
    """
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(raw), "rb") as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                raise ValueError(
                    f"only 16-bit mono WAV supported, got channels="
                    f"{w.getnchannels()} sampwidth={w.getsampwidth()}"
                )
            n = w.getnframes()
            rate = w.getframerate()
            frames = w.readframes(n)
    # wave raises bare EOFError (not wave.Error) on truncated chunks —
    # fold both into the module's ValueError contract so a dirty
    # payload surfaces as a classifiable decode error in executors,
    # never a bare EOFError mid-task
    except (wave.Error, EOFError) as exc:
        raise ValueError(f"not a PCM WAV payload: {exc!r}") from exc
    # the header's frame count must agree with the bytes actually
    # present: a data chunk truncated at an even byte count makes
    # readframes return fewer samples than n, silently desyncing
    # n_samples from the sample array (ADVICE r8) — a classifiable
    # decode error, not a silent inconsistency
    if len(frames) != 2 * n:
        raise ValueError(
            f"WAV data truncated: header declares {n} frames "
            f"({2 * n} bytes), payload has {len(frames)}"
        )
    return n, rate, np.frombuffer(frames, dtype="<i2")


def decode_image_features(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL image decode over binary payloads:
    ``(doc_id, payload)`` → per-image (width, height, per-channel mean)
    via :func:`parse_image` — magic-dispatched PPM or BMP, so a mixed-
    container lake directory decodes in one pass.  Same mapInPandas
    shape as the stubbed :func:`extract_features` — swapping the stub
    for a real codec changes only the per-payload Python, never the
    plan."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("doc_id", "width", "height",
                                   "mean_r", "mean_g", "mean_b")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = parse_image(bytes(payload))
                means = px.reshape(-1, 3).mean(axis=0)  # float64-exact sums
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_r"].append(float(means[0]))
                out["mean_g"].append(float(means[1]))
                out["mean_b"].append(float(means[2]))
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(batches, IMAGE_FEATURE_SCHEMA)


def decode_audio_features(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL audio decode over binary payloads:
    ``(doc_id, payload)`` → per-clip (n_samples, sample_rate, mean
    amplitude, RMS amplitude) via :func:`parse_wav`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {k: [] for k in ("doc_id", "n_samples", "sample_rate",
                                   "mean_amp", "rms_amp")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n, rate, s = parse_wav(bytes(payload))
                s64 = s.astype(np.float64)
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["sample_rate"].append(rate)
                out["mean_amp"].append(float(s64.mean()) if n else None)
                out["rms_amp"].append(
                    float(np.sqrt((s64 * s64).mean())) if n else None
                )
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(batches, AUDIO_FEATURE_SCHEMA)


def parse_bmp(raw: bytes):
    """Decode a 24-bit uncompressed BMP: ``(width, height, pixels)``
    with ``pixels`` a ``(height, width, 3)`` uint8 RGB array.

    A REAL decode of the mainstream Windows bitmap container:
    BITMAPFILEHEADER magic + data offset, BITMAPINFOHEADER dims/bpp/
    compression, then the raster — stored BOTTOM-UP in BGR order with
    every row padded to a 4-byte boundary, all of which this parser
    undoes.  24-bit BI_RGB only; anything else (or any truncation)
    raises ``ValueError`` per the module's decode-error contract.
    """
    import struct

    import numpy as np

    if raw[:2] != b"BM":
        raise ValueError(f"not a BMP payload: magic={raw[:2]!r}")
    if len(raw) < 54:
        raise ValueError(f"truncated BMP header: {len(raw)} bytes")
    data_offset = struct.unpack_from("<I", raw, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", raw, 14)
    planes, bpp = struct.unpack_from("<HH", raw, 26)
    compression = struct.unpack_from("<I", raw, 30)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    # lower-bound the raster offset: a malformed data_offset < the
    # file-header + info-header span (e.g. 0) would slice header bytes
    # into the raster and silently decode garbage pixels (ADVICE r8)
    if data_offset < 14 + hdr_size:
        raise ValueError(
            f"bad BMP data offset {data_offset} (header spans "
            f"{14 + hdr_size} bytes)"
        )
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"only 24-bit BI_RGB BMP supported, got bpp={bpp} "
            f"compression={compression}"
        )
    if width <= 0 or height == 0 or planes != 1:
        raise ValueError(f"bad BMP dims: {width}x{height} planes={planes}")
    bottom_up = height > 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    need = row_size * height
    raster = raw[data_offset : data_offset + need]
    if len(raster) != need:
        raise ValueError(
            f"BMP raster truncated: need {need} bytes, have {len(raster)}"
        )
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(height, row_size)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return width, height, np.ascontiguousarray(bgr[..., ::-1])  # BGR→RGB


def parse_image(raw: bytes):
    """Magic-dispatched image decode: PPM (P6) or BMP — the container
    the payload actually is, not what its filename claims.  The
    per-format parsers share one output contract (width, height, RGB
    uint8 array), so downstream feature code is format-blind."""
    if raw[:2] == b"P6":
        return parse_ppm(raw)
    if raw[:2] == b"BM":
        return parse_bmp(raw)
    raise ValueError(f"unrecognized image container: magic={raw[:2]!r}")


#: Output schema of the Y4M video decoder.
VIDEO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("mean_luma_f0", T.DoubleType()),
    ]
)


def parse_y4m(raw: bytes):
    """Decode a YUV4MPEG2 (Y4M) video stream: ``(width, height,
    frames)`` with ``frames`` a ``(n_frames, height, width)`` uint8
    luma array.

    A REAL decode of the standard uncompressed video interchange
    container (the ffmpeg/mplayer raw format): ``YUV4MPEG2`` stream
    header with space-separated tagged parameters (W/H/C...), then one
    ``FRAME`` header + raw plane bytes per frame.  ``Cmono``
    (luma-only) streams only — the fixture contract; chroma-subsampled
    layouts raise ``ValueError`` like every other unsupported-layout
    branch in this module.
    """
    import numpy as np

    magic = b"YUV4MPEG2"
    if raw[: len(magic)] != magic:
        raise ValueError(f"not a Y4M payload: magic={raw[:9]!r}")
    nl = raw.find(b"\n", len(magic))
    if nl < 0:
        raise ValueError("truncated Y4M stream header")
    width = height = None
    colorspace = b"C420"  # Y4M default when no C tag is present
    for tag in raw[len(magic) : nl].split(b" "):
        if not tag:
            continue
        key, val = tag[:1], tag[1:]
        try:
            if key == b"W":
                width = int(val)
            elif key == b"H":
                height = int(val)
        except ValueError:
            raise ValueError(f"bad Y4M header tag: {tag!r}") from None
        if key == b"C":
            colorspace = tag
    if not width or not height or width < 0 or height < 0:
        raise ValueError(f"bad Y4M dims: W={width} H={height}")
    if colorspace != b"Cmono":
        raise ValueError(
            f"only Cmono Y4M supported, got {colorspace!r}"
        )
    frame_size = width * height
    frames = []
    pos = nl + 1
    while pos < len(raw):
        if raw[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad Y4M frame marker at offset {pos}")
        fnl = raw.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("truncated Y4M frame header")
        plane = raw[fnl + 1 : fnl + 1 + frame_size]
        if len(plane) != frame_size:
            raise ValueError(
                f"Y4M frame truncated: need {frame_size}, have {len(plane)}"
            )
        frames.append(np.frombuffer(plane, dtype=np.uint8).reshape(height, width))
        pos = fnl + 1 + frame_size
    if not frames:
        raise ValueError("Y4M stream has no frames")
    return width, height, np.stack(frames)


def decode_video_features(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL video decode over binary payloads:
    ``(doc_id, payload)`` → per-clip (dims, frame count, whole-clip and
    first-frame mean luma) via :func:`parse_y4m`.  The video leg of the
    real-decoder tier — same mapInPandas plumbing as image/audio."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {k: [] for k in ("doc_id", "width", "height", "n_frames",
                                   "mean_luma", "mean_luma_f0")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, frames = parse_y4m(bytes(payload))
                f64 = frames.astype(np.float64)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(len(frames))
                out["mean_luma"].append(float(f64.mean()))
                out["mean_luma_f0"].append(float(f64[0].mean()))
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(batches, VIDEO_FEATURE_SCHEMA)
