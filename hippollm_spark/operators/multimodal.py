"""Multimodal columns: image/audio/video as opaque BINARY + typed
metadata, with decode / feature-extract / resize / frame-sample stages
as Arrow-batched mapInPandas operators.

The Spark-side plumbing (schemas, batch iteration, partitioning, UDF
signatures) is real and tested; the actual codecs are NOT in this
container, so each decoder resolves in order:
  1. the real library (PIL / soundfile / av) if importable,
  2. a deterministic fake (`fake=True`) that derives pixel/audio
     statistics from a hash of the bytes — stable across engines, good
     enough to exercise every downstream stage,
  3. NotImplementedError naming the missing dependency.

Dependency-free formats decode FOR REAL in any container:
`decode_wav_stats` (stdlib ``wave``), `decode_ppm_stats` (pure-python
binary PGM/PPM), and `decode_jpeg_stats` (pure-numpy T.81 baseline
sequential JPEG: canonical Huffman, dequant, IDCT, chroma upsample,
JFIF YCbCr) parse actual payloads — so the pipeline exercises genuine
byte-level decoding end-to-end even without codec libraries.
`hippollm_spark.testing.encode_baseline_jpeg` is the matching fixture
encoder.

At scale: media payloads dominate partition size — media tables should
be written with small ``spark.sql.files.maxPartitionBytes`` and the
binary column NEVER shuffled: every operator here is a narrow map, and
feature tables (small, numeric) are what joins/aggregations consume.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("data", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("channels", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)


def _have_pil() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _fake_stats(data: bytes, n: int = 8) -> list[float]:
    """Deterministic pseudo-statistics from the byte content."""
    h = hashlib.sha256(data or b"").digest()
    return [b / 255.0 for b in h[:n]]


def decode_image_stats(media: DataFrame, fake: bool | None = None) -> DataFrame:
    """Per-image statistics (mean/std per channel proxy).
    Output: (media_id, width, height, mean ARRAY<DOUBLE>).
    """
    use_fake = fake if fake is not None else not _have_pil()

    def _run(batches):
        for pdf in batches:
            rows = []
            for mid, data, meta in zip(pdf["media_id"], pdf["data"], pdf["meta"]):
                meta = meta or {}
                if use_fake:
                    stats = _fake_stats(bytes(data or b""), 3)
                    rows.append(
                        (mid, meta.get("width"), meta.get("height"), stats)
                    )
                else:  # pragma: no cover - no codec in test container
                    import io

                    import PIL.Image

                    img = PIL.Image.open(io.BytesIO(data))
                    arr = np.asarray(img, dtype=np.float64) / 255.0
                    rows.append(
                        (mid, img.width, img.height, arr.mean(axis=(0, 1)).tolist())
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "mean"]
            )

    return media.select("media_id", "data", "meta").mapInPandas(
        _run, "media_id long, width int, height int, mean array<double>"
    )


def media_embedding(media: DataFrame, dim: int = 64, fake: bool = True) -> DataFrame:
    """Feature-extraction stage: (media_id, embedding ARRAY<FLOAT>).
    The fake derives a deterministic unit vector from the bytes; a real
    model drops in as another mapInPandas with the same signature."""
    if not fake:  # pragma: no cover
        raise NotImplementedError("no vision/audio model runtime in this container")

    def _run(batches):
        for pdf in batches:
            vecs = []
            for data in pdf["data"]:
                h = hashlib.sha256(bytes(data or b"")).digest()
                raw = np.frombuffer(
                    (h * (dim * 4 // len(h) + 1))[: dim * 4], dtype=np.uint32
                ).astype(np.float64)
                v = (raw % 2001 - 1000) / 1000.0
                v = v / (np.linalg.norm(v) or 1.0)
                vecs.append(v.astype(np.float32).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "embedding": vecs})

    return media.select("media_id", "data").mapInPandas(
        _run, "media_id long, embedding array<float>"
    )


def sample_frames(media: DataFrame, every_n: int = 10, fake: bool = True) -> DataFrame:
    """Frame-sampling stage for video rows: one output row per sampled
    frame index, payload stubbed. Output: (media_id, frame_idx, frame BINARY)."""
    if not fake:  # pragma: no cover
        raise NotImplementedError("no video codec in this container")

    def _run(batches):
        for pdf in batches:
            rows = []
            for mid, data, meta in zip(pdf["media_id"], pdf["data"], pdf["meta"]):
                n = int((meta or {}).get("n_frames") or 0)
                for idx in range(0, n, every_n):
                    marker = hashlib.sha256(
                        bytes(data or b"") + idx.to_bytes(4, "big")
                    ).digest()
                    rows.append((mid, idx, marker))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return media.filter("kind = 'video'").select("media_id", "data", "meta").mapInPandas(
        _run, "media_id long, frame_idx int, frame binary"
    )


def _box_resample(px: np.ndarray, oh: int, ow: int) -> np.ndarray:
    """Box-average (area-interpolation) resample of one 2-D plane to
    (oh, ow). The max(hi, lo+1) cell slicing makes it total for ANY
    input size, including dimensions smaller than the target (cells
    then repeat source rows/cols — nearest-neighbour upscale)."""
    h, w = px.shape
    ys = (np.arange(oh + 1) * h) // oh
    xs = (np.arange(ow + 1) * w) // ow
    out = np.empty((oh, ow))
    for i in range(oh):
        for j in range(ow):
            cell = px[
                ys[i] : max(ys[i + 1], ys[i] + 1),
                xs[j] : max(xs[j + 1], xs[j] + 1),
            ]
            out[i, j] = cell.mean()
    return out


def _decode_pixels(data: bytes) -> np.ndarray:
    """(h, w, c) float64 pixel array via whatever decoder is available:
    PIL when installed (any format), else the IN-REPO binary-PNM parser
    and pure-numpy baseline-JPEG decoder. Raises on undecodable input
    (callers map that to a NULL row)."""
    if _have_pil():  # pragma: no cover - no PIL in test container
        import io

        import PIL.Image

        arr = np.asarray(PIL.Image.open(io.BytesIO(data)).convert("RGB"))
        return arr.astype(np.float64)
    if data[:2] in (b"P5", b"P6"):
        arr, _w, _h = _parse_pnm(data)
        return arr.astype(np.float64)
    return _decode_baseline_jpeg(data).astype(np.float64)


def resize_image(
    media: DataFrame, width: int, height: int, *, fake: bool = True
) -> DataFrame:
    """Thumbnail / model-input resize stage: decode → per-channel
    box-average resample to (height, width) → re-encode as binary PNM
    (P5 grayscale / P6 color — the container-decodable format, so the
    output is itself consumable by every downstream decode op).

    Real path (fake=False) runs REAL pixels in this container for PNM
    and baseline JPEG via the in-repo decoders (PIL first when
    installed); undecodable payloads yield a NULL data row, never a
    task failure. Container fallback (fake=True): a deterministic
    sha256-derived payload of the right PNM shape — exercises the
    plumbing (schema, batch shape, size metadata) without codecs.

    Arrow-batched mapInPandas like the other media stages; the resample
    cost is O(out_pixels) per image and the stage is embarrassingly
    parallel — repartition upstream if a single parquet file serialized
    the scan. Output: (media_id, data BINARY, width INT, height INT).
    """
    width, height = int(width), int(height)

    def _encode_pnm(arr: np.ndarray) -> bytes:
        a = np.clip(np.rint(arr), 0, 255).astype(np.uint8)
        if a.shape[2] == 1:
            return b"P5\n%d %d\n255\n" % (a.shape[1], a.shape[0]) + a[:, :, 0].tobytes()
        return b"P6\n%d %d\n255\n" % (a.shape[1], a.shape[0]) + a.tobytes()

    def _run(batches):
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data or b"")
                if fake:
                    seed = hashlib.sha256(raw).digest()
                    body = (seed * (width * height // len(seed) + 1))[: width * height]
                    rows.append(
                        (mid, b"P5\n%d %d\n255\n" % (width, height) + body,
                         width, height)
                    )
                    continue
                try:
                    px = _decode_pixels(raw)
                except (ValueError, IndexError, KeyError):
                    rows.append((mid, None, None, None))
                    continue
                planes = [
                    _box_resample(px[:, :, c], height, width)
                    for c in range(px.shape[2])
                ]
                out = np.stack(planes, axis=-1)
                rows.append((mid, _encode_pnm(out), width, height))
            yield pd.DataFrame(
                rows, columns=["media_id", "data", "width", "height"]
            )

    return media.select("media_id", "data").mapInPandas(
        _run, "media_id long, data binary, width int, height int"
    )


def phash64(media: DataFrame, *, fake: bool = True) -> DataFrame:
    """64-bit perceptual hash per media row → (media_id, phash BIGINT).

    Real path (fake=False): 8×8 grayscale average-hash — the standard
    aHash — over real pixels. Decode resolves PIL first (any format);
    without PIL, the IN-REPO decoders handle baseline JPEG
    (`_decode_baseline_jpeg`) and binary PNM (`_parse_pnm`), with an
    8×8 box-average resample — so real perceptual hashing runs in this
    container for those formats. Container fallback (fake=True): first
    60 bits of md5 of the HEX encoding of the raw bytes (hex because
    DuckDB's md5 only accepts VARCHAR, and Spark and DuckDB agree on
    hex's uppercase form — verified), which keeps every downstream
    stage — the banding join, the hamming verify, the oracle —
    bit-for-bit reproducible on any engine. The fake is labeled, not
    hidden: it exercises the plumbing, not perceptual quality.

    Pure column expression in the fake path (scan speed, no Python);
    the real path is an Arrow-batched mapInPandas like the other
    decoders; undecodable payloads yield NULL phash.
    """
    from pyspark.sql import functions as F

    if fake:
        return media.select(
            "media_id",
            F.conv(F.substring(F.md5(F.hex("data")), 1, 15), 16, 10)
            .cast("long")
            .alias("phash"),
        )
    use_pil = _have_pil()

    def _gray_pixels(data: bytes) -> np.ndarray:
        """(h, w) float64 grayscale plane, whatever decoder works."""
        if use_pil:  # pragma: no cover - no PIL in test container
            import io

            import PIL.Image

            return np.asarray(
                PIL.Image.open(io.BytesIO(data)).convert("L"), dtype=np.float64
            )
        if data[:2] in (b"P5", b"P6"):
            arr, _w, _h = _parse_pnm(data)
        else:
            arr = _decode_baseline_jpeg(data)
        arr = arr.astype(np.float64)
        if arr.shape[2] == 3:
            # BT.601 luma, matching PIL convert('L')
            return (
                0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
            )
        return arr[:, :, 0]

    def _box8(px: np.ndarray) -> np.ndarray:
        """8×8 box-average resample (shared `_box_resample`)."""
        return _box_resample(px, 8, 8)

    def _run(batches):
        for pdf in batches:
            hashes = []
            for data in pdf["data"]:
                try:
                    px = _gray_pixels(bytes(data or b""))
                except (ValueError, IndexError, KeyError):
                    hashes.append(None)
                    continue
                # ALWAYS resample to 8×8 — _box8's max(hi, lo+1) cell
                # slicing handles dimensions < 8 (cells repeat rows/
                # cols), and skipping it on small images would emit
                # h*w hash bits: > 64 bits overflows the long column
                # at Arrow conversion, < 64 breaks the 64-bit band
                # extraction in phash_dup_pairs.
                if px.shape != (8, 8):
                    px = _box8(px)
                bits = (px > px.mean()).flatten()
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # keep within signed 64-bit
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "phash": hashes}
            )

    return media.mapInPandas(_run, "media_id long, phash long")


def phash_dup_pairs(
    media: DataFrame,
    *,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits_per_band: int = 15,
    fake: bool = True,
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash hamming distance
    — the multimodal cousin of MinHash-LSH dedup, with the same
    pigeonhole guarantee: a pair within ``max_hamming`` ≤ n_bands − 1
    bit flips must agree on at least one band, so banding loses
    nothing (at the default 3 < 4). Blocking joins carry only
    (band_idx, band_value, media_id) longs; the hamming verify is
    bit_count(xor) — one instruction per candidate, JVM-side.

    Group-then-pair (the winnow_dup_pairs shape, not a self-join): one
    shuffle of the banded hashes, pairs emitted per bucket; a bucket
    with f members emits f(f-1)/2 candidates — buckets are 15-bit
    slices, so only true near-dup clusters grow large, and those ARE
    the output.

    Output: (media_a, media_b, hamming INT), hamming ≤ max_hamming.
    """
    from pyspark.sql import functions as F

    hashes = phash64(media, fake=fake)
    mask = (1 << bits_per_band) - 1
    banded = hashes.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.expr(
                            f"(phash >> {i * bits_per_band}) & {mask}L"
                        ).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("media_id", "phash", "b.band_idx", "b.band_val")
    buckets = banded.groupBy("band_idx", "band_val").agg(
        F.collect_list(F.struct("media_id", "phash")).alias("__ms__")
    )
    pairs = (
        buckets.select(F.explode("__ms__").alias("x"), "__ms__")
        .select("x", F.explode("__ms__").alias("y"))
        .filter(F.col("x.media_id") < F.col("y.media_id"))
        .select(
            F.col("x.media_id").alias("media_a"),
            F.col("y.media_id").alias("media_b"),
            F.bit_count(
                F.col("x.phash").bitwiseXOR(F.col("y.phash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# --------------------------------------------------------------------------
# Real decoders for dependency-free formats (stdlib + numpy only).
# WAV and PPM/PGM decode for real in any container; baseline JPEG
# decodes for real below (pure numpy — see decode_jpeg_stats).
# DECISION (round 6, closing the long-standing TODO): formats whose
# decode is pure bit-plumbing over public specs (PNM, WAV, baseline
# JFIF) get real in-repo decoders — they exercise the whole
# mapInPandas pipeline with real pixels in any container; formats
# whose decode is codec-LIBRARY work (progressive JPEG, MP3, H.264)
# stay behind the labeled NotImplementedError gates + deterministic
# fake twins, because a hand-rolled entropy/DSP stack would be
# test-quality liability, not capability — a deployment drops in
# PIL/ffmpeg via the same fake=False seam.
# --------------------------------------------------------------------------

def _parse_pnm(data: bytes):
    """Pure-python P5 (PGM) / P6 (PPM) parser → (h, w, channels) uint8
    numpy array. Binary PNM is a whitespace-tokenized header (magic,
    width, height, maxval, with '#' comments) followed by raw samples."""
    if not data or data[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        tokens.append(data[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval > 255:
        raise ValueError("16-bit PNM not supported")
    c = 3 if data[:2] == b"P6" else 1
    arr = np.frombuffer(data, dtype=np.uint8, count=w * h * c, offset=i)
    return arr.reshape(h, w, c), w, h


def decode_ppm_stats(media: DataFrame) -> DataFrame:
    """REAL image decode for binary PGM/PPM payloads — no codec
    library needed, so this path runs in any container: width/height
    from the parsed header, per-channel means as exact integer pixel
    sums divided by (pixels · 255), floored at 6dp (engine-stable).
    Output: (media_id, width, height, mean ARRAY<DOUBLE>); non-PNM
    payloads yield NULL dimensions (route them to the codec stages).
    """

    def _run(batches):
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    arr, w, h = _parse_pnm(bytes(data or b""))
                except ValueError:
                    rows.append((mid, None, None, None))
                    continue
                sums = arr.astype(np.int64).sum(axis=(0, 1))
                denom = w * h * 255
                mean = [
                    float(np.floor(s * 1_000_000 // denom) / 1_000_000)
                    for s in sums
                ]
                rows.append((mid, w, h, mean))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "mean"]
            )

    return media.select("media_id", "data").mapInPandas(
        _run, "media_id long, width int, height int, mean array<double>"
    )


def decode_wav_stats(media: DataFrame) -> DataFrame:
    """REAL audio decode for WAV payloads via the stdlib ``wave``
    module: sample rate, channel count, frame count, duration, and the
    RMS amplitude (int16/int8 samples; exact integer sum of squares,
    sqrt floored at 6dp). Output: (media_id, sample_rate, n_channels,
    n_frames, duration_s, rms); undecodable payloads yield NULLs.
    """

    def _run(batches):
        import io
        import wave

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    wf = wave.open(io.BytesIO(bytes(data or b"")))
                    sr = wf.getframerate()
                    nch = wf.getnchannels()
                    nfr = wf.getnframes()
                    width = wf.getsampwidth()
                    raw = wf.readframes(nfr)
                except Exception:
                    rows.append((mid, None, None, None, None, None))
                    continue
                if width == 2:
                    x = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                elif width == 1:
                    x = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
                else:
                    rows.append((mid, sr, nch, nfr, None, None))
                    continue
                dur = float(np.floor(nfr * 1_000_000 // sr) / 1_000_000) if sr else None
                rms = (
                    float(np.floor(np.sqrt((x * x).sum() / len(x)) * 1_000_000) / 1_000_000)
                    if len(x)
                    else 0.0
                )
                rows.append((mid, sr, nch, nfr, dur, rms))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_channels",
                    "n_frames", "duration_s", "rms",
                ],
            )

    return media.select("media_id", "data").mapInPandas(
        _run,
        "media_id long, sample_rate int, n_channels int, n_frames bigint, "
        "duration_s double, rms double",
    )


# --------------------------------------------------------------------------
# Baseline JPEG: a real pure-numpy decoder (ITU-T T.81 baseline
# sequential DCT, JFIF color). No codec library — the entropy coding
# is canonical Huffman over stuffed bytes and the transform is an 8x8
# IDCT, both exactly spec'd; this is bit-plumbing, not DSP guesswork,
# so it qualifies for a real in-repo decoder under the decision above.
# Progressive / arithmetic / 12-bit / lossless JPEG are rejected with
# a clear error (use the PIL seam).
# --------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal 8-point DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16)
DCT_A = np.array([
    [((1 / np.sqrt(2)) if u == 0 else 1.0) / 2.0
     * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])


class _HuffTable:
    """Canonical Huffman table from DHT counts+symbols: decode walks
    code-by-code using the per-length first-code/first-index arrays
    (T.81 F.2.2.3), O(length) per symbol with no tree allocation."""

    def __init__(self, counts, symbols):
        self.maxcode = [-1] * 17
        self.mincode = [0] * 17
        self.valptr = [0] * 17
        self.symbols = symbols
        code = 0
        k = 0
        for length in range(1, 17):
            n = counts[length - 1]
            self.valptr[length] = k
            self.mincode[length] = code
            code += n
            k += n
            self.maxcode[length] = code - 1 if n else -1
            code <<= 1

    def decode(self, br):
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            if self.maxcode[length] >= 0 and code <= self.maxcode[length]:
                if code >= self.mincode[length]:
                    return self.symbols[
                        self.valptr[length] + code - self.mincode[length]
                    ]
        raise ValueError("invalid Huffman code in JPEG stream")


class _BitReader:
    """MSB-first bit reader over entropy-coded bytes with 0xFF00
    unstuffing and RSTn awareness (T.81 F.2.2.5)."""

    def __init__(self, data, pos):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = (
                    self.data[self.pos + 1]
                    if self.pos + 1 < len(self.data)
                    else 0x00
                )
                if nxt == 0x00:
                    self.pos += 2  # stuffed 0xFF00 -> literal 0xFF byte
                else:
                    # a real marker: do NOT consume it; the spec pads the
                    # tail of the entropy segment with 1-bits (F.2.2.5)
                    b = 0xFF
            else:
                self.pos += 1
            self.bits = b
            self.nbits = 8
        return self._pop()

    def _pop(self) -> int:
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_expect_rst(self) -> None:
        self.nbits = 0
        d = self.data
        if (
            self.pos + 1 < len(d)
            and d[self.pos] == 0xFF
            and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
            return
        raise ValueError("expected restart marker in JPEG stream")


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _decode_baseline_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline sequential JFIF payload to an (h, w, c) uint8
    array (c = 1 grayscale or 3 RGB via BT.601 full-range YCbCr).
    Supports 4:4:4 / 4:2:2 / 4:2:0 subsampling and restart intervals;
    raises ValueError for non-baseline frames (progressive SOF2 etc.)."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(data[i : i + 2], "big")
        seg = data[i + 2 : i + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    tbl = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                qt[tq] = tbl
        elif marker in (0xC0, 0xC1):  # SOF0/1: baseline (extended) sequential
            precision = seg[0]
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "non-baseline JPEG (progressive/arithmetic/lossless); "
                "route through the PIL seam (fake=False decoders)"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                symbols = list(seg[p + 17 : p + 17 + n])
                huff[(tc, th)] = _HuffTable(counts, symbols)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tables = seg[1 + 2 * si], seg[2 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tables >> 4, tables & 0xF))
            return _decode_scan(
                data, i + seglen, frame, scan, qt, huff, restart_interval
            )
        i += seglen
    raise ValueError("no JPEG scan data found")


def _decode_scan(data, pos, frame, scan, qt, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    comps = [s[0] for s in scan]
    maxh = max(c["h"] for c in comps)
    maxv = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * maxh, 8 * maxv
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    br = _BitReader(data, pos)
    pred = [0] * len(comps)
    A = DCT_A
    coef = np.zeros(64, dtype=np.int64)
    n_mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                br.align_and_expect_rst()
                pred = [0] * len(comps)
            for ci, (comp, dc_id, ac_id) in enumerate(scan):
                dct = huff[(0, dc_id)]
                act = huff[(1, ac_id)]
                q = qt[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coef[:] = 0
                        t = dct.decode(br)
                        diff = _extend(br.receive(t), t) if t else 0
                        pred[ci] += diff
                        coef[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = act.decode(br)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            coef[k] = _extend(br.receive(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = coef * q
                        spatial = A.T @ block.reshape(8, 8) @ A + 128.0
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            n_mcu += 1
    out = []
    for ci, comp in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, maxv // comp["v"], axis=0), maxh // comp["h"], axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        rgb = out[0][:, :, None]
    else:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        rgb = np.stack(
            [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
            axis=2,
        )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg_stats(media: DataFrame) -> DataFrame:
    """REAL baseline-JPEG decode (pure numpy, `_decode_baseline_jpeg`):
    width/height from the frame header, per-channel means over the
    decoded pixels (floored at 6dp, engine-stable like
    `decode_ppm_stats`). Output: (media_id, width, height,
    mean ARRAY<DOUBLE>); undecodable / non-baseline payloads yield
    NULL dimensions (route those through the PIL seam)."""

    def _run(batches):
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    arr = _decode_baseline_jpeg(bytes(data or b""))
                except (ValueError, IndexError, KeyError, StopIteration):
                    rows.append((mid, None, None, None))
                    continue
                hh, ww, _c = arr.shape
                sums = arr.astype(np.int64).sum(axis=(0, 1))
                denom = hh * ww * 255
                mean = [
                    float(np.floor(s * 1_000_000 // denom) / 1_000_000)
                    for s in sums
                ]
                rows.append((mid, ww, hh, mean))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "mean"]
            )

    return media.select("media_id", "data").mapInPandas(
        _run, "media_id long, width int, height int, mean array<double>"
    )
