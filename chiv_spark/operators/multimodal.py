"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
a typed metadata struct. The Spark-side plumbing — schema, Arrow batch
shape, ``mapInPandas`` signature, partition sizing — is real and
tested. PNG decode/resize is REAL (pure-stdlib codec,
chiv_spark.formats.png), WAV/PCM16 audio decode is REAL since r6
(chiv_spark.formats.wav — stdlib ``wave`` + struct, sample-exact
features oracle-verified), and baseline grayscale JPEG is REAL since
r6 too (chiv_spark.formats.jpeg — pure-Python+numpy: markers,
canonical Huffman, DC prediction, byte stuffing, dequant + IDCT).
Baseline JPEG covers 4:4:4 color too, and the video modality decodes
for real via animated GIF89a (chiv_spark.formats.gif — true
variable-width LZW). Formats genuinely needing native libraries
absent from this container (WebP, progressive/subsampled JPEG,
H.264-class video codecs) raise ``NotImplementedError`` or fall back
to a clearly-marked deterministic fake.

Feature extraction runs as Arrow-batched ``mapInPandas`` (one Python
worker per partition, no per-row overhead) over the partitions it is
given; only the two pure-Python LZW round trips (GIF frames, video
samples) hash-spread their id lists over the cores first.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# metadata struct carried alongside every media payload
MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image/audio/video
        T.StructField("format", T.StringType()),  # png/jpeg/wav/...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha_prefix", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an image payload to (width, height, channels, raw pixels).

    PNG decodes for real via the pure-stdlib codec
    (chiv_spark.formats.png — zlib inflate + per-spec unfiltering),
    and baseline grayscale JPEG decodes for real since r6
    (chiv_spark.formats.jpeg — markers, canonical Huffman, dequant +
    IDCT). Remaining formats (WebP, progressive/color JPEG) raise —
    a documented limit, not a stub.
    """
    from chiv_spark.formats.jpeg import decode_jpeg, is_jpeg
    from chiv_spark.formats.png import decode_png, is_png

    if is_png(payload):
        return decode_png(payload)
    if is_jpeg(payload):
        px = decode_jpeg(payload)
        ch = 1 if px.ndim == 2 else px.shape[2]
        return px.shape[1], px.shape[0], ch, px.tobytes()
    raise NotImplementedError(
        "PNG and baseline JPEG (grayscale + 4:4:4 color) decode here; "
        "WebP/progressive/subsampled need native codecs"
    )


def extract_features(media: DataFrame, batch_hint: int = 64) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: one Python worker per partition, payloads arrive
    as Arrow binary arrays — the scale-correct shape for media UDFs.
    """

    # IMPORTANT: the closure must be self-contained (only stdlib +
    # pandas imports inside) — any reference to a chiv_spark symbol
    # makes cloudpickle serialize it by module reference, and Python
    # workers then need `import chiv_spark` to succeed, which breaks
    # when the driver runs from outside the repo root.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        def feat(payload: bytes, dim: int = 8) -> list[float]:
            out: list[float] = []
            h = payload
            for i in range(dim):
                h = hashlib.md5(h + bytes([i])).digest()
                out.append(int.from_bytes(h[:8], "big") / 2**64)
            return out

        for pdf in batches:
            payloads = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha_prefix": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()[:16]
                    ),
                    "feature": payloads.map(lambda b: feat(bytes(b))),
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
        T.StructField("offset_bytes", T.LongType()),
    ]
)


def resize_images(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Arrow-batched image resize over binary payloads.

    PNG payloads take the REAL path: pure-stdlib decode (zlib inflate,
    per-spec unfiltering), numpy nearest-neighbor resample, re-encode
    — output rows carry a valid PNG of the target size. Non-PNG
    payloads (the synthetic text-bytes corpus, JPEG without native
    codecs) fall back to a deterministic byte slice so mixed pipelines
    still run end-to-end; the split is per-row, not per-job."""
    from chiv_spark.pyship import ensure_shipped

    # the closure imports chiv_spark.formats.png on the worker — ship
    # the package so the import works from any driver cwd
    ensure_shipped(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from chiv_spark.formats.png import is_png, resize_png

        fake_target = width * height // 64

        def one(b: bytes) -> bytes:
            raw = bytes(b)
            if is_png(raw):
                return resize_png(raw, width, height)
            return raw[: max(1, min(len(raw), fake_target))]

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": pdf["payload"].map(one),
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled
    frame (uniform offsets into the payload as the deterministic
    stand-in for decoded frames)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = {"media_id": [], "frame_index": [], "frame_payload": [], "offset_bytes": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                step = max(1, len(raw) // n_frames)
                for i in range(n_frames):
                    off = min(i * step, max(0, len(raw) - 1))
                    out["media_id"].append(mid)
                    out["frame_index"].append(i)
                    out["frame_payload"].append(raw[off : off + 16])
                    out["offset_bytes"].append(off)
            yield _pd.DataFrame(out)

    return media.mapInPandas(run, FRAME_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents corpus (text → utf-8
    payload) — a deterministic fake corpus exercising the binary
    plumbing end-to-end."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("fake").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)

AUDIO_RATE = 16000


def synth_audio(ids: DataFrame, rate: int = AUDIO_RATE) -> DataFrame:
    """Deterministic WAV corpus: for each ``media_id``, REAL PCM16 WAV
    bytes (RIFF header + frames via the stdlib codec) whose samples
    are a pure function of (id, t) through the engine's md5-derived
    hash — so an oracle can reproduce the sample stream in closed
    form without parsing WAV. n_samples varies by id (800 + (id%5)
    *160) to exercise variable-length payloads."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        from chiv_spark.formats.wav import encode_wav

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def synth(mid: int) -> bytes:
            n = 800 + (mid % 5) * 160
            samples = [
                (h64(f"aud:{mid}:{t}") % 65536) - 32768 for t in range(n)
            ]
            return encode_wav(samples, rate)

        for pdf in batches:
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": pdf["media_id"].map(synth)}
            )

    return ids.select("media_id").mapInPandas(run, AUDIO_SCHEMA)


def audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode + feature extraction: each payload's RIFF
    framing and PCM16 frames are parsed by the stdlib codec on the
    executors (Arrow-batched mapInPandas), yielding sample-exact
    integer features (peak amplitude, energy sum) plus duration —
    the audio analog of the PNG decode path. Any header or sample
    corruption surfaces as an oracle mismatch, not a silent skip."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from chiv_spark.formats.wav import decode_wav

        def feats(payload: bytes):
            rate, _ch, samples = decode_wav(bytes(payload))
            n = len(samples)
            return (
                rate,
                n,
                n * 1000 // rate,
                max((abs(s) for s in samples), default=0),
                sum(s * s for s in samples),
            )

        for pdf in batches:
            rows = [feats(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [r[0] for r in rows],
                    "n_samples": [r[1] for r in rows],
                    "duration_ms": [r[2] for r in rows],
                    "peak": [r[3] for r in rows],
                    "sum_sq": [r[4] for r in rows],
                }
            )

    return media.mapInPandas(run, AUDIO_FEATURE_SCHEMA)


JPEG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.LongType()),
        T.StructField("px_max", T.LongType()),
    ]
)


def jpeg_roundtrip_features(ids: DataFrame, blocks: int = 4) -> DataFrame:
    """REAL JPEG encode→decode on the executors: per media_id, a
    32×32 grayscale image of uniform 8×8 blocks (block values are an
    EVEN-valued pure hash function of (id, bx, by) — even keeps the
    quantized DC exactly representable, so the lossy codec is
    value-exact on these inputs and a closed-form oracle can verify
    the decoded pixels). The full baseline bitstream is exercised:
    markers, DHT canonical Huffman, DC prediction across blocks,
    byte stuffing, dequant + IDCT."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np
        import pandas as _pd

        from chiv_spark.formats.jpeg import decode_jpeg, encode_jpeg

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def one(mid: int):
            img = np.zeros((blocks * 8, blocks * 8), dtype=np.uint8)
            for by in range(blocks):
                for bx in range(blocks):
                    v = 2 * (h64(f"jpg:{mid}:{bx}:{by}") % 128)
                    img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
            dec = decode_jpeg(encode_jpeg(img))
            return (
                dec.shape[1],
                dec.shape[0],
                int(dec.astype(np.int64).sum()),
                int(dec.min()),
                int(dec.max()),
            )

        for pdf in batches:
            rows = [one(int(m)) for m in pdf["media_id"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "px_sum": [r[2] for r in rows],
                    "px_min": [r[3] for r in rows],
                    "px_max": [r[4] for r in rows],
                }
            )

    return ids.select("media_id").mapInPandas(run, JPEG_FEATURE_SCHEMA)


GIF_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("first_px", T.LongType()),
        T.StructField("last_px", T.LongType()),
        T.StructField("px_sum", T.LongType()),
    ]
)


def gif_frame_features(ids: DataFrame, n_frames: int = 4, w: int = 16, h: int = 12) -> DataFrame:
    """REAL animated-GIF round trip on the executors — the video
    modality's decode path: per media_id a multi-frame GIF89a is
    encoded (real LZW, block framing) and decoded back, one output
    row per frame. Frame f's pixel p is ``(v + p) % 256`` with
    ``v = hash(id, f) % 256`` — a ramp, so the LZW actually
    compresses structure and a closed-form oracle can verify every
    decoded pixel's sum without parsing GIF."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        from chiv_spark.formats.gif import decode_gif, encode_gif

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        npx = w * h

        def one(mid: int):
            frames = []
            for f in range(n_frames):
                v = h64(f"gif:{mid}:{f}") % 256
                frames.append(bytes((v + p) % 256 for p in range(npx)))
            _, _, _, dec = decode_gif(encode_gif(frames, w, h))
            rows = []
            for f, fr in enumerate(dec):
                rows.append(
                    (mid, f, len(fr), fr[0], fr[-1], sum(fr))
                )
            return rows

        for pdf in batches:
            rows = [r for m in pdf["media_id"] for r in one(int(m))]
            yield _pd.DataFrame(
                {
                    "media_id": [r[0] for r in rows],
                    "frame_index": [r[1] for r in rows],
                    "n_px": [r[2] for r in rows],
                    "first_px": [r[3] for r in rows],
                    "last_px": [r[4] for r in rows],
                    "px_sum": [r[5] for r in rows],
                }
            )

    # The pure-Python LZW round trip costs ~50-100 ms per id, but a
    # bounded id list arrives in O(1) scan tasks (r17: all 60 clips
    # decoded in ONE worker while 31 cores idled), so hash-spread the
    # ids over the cores: 2-3 s saved per row at sf0.1. The cheap
    # codecs (~1 ms/row) read their ids as scanned; there the
    # exchange cost more than it saved (+0.5-1.8 s per row).
    return (
        ids.select("media_id")
        .repartition(ids.sparkSession.sparkContext.defaultParallelism, "media_id")
        .mapInPandas(run, GIF_FRAME_SCHEMA)
    )


VIDEO_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("first_px", T.LongType()),
        T.StructField("px_sum", T.LongType()),
    ]
)

#: synthetic video near-dup structure (the image-dHash corpus design on
#: the time axis): clips in the same ``media_id % VID_GROUPS`` group
#: share hash-derived per-frame base values and differ by a small
#: per-clip brightness offset — non-verbatim near-dups (different GIF
#: bytes, same temporal content). Shared as literals with the oracle.
VID_GROUPS = 12
VID_BRIGHT_MOD = 8


def video_frame_sample(
    ids: DataFrame,
    n_frames: int = 12,
    stride: int = 3,
    ms_per_frame: int = 100,
    w: int = 16,
    h: int = 12,
    group_mod: int | None = None,
    bright_mod: int = VID_BRIGHT_MOD,
) -> DataFrame:
    """Temporal FRAME SAMPLING over the video modality — the
    training-data-pipeline op that turns a clip into a bounded set
    of frames: per media_id an ``n_frames``-frame animated GIF89a is
    encoded and decoded on the executors (the same real LZW codec
    path as :func:`gif_frame_features`), then every ``stride``-th
    frame is emitted with its timestamp (``frame_index *
    ms_per_frame`` at the container's fixed frame cadence) and
    integer pixel features. GIF has no keyframe index, so decoding
    the full LZW stream before sampling is the honest cost model for
    this container; a seekable codec would decode only sampled
    GOPs — that seek belongs in the codec layer, the Spark plumbing
    (one Arrow-batched mapInPandas, rows = ceil(n_frames / stride)
    per clip) is identical either way.

    With ``group_mod`` set, the synthetic pixel stream gains near-dup
    structure for the video dedup chain: frame base values come from
    the clip's GROUP id (``media_id % group_mod``) and every pixel is
    shifted by a per-clip brightness offset (mod-256 wrap) — the
    image-dHash corpus design applied per frame, so same-group clips
    are perceptual near-dups with byte-distinct GIF payloads."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        from chiv_spark.formats.gif import decode_gif, encode_gif

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        npx = w * h

        def one(mid: int):
            if group_mod is None:
                vid, delta = mid, 0
            else:
                vid = mid % group_mod
                delta = h64(f"vbright:{mid}") % bright_mod
            frames = []
            for f in range(n_frames):
                v = (h64(f"vid:{vid}:{f}") + delta) % 256
                frames.append(bytes((v + p) % 256 for p in range(npx)))
            _, _, _, dec = decode_gif(encode_gif(frames, w, h))
            return [
                (mid, f, f * ms_per_frame, len(fr), fr[0], sum(fr))
                for f, fr in enumerate(dec)
                if f % stride == 0
            ]

        for pdf in batches:
            rows = [r for m in pdf["media_id"] for r in one(int(m))]
            yield _pd.DataFrame(
                {
                    "media_id": [r[0] for r in rows],
                    "frame_index": [r[1] for r in rows],
                    "ts_ms": [r[2] for r in rows],
                    "n_px": [r[3] for r in rows],
                    "first_px": [r[4] for r in rows],
                    "px_sum": [r[5] for r in rows],
                }
            )

    # the same id spread as gif_frame_features' LZW round trip
    return (
        ids.select("media_id")
        .repartition(ids.sparkSession.sparkContext.defaultParallelism, "media_id")
        .mapInPandas(run, VIDEO_SAMPLE_SCHEMA)
    )


def png_resize_features(
    ids: DataFrame,
    src_w: int = 16,
    src_h: int = 12,
    dst_w: int = 8,
    dst_h: int = 6,
) -> DataFrame:
    """REAL PNG resize round-trip on the executors: per media_id a
    grayscale src_w×src_h ramp image (pixel(x,y) = (v0 + 7x + 13y)
    mod 256 with v0 a pure hash of the id) is PNG-encoded, resized
    with :func:`formats.png.resize_png` (decode → numpy nearest-
    neighbor → re-encode), decoded again, and reduced to integer
    pixel features. Nearest-neighbor picks source index
    floor(i*src/dst), so with src=2×dst the sampled pixels are the
    even-coordinate ramp values — closed-form in SQL. The whole
    encode/zlib/filter/decode/resize/encode/decode chain runs inside
    Arrow-batched mapInPandas; any filter, inflate, or resampling
    defect surfaces as a value mismatch against the oracle."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np
        import pandas as _pd

        from chiv_spark.formats.png import decode_png, encode_png, resize_png

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def one(mid: int):
            v0 = h64(f"png:{mid}") % 256
            ys, xs = np.mgrid[0:src_h, 0:src_w]
            img = ((v0 + 7 * xs + 13 * ys) % 256).astype(np.uint8)
            resized = resize_png(encode_png(src_w, src_h, 1, img.tobytes()), dst_w, dst_h)
            w, h, ch, raw = decode_png(resized)
            px = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
            return (w, h, int(px.sum()), int(px.min()), int(px.max()))

        for pdf in batches:
            rows = [one(int(m)) for m in pdf["media_id"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "px_sum": [r[2] for r in rows],
                    "px_min": [r[3] for r in rows],
                    "px_max": [r[4] for r in rows],
                }
            )

    return ids.select("media_id").mapInPandas(run, JPEG_FEATURE_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)

#: dHash grid: images resize to DHASH_W x DHASH_H, each row yields
#: DHASH_W-1 adjacent-pixel comparisons -> (DHASH_W-1)*DHASH_H = 60
#: bits, matching the SimHash Hamming-chunk join's 4x15-bit layout
DHASH_W = 11
DHASH_H = 6
#: synthetic near-dup structure: ids in the same group share base
#: pixels and differ only by a small per-id brightness offset
DHASH_GROUPS = 12
DHASH_BRIGHT_MOD = 8


def image_dhash(
    ids: DataFrame,
    groups: int = DHASH_GROUPS,
    dst_w: int = DHASH_W,
    dst_h: int = DHASH_H,
) -> DataFrame:
    """60-bit perceptual difference-hash (dHash) per image via the
    REAL PNG codec path on the executors: per media_id a grayscale
    2*dst_w × 2*dst_h source image is PNG-encoded, resized with
    :func:`formats.png.resize_png` (decode → numpy nearest-neighbor →
    re-encode), decoded again, and hashed — bit (y*(w-1)+x) is set
    iff pixel(x,y) > pixel(x+1,y) on the resized grid. dHash is the
    image analog of SimHash: brightness shifts, gamma tweaks, and
    re-encodes barely move it, so Hamming-close signatures mean
    perceptually-duplicate images.

    Synthetic corpus structure (the image libs for real photos are
    not in this container; the CODEC path is real): ids in the same
    ``media_id % groups`` group share hash-derived base pixels and
    differ by a per-id brightness offset — a NON-verbatim near-dup
    (different bytes, same perceptual content), the image twin of the
    suffix-varied text clusters. Brightness shifts flip a comparison
    only at the mod-256 wrap, so same-group signatures sit a few bits
    apart and different groups are ~30 bits apart.

    Nearest-neighbor at exactly 2× picks source index 2i, so the
    resized grid equals the even-coordinate source pixels — the
    closed form the DuckDB oracle computes without a codec (the
    multimodal_jpeg_features oracle pattern). Any PNG filter,
    inflate, or resample defect surfaces as a signature mismatch."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)
    src_w, src_h = 2 * dst_w, 2 * dst_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np
        import pandas as _pd

        from chiv_spark.formats.png import decode_png, encode_png, resize_png

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        base_cache: dict[int, "np.ndarray"] = {}

        def base(gid: int) -> "np.ndarray":
            if gid not in base_cache:
                px = np.array(
                    [
                        [h64(f"img:{gid}:{x}:{y}") % 256 for x in range(src_w)]
                        for y in range(src_h)
                    ],
                    dtype=np.int64,
                )
                base_cache[gid] = px
            return base_cache[gid]

        def one(mid: int) -> int:
            delta = h64(f"bright:{mid}") % DHASH_BRIGHT_MOD
            img = ((base(mid % groups) + delta) % 256).astype(np.uint8)
            resized = resize_png(
                encode_png(src_w, src_h, 1, img.tobytes()), dst_w, dst_h
            )
            w, h, _ch, raw = decode_png(resized)
            grid = np.frombuffer(raw, dtype=np.uint8).reshape(h, w).astype(np.int64)
            bits = grid[:, :-1] > grid[:, 1:]  # (h, w-1) comparisons
            weights = 1 << (
                np.arange(h * (w - 1), dtype=np.int64).reshape(h, w - 1)
            )
            return int((bits * weights).sum())

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": [one(int(m)) for m in pdf["media_id"]],
                }
            )

    return ids.select("media_id").mapInPandas(run, DHASH_SCHEMA)


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("is_active", T.BooleanType()),
    ]
)

#: voice-activity threshold on per-frame energy (sum of squared PCM16
#: samples over a 160-sample / 10 ms frame). Uniform hash samples
#: average ~ 160 * 32768^2 / 3 ~ 5.7e10 per frame, so this splits
#: frames into a deterministic active/inactive mix.
AUDIO_VAD_THRESHOLD = 56_000_000_000


def audio_frame_energy(media: DataFrame, frame: int = 160) -> DataFrame:
    """Audio frame sampling + VAD-style energy gating: each REAL
    PCM16 WAV payload is decoded by the stdlib RIFF codec on the
    executors, split into fixed 160-sample (10 ms @ 16 kHz) frames,
    and reduced to one row per frame with its exact integer energy
    (sum of squared samples) and an activity flag — the
    frame-sample-for-audio analog of gif_frame_features, and the
    primitive a speech pipeline's silence-trimming pass runs at
    corpus scale. Arrow-batched mapInPandas; frame rows explode
    payload-bounded (n_samples/frame per media), never corpus²."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from chiv_spark.formats.wav import decode_wav

        thr = AUDIO_VAD_THRESHOLD

        def frames(mid: int, payload: bytes):
            _rate, _ch, samples = decode_wav(bytes(payload))
            out = []
            for i in range(0, len(samples), frame):
                chunk = samples[i : i + frame]
                e = sum(s * s for s in chunk)
                out.append((mid, i // frame, len(chunk), e, e >= thr))
            return out

        for pdf in batches:
            rows = [
                r
                for mid, p in zip(pdf["media_id"], pdf["payload"])
                for r in frames(int(mid), p)
            ]
            yield _pd.DataFrame(
                {
                    "media_id": [r[0] for r in rows],
                    "frame_index": [r[1] for r in rows],
                    "n_samples": [r[2] for r in rows],
                    "energy": [r[3] for r in rows],
                    "is_active": [r[4] for r in rows],
                }
            )

    return media.mapInPandas(run, AUDIO_FRAME_SCHEMA)


CROP_CHANNEL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.LongType()),
        T.StructField("px_max", T.LongType()),
    ]
)


def png_crop_rgb_features(
    ids: DataFrame,
    src_w: int = 16,
    src_h: int = 12,
    crop_w: int = 8,
    crop_h: int = 6,
) -> DataFrame:
    """REAL color-PNG center-crop on the executors: per media_id an
    RGB src_w×src_h ramp (pixel(x,y,c) = (v0 + 7x + 13y + 97c) mod
    256) is PNG-encoded (3-channel, per-spec filtering), decoded,
    center-cropped to crop_w×crop_h, and reduced to per-CHANNEL
    integer stats — the crop + channel-statistics primitive of an
    image-preprocessing pipeline, and the query-tier exercise of the
    3-channel codec path (resize covers grayscale). Arrow-batched
    mapInPandas, one output row per (media, channel)."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np
        import pandas as _pd

        from chiv_spark.formats.png import decode_png, encode_png

        x0 = (src_w - crop_w) // 2
        y0 = (src_h - crop_h) // 2

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def one(mid: int):
            v0 = h64(f"pngc:{mid}") % 256
            ys, xs, cs = np.mgrid[0:src_h, 0:src_w, 0:3]
            img = ((v0 + 7 * xs + 13 * ys + 97 * cs) % 256).astype(np.uint8)
            w, h, ch, raw = decode_png(encode_png(src_w, src_h, 3, img.tobytes()))
            arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch)
            crop = arr[y0 : y0 + crop_h, x0 : x0 + crop_w].astype(np.int64)
            return [
                (mid, c, int(crop[:, :, c].sum()), int(crop[:, :, c].min()), int(crop[:, :, c].max()))
                for c in range(3)
            ]

        for pdf in batches:
            rows = [r for m in pdf["media_id"] for r in one(int(m))]
            yield _pd.DataFrame(
                {
                    "media_id": [r[0] for r in rows],
                    "channel": [r[1] for r in rows],
                    "px_sum": [r[2] for r in rows],
                    "px_min": [r[3] for r in rows],
                    "px_max": [r[4] for r in rows],
                }
            )

    return ids.select("media_id").mapInPandas(run, CROP_CHANNEL_SCHEMA)


# ------------------------------------------------ audio fingerprinting

AFP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("afp", T.LongType()),
    ]
)

#: audio fingerprint frame layout: AFP_FRAMES frames of AFP_FRAME
#: samples -> AFP_FRAMES-1 = 60 adjacent-frame energy comparisons,
#: matching the SimHash/dHash Hamming-chunk join's 4x15-bit layout
AFP_FRAME = 16
AFP_FRAMES = 61
#: synthetic near-dup structure (the image dHash brightness pattern,
#: on audio): clips in the same group share the base sample stream
#: and differ by a per-clip additive gain offset (mod-65536 wrap) —
#: measured at gain 3000: same-group Hamming spreads 0..7, so the
#: <=3 pair set is a strict, non-verbatim subset (89 of 120
#: same-group pairs) and no cross-group pair collides
AFP_GROUPS = 12
AFP_GAIN_MOD = 3000


def synth_audio_fp(ids: DataFrame, rate: int = AUDIO_RATE) -> DataFrame:
    """Deterministic near-dup WAV corpus for fingerprint dedup: for
    each ``media_id``, REAL PCM16 WAV bytes whose samples are the
    GROUP's hash stream (group = media_id % AFP_GROUPS) shifted by a
    per-clip gain offset with unsigned wrap — same closed-form the
    oracle replays without parsing WAV, while the engine round-trips
    real RIFF/PCM16 bytes through the stdlib codec."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(ids.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        from chiv_spark.formats.wav import encode_wav

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        n = AFP_FRAME * AFP_FRAMES

        def synth(mid: int) -> bytes:
            g = mid % AFP_GROUPS
            d = h64(f"afpgain:{mid}") % AFP_GAIN_MOD
            samples = [
                (((h64(f"afp:{g}:{t}") % 65536) + d) % 65536) - 32768
                for t in range(n)
            ]
            return encode_wav(samples, rate)

        for pdf in batches:
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": pdf["media_id"].map(synth)}
            )

    return ids.select("media_id").mapInPandas(run, AUDIO_SCHEMA)


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """60-bit audio fingerprint per clip via the REAL codec path: each
    payload's RIFF framing and PCM16 frames are parsed by the stdlib
    codec on the executors (Arrow-batched mapInPandas), split into
    AFP_FRAME-sample frames, and reduced to adjacent-frame energy
    comparisons — bit i = 1 iff energy(frame i) > energy(frame i+1),
    the dHash-over-time a shazam-style audio dedup runs. Exact
    integer end to end (energies are sums of squared PCM16 samples),
    so the fingerprint — hence the downstream pigeonhole pair set —
    is bit-reproducible in closed form by the oracle. Returns
    (media_id, afp)."""
    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from chiv_spark.formats.wav import decode_wav

        def fp(payload: bytes) -> int:
            _rate, _ch, samples = decode_wav(bytes(payload))
            e = [
                sum(s * s for s in samples[i * AFP_FRAME : (i + 1) * AFP_FRAME])
                for i in range(len(samples) // AFP_FRAME)
            ]
            v = 0
            for i in range(min(len(e) - 1, 60)):
                if e[i] > e[i + 1]:
                    v |= 1 << i
            return v

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "afp": [fp(p) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(run, AFP_SCHEMA)
