"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern (north-star surface): media travels as a ``binary`` column
with a metadata struct; decode / feature-extract / resize / frame-
sample run as Arrow-batched pandas functions over ``mapInPandas`` so
the Python boundary is per-batch, not per-row, and each partition
streams its batches — nothing accumulates on the driver.

The container has no image/audio libraries, so the codecs are
implemented here from the public format specs: uncompressed BMP,
compressed PNG (DEFLATE + all five scanline filters), RIFF/WAVE
16-bit PCM, baseline-sequential JPEG (sources/jpeg.py — Huffman +
DCT, 4:4:4/4:2:0, restart markers), GIF (sources/gif.py — LZW,
interlace, animations), lossless WebP (sources/webp.py — the full
VP8L bitstream, certified two-sided against libwebp), and FLAC
(sources/flac.py — Rice + fixed/LPC predictors). Lossy WebP / AV1 /
inter-predicted video decode remains a documented
NotImplementedError slot (``codec='pil'``). The Spark-side
plumbing — schema, batch iteration, partitioning — is oracle-tested
(byte length + md5 + codec roundtrip booleans are verifiable in SQL).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import index_store

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, "
    "meta_source string, meta_n_bytes long"
)

FEATURE_SCHEMA = "doc_id long, n_bytes long, payload_md5 string, feature_dim long"


def _widen(df: DataFrame) -> DataFrame:
    """Widen a narrow input to core count before a CPU-bound Python
    stage. A media scan's parallelism is set by file/row-group layout
    (bytes), but the cost downstream is per-row Python — a single-
    row-group parquet file would otherwise run the whole decode on one
    task (measured: the sf0.1 documents scan is 1 partition). No-op
    whenever the input is already at least core-wide, which is every
    real-cluster scan, so no shuffle is added at scale; locally the
    round-robin exchange of a few MB buys a 32-way Python stage. The
    sibling knob for post-shuffle Python stages is the AQE
    minPartitionSize floor in session.py.

    Measured (documents, ×10 replica, single row-group file):
    image_phash 4.59 s single-task → 1.23 s widened; the md5-stub
    extract_features is the counterexample (0.48 → 0.89 s — the
    shuffle costs more than the Python it spreads), so only the
    per-pixel/per-sample stages widen."""
    from ..session import scan_partitions

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # scan_partitions: leaf-safe probe — None (composed input) skips
    # the widen rather than letting df.rdd execute upstream stages
    # under AQE (r14 ADVICE item 5)
    np_ = scan_partitions(df)
    if np_ is not None and np_ < target:
        return df.repartition(target)
    return df


def to_media_table(documents: DataFrame) -> DataFrame:
    """Wrap a text corpus as a media table: payload = utf-8 bytes,
    metadata columns alongside. With real media the payload would come
    from ``spark.read.format('binaryFile')`` — same shape."""
    payload = F.encode(F.col("text"), "utf-8")
    return documents.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        payload.alias("payload"),
        F.col("source").alias("meta_source"),
        F.octet_length(payload).cast("long").alias("meta_n_bytes"),
    )


def decode_stub(payload: bytes) -> bytes:
    """Placeholder for a real codec (PIL / libav frame sample / resize).

    Raises for media types this container cannot decode; text payloads
    pass through. Swap this single function when codecs are available —
    the mapInPandas plumbing around it does not change.
    """
    return payload


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas:
    per-batch pandas, Arrow transfer, no driver collection.

    Stub features: byte length, md5 hex, and a fake 'embedding dim'
    derived from the payload — deterministic so tests/oracles can
    verify the full pipeline."""

    # NOTE: the closure must be SELF-CONTAINED (imports inside, no
    # references to module-level names): Spark's Python workers run in
    # separate processes that cannot import this package unless the
    # repo is on their PYTHONPATH. By-value pickling makes the operator
    # location-independent.
    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def _decode(payload: bytes) -> bytes:
            # placeholder for a real codec (see decode_stub docstring)
            return payload

        for pdf in it:
            decoded = pdf["payload"].map(_decode)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": decoded.map(len).astype("int64"),
                    "payload_md5": decoded.map(
                        lambda b: _hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "feature_dim": (decoded.map(len) % 64 + 1).astype("int64"),
                }
            )

    # NOT widened: the stub features are a vectorized md5/len pass,
    # cheaper than the repartition it would take to spread them
    # (measured at sf0.1 AND ×10 — see _widen docstring; the heavy
    # per-pixel/per-sample stages below are where _widen pays).
    return media.mapInPandas(_batches, schema=FEATURE_SCHEMA)


DECODED_SCHEMA = "doc_id long, width int, height int, channels int, pixels binary"
RESIZED_SCHEMA = "doc_id long, width int, height int, channels int, pixels binary"
FRAME_SCHEMA = "doc_id long, frame_idx long, frame binary"
AUDIO_SCHEMA = "doc_id long, n_samples long, rms double, peak long"


def decode_image(media: DataFrame, codec: str = "fake") -> DataFrame:
    """Image decode: payload → raw (H, W, C) pixel buffer.

    ``codec='fake'`` derives a deterministic raw image from the payload
    bytes (dims from the byte length, pixels by tiling the payload) so
    the downstream RAW-BUFFER operators (resize, frame sample, stats)
    exercise real logic under test. ``codec='bmp'`` is a REAL decoder
    (uncompressed 24-bit BMP, see decode_bmp — BGR/bottom-up/padding
    semantics); ``codec='png'`` is a REAL compressed decoder (8-bit
    gray/RGB/RGBA, all five scanline filters, see decode_png);
    ``codec='jpeg'`` is a REAL baseline-sequential JPEG decoder
    (sources/jpeg.py — Huffman entropy decode, dequant + IDCT,
    4:4:4/4:2:0 upsampling, restart markers); ``codec='gif'`` is a
    REAL GIF87a/89a decoder (sources/gif.py — variable-width LZW,
    interlace, animation frames; first frame through the palette);
    ``codec='webp'`` is a REAL WebP lossless decoder (sources/webp.py
    — the full VP8L bitstream: meta prefix codes, color cache, LZ77
    distance mapping, all four transforms; certified bit-exact against
    the reference libwebp decoder in tests/test_webp.py);
    ``codec='auto'`` sniffs the magic bytes and dispatches per row.
    ``codec='pil'`` is the ACCELERATED/general slot: when Pillow is
    importable it decodes every payload through ``PIL.Image`` (native
    C decoders — the per-document pure-Python constant measured in
    SCALE.md round-8(4) drops to library speed, and lossy WebP / video
    stills come into scope); when it is not, the documented
    NotImplementedError guard below fires driver-side, before any job
    is launched. tests/test_multimodal.py certifies the PIL path
    against the pure-Python codecs per row when the library exists and
    pins the guard when it doesn't — the codec is the swappable part,
    the Spark plumbing and the oracle contract are not."""
    if codec == "pil":
        import importlib.util

        if importlib.util.find_spec("PIL") is None:
            raise NotImplementedError(
                "no general image codec in this environment; BMP, PNG, "
                "baseline JPEG, GIF, lossless WebP and TIFF are decoded "
                "natively (decode_bmp/decode_png/jpeg.decode_jpeg/"
                "gif.decode_gif_rgb/webp.decode_webp/tiff.decode_tiff); "
                "install Pillow to activate this accelerated slot for "
                "those plus lossy WebP and other formats"
            )

        def _pil_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import io

            import pandas as _pd
            from PIL import Image  # present: guarded above

            def _decode(b: bytes):
                img = Image.open(io.BytesIO(bytes(b)))
                if img.mode not in ("RGB", "RGBA", "L"):
                    img = img.convert(
                        "RGBA" if "A" in img.getbands() else "RGB"
                    )
                ch = {"L": 1, "RGB": 3, "RGBA": 4}[img.mode]
                return img.width, img.height, ch, img.tobytes()

            for pdf in it:
                rows = [_decode(p) for p in pdf["payload"]]
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "width": [r[0] for r in rows],
                        "height": [r[1] for r in rows],
                        "channels": [r[2] for r in rows],
                        "pixels": [r[3] for r in rows],
                    }
                )

        return _widen(media).mapInPandas(_pil_batches, schema=DECODED_SCHEMA)
    if codec in ("bmp", "png", "jpeg", "gif", "webp", "tiff", "auto"):

        def _codec_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import pandas as _pd

            from building_coffee_commodity_trading_data_warehouse_spark.sources.gif import (
                decode_gif_rgb,
            )
            from building_coffee_commodity_trading_data_warehouse_spark.sources.jpeg import (
                decode_jpeg,
            )
            from building_coffee_commodity_trading_data_warehouse_spark.sources.tiff import (
                decode_tiff,
            )
            from building_coffee_commodity_trading_data_warehouse_spark.sources.webp import (
                decode_webp,
            )

            def _decode(b: bytes):
                if codec == "bmp" or (codec == "auto" and b[:2] == b"BM"):
                    return decode_bmp(b)
                if codec == "png" or (
                    codec == "auto" and b[: len(_PNG_SIG)] == _PNG_SIG
                ):
                    return decode_png(b)
                if codec == "jpeg" or (
                    codec == "auto" and b[:3] == b"\xff\xd8\xff"
                ):
                    return decode_jpeg(b)
                if codec == "gif" or (
                    codec == "auto" and b[:4] == b"GIF8"
                ):
                    return decode_gif_rgb(b)
                if codec == "webp" or (
                    codec == "auto"
                    and b[:4] == b"RIFF"
                    and b[8:12] == b"WEBP"
                ):
                    return decode_webp(b)
                if codec == "tiff" or (
                    codec == "auto" and b[:4] in (b"II*\x00", b"MM\x00*")
                ):
                    return decode_tiff(b)
                raise ValueError("unrecognized image magic bytes")

            for pdf in it:
                rows = [_decode(bytes(p)) for p in pdf["payload"]]
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "width": [r[0] for r in rows],
                        "height": [r[1] for r in rows],
                        "channels": [r[2] for r in rows],
                        "pixels": [r[3] for r in rows],
                    }
                )

        return _widen(media).mapInPandas(_codec_batches, schema=DECODED_SCHEMA)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _decode(b: bytes):
            b = bytes(b)
            w = len(b) % 16 + 2
            h = len(b) % 8 + 2
            c = 3
            need = w * h * c
            buf = _np.frombuffer((b * (need // max(len(b), 1) + 1))[:need], dtype=_np.uint8)
            return w, h, c, buf.tobytes()

        for pdf in it:
            rows = [_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "channels": [r[2] for r in rows],
                    "pixels": [r[3] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=DECODED_SCHEMA)


def nn_resize(px: bytes, w: int, h: int, c: int, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize of one raw pixel buffer — THE production
    kernel (numpy fancy-indexing): shared by resize_images and the
    certificate gate, so the certificate exercises the real code path
    and its independent per-pixel verify can actually catch a
    regression here."""
    import numpy as _np

    img = _np.frombuffer(bytes(px), dtype=_np.uint8).reshape(h, w, c)
    yi = (_np.arange(out_h) * h) // out_h
    xi = (_np.arange(out_w) * w) // out_w
    return img[yi[:, None], xi[None, :], :].tobytes()


def resize_images(decoded: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL nearest-neighbor resize over raw pixel buffers (no codec
    needed): the shared nn_resize kernel per image, Arrow-batched. The
    row count is unchanged — pure map, partition-parallel."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def _resize(px: bytes, w: int, h: int, c: int) -> bytes:
            return nn_resize(px, w, h, c, out_w, out_h)

        for pdf in it:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": out_w,
                    "height": out_h,
                    "channels": pdf["channels"],
                    "pixels": [
                        _resize(p, w, h, c)
                        for p, w, h, c in zip(
                            pdf["pixels"], pdf["width"], pdf["height"], pdf["channels"]
                        )
                    ],
                }
            )

    return _widen(decoded).mapInPandas(_batches, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, frame_bytes: int = 64, every_n: int = 4) -> DataFrame:
    """Frame sampling (UDTF shape, 1 row → N rows): treat the payload
    as a sequence of fixed-size raw frames, emit every ``every_n``-th.
    With a real container format the split comes from the demuxer; the
    fan-out plumbing — per-batch explode inside mapInPandas, no driver
    involvement — is identical."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in it:
            out_id, out_idx, out_frame = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b) // frame_bytes
                for i in range(0, n, every_n):
                    out_id.append(doc_id)
                    out_idx.append(i)
                    out_frame.append(b[i * frame_bytes : (i + 1) * frame_bytes])
            yield _pd.DataFrame(
                {"doc_id": out_id, "frame_idx": out_idx, "frame": out_frame}
            )

    return _widen(media).mapInPandas(_batches, schema=FRAME_SCHEMA)


def audio_stats(media: DataFrame) -> DataFrame:
    """REAL signal stats over raw PCM-like buffers: bytes as signed
    8-bit samples → RMS and peak via numpy. A real audio file would
    pass through a decoder first (decode_image's codec slot twin)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _stats(b: bytes):
            x = _np.frombuffer(bytes(b), dtype=_np.int8).astype("float64")
            if not len(x):
                return 0, 0.0, 0
            return len(x), float(_np.sqrt((x * x).mean())), int(_np.abs(x).max())

        for pdf in it:
            rows = [_stats(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": [r[0] for r in rows],
                    "rms": [r[1] for r in rows],
                    "peak": [r[2] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=AUDIO_SCHEMA)


DECODED_AUDIO_SCHEMA = (
    "doc_id long, sample_rate int, channels int, n_samples long, pcm binary"
)


def decode_audio(media: DataFrame, codec: str = "auto") -> DataFrame:
    """Audio decode: payload (a real WAV or FLAC stream, optionally
    ID3-tagged) → interleaved little-endian int16 PCM + stream params —
    ``decode_image``'s audio twin, including its accelerated slot.

    ``codec='auto'`` sniffs magic bytes (RIFF/fLaC, after stripping a
    leading ID3v2 tag) and dispatches to the pure-Python codecs;
    ``codec='wav'`` / ``codec='flac'`` force one. ``codec='soundfile'``
    is the ACCELERATED slot: when the soundfile library (libsndfile) is
    importable every payload decodes through it — bit-identical int16
    PCM for these lossless formats, certified per-row against the
    pure-Python codecs in tests/test_multimodal.py when the library
    exists; when absent the documented guard below fires driver-side."""
    if codec == "soundfile":
        import importlib.util

        if importlib.util.find_spec("soundfile") is None:
            raise NotImplementedError(
                "no native audio library in this environment; WAV and "
                "FLAC decode through the pure-Python codecs "
                "(decode_wav/flac.decode_flac); install soundfile "
                "(libsndfile) to activate this accelerated slot"
            )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from building_coffee_commodity_trading_data_warehouse_spark.sources.flac import (
            decode_flac,
        )
        from building_coffee_commodity_trading_data_warehouse_spark.sources.id3 import (
            strip_id3,
        )

        if codec == "soundfile":
            import io

            import soundfile as _sf  # present: guarded above

            def _decode(b: bytes):
                data, rate = _sf.read(
                    io.BytesIO(strip_id3(bytes(b))), dtype="int16",
                    always_2d=True,
                )
                # C-order (frames, channels) == interleaved int16 LE
                return rate, data.shape[1], data.shape[0], data.tobytes()

        else:

            def _decode(b: bytes):
                b = strip_id3(bytes(b))
                if codec == "wav" or (codec == "auto" and b[:4] == b"RIFF"):
                    rate, ch, pcm = decode_wav(b)
                elif codec == "flac" or (
                    codec == "auto" and b[:4] == b"fLaC"
                ):
                    rate, ch, pcm = decode_flac(b)
                else:
                    raise ValueError("unrecognized audio magic bytes")
                return rate, ch, len(pcm) // (2 * ch), pcm

        for pdf in it:
            rows = [_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [r[0] for r in rows],
                    "channels": [r[1] for r in rows],
                    "n_samples": [r[2] for r in rows],
                    "pcm": [r[3] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=DECODED_AUDIO_SCHEMA)


DECODE_AUDIO_GATE_SCHEMA = (
    "doc_id long, sample_rate int, channels int, n_samples long, "
    "sum_samples bigint, container string"
)


def decode_audio_roundtrip(media: DataFrame) -> DataFrame:
    """Gate pipeline for ``decode_audio``: per document, synthesize a
    REAL audio container from the text bytes (even doc_id → WAV, odd →
    ID3v2-tagged FLAC; each byte the centered 16-bit sample
    ``(b−128)·256``, the m_audio_wav convention), push it through
    ``decode_audio(codec='auto')`` — magic sniff + ID3 strip + the
    pure-Python WAV/FLAC decoders — and reduce the decoded PCM to
    exact integers the SQL oracle replays from character codes:
    ``n_samples = length(text)``, ``sum_samples = 256·Σ(ascii−128)``.

    Two Arrow-batched Python stages (synth, then the production
    ``decode_audio`` operator verbatim), one tiny stats projection;
    payload bytes never shuffle more than once and the stats rows are
    the only thing that reaches the gate compare."""
    import struct as _struct

    from building_coffee_commodity_trading_data_warehouse_spark.sources.flac import (
        encode_flac,
    )
    from building_coffee_commodity_trading_data_warehouse_spark.sources.id3 import (
        prepend_id3,
    )

    def _synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def _one(doc_id: int, payload: bytes):
            b = bytes(payload)
            pcm = _struct.pack(
                f"<{len(b)}h", *((v - 128) * 256 for v in b)
            )
            if doc_id % 2 == 0:
                return encode_wav(8000, pcm, 1), "wav"
            return (
                prepend_id3(
                    encode_flac(8000, pcm, 1, block_size=64),
                    {"title": f"doc{doc_id}"},
                ),
                "flac+id3",
            )

        for pdf in it:
            rows = [
                _one(i, p) for i, p in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [r[0] for r in rows],
                    "container": [r[1] for r in rows],
                }
            )

    streams = _widen(media).mapInPandas(
        _synth, "doc_id long, payload binary, container string"
    )
    decoded = decode_audio(streams, codec="auto")

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            sums = [
                int(
                    _np.frombuffer(bytes(p), dtype="<i2")
                    .astype(_np.int64)
                    .sum()
                )
                for p in pdf["pcm"]
            ]
            ids = pdf["doc_id"].to_numpy()
            yield _pd.DataFrame(
                {
                    "doc_id": ids,
                    "sample_rate": pdf["sample_rate"],
                    "channels": pdf["channels"],
                    "n_samples": pdf["n_samples"],
                    "sum_samples": _np.array(sums, dtype="int64"),
                    # container is a pure function of doc_id (the synth
                    # rule above) — re-derive instead of re-running the
                    # synth stage for a join
                    "container": _np.where(
                        ids % 2 == 0, "wav", "flac+id3"
                    ),
                }
            )

    return decoded.mapInPandas(_stats, DECODE_AUDIO_GATE_SCHEMA)


# ------------------------------------------------------------ BMP codec
# A REAL image codec, stdlib+numpy only: uncompressed 24-bit Windows
# BMP (BITMAPINFOHEADER). Closes the "no image codec in this
# container" gap the same way sources/pdf_text.py closed the PDF one —
# real format semantics (BGR channel order, bottom-up row storage,
# 4-byte row padding), not a passthrough fake.

CERTIFIED_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "roundtrip_ok boolean, png_ok boolean, resize_ok boolean"
)


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Encode an (H, W, 3) RGB buffer as an uncompressed 24-bit BMP."""
    import struct

    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    stride = (width * 3 + 3) // 4 * 4
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, : width * 3] = bgr.reshape(height, width * 3)
    pixel_data = rows.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    return header + pixel_data


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode an uncompressed 24-bit BMP → (width, height, 3, rgb
    bytes). Handles bottom-up AND top-down (negative height) storage
    and row padding; rejects other bit depths / compressions."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} comp={compression}")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        data, dtype=np.uint8, count=height * stride, offset=offset
    ).reshape(height, stride)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        bgr = bgr[::-1]
    return width, height, 3, bgr[:, :, ::-1].tobytes()


# ------------------------------------------------------------ PNG codec
# A REAL compressed image codec, stdlib(zlib)+numpy only: 8-bit
# non-interlaced PNG (gray / RGB / RGBA). Unlike BMP this exercises a
# genuinely compressed on-disk format — chunk framing with CRC32,
# DEFLATE, and the five scanline predictors. The encoder picks the
# standard minimum-sum-of-absolute-differences filter per scanline, so
# an encode→decode roundtrip exercises Sub/Up/Average/Paeth
# reconstruction on real data, not just the None filter.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Encode an (H, W, C) 8-bit buffer as a non-interlaced PNG
    (C=1 gray, C=3 RGB, C=4 RGBA). Per-scanline filter chosen by the
    libpng minimum-sum-of-absolute-differences heuristic over all five
    predictors — vectorized: the predictors read ORIGINAL neighbors,
    so every filtered candidate is a shifted-array subtraction."""
    import struct
    import zlib

    import numpy as np

    color_type = {1: 0, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise ValueError(f"unsupported channel count: {channels}")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width * channels)
    # original-neighbor planes, all (H, stride)
    left = np.zeros_like(img)
    left[:, channels:] = img[:, :-channels]
    up = np.zeros_like(img)
    up[1:] = img[:-1]
    upleft = np.zeros_like(img)
    upleft[1:, channels:] = img[:-1, :-channels]
    li, ui, uli = (
        left.astype(np.int16),
        up.astype(np.int16),
        upleft.astype(np.int16),
    )
    p = li + ui - uli
    pa, pb, pc = np.abs(p - li), np.abs(p - ui), np.abs(p - uli)
    paeth = np.where(
        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
    )
    cands = np.stack(
        [
            img,
            img - left,
            img - up,
            img - ((li + ui) >> 1).astype(np.uint8),
            img - paeth,
        ]
    )  # uint8 arithmetic wraps mod 256, exactly the PNG filter domain
    # MSAD heuristic: treat filtered bytes as signed, pick min |.| sum
    signed = np.where(cands < 128, cands, 256 - cands.astype(np.int16))
    pick = signed.sum(axis=2, dtype=np.int64).argmin(axis=0)
    raw = bytearray()
    for y in range(height):
        raw.append(int(pick[y]))
        raw += cands[pick[y], y].tobytes()
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode an 8-bit non-interlaced PNG → (width, height, channels,
    pixel bytes). Color types 0 (gray), 2 (RGB), 6 (RGBA); all five
    scanline filters reconstructed (None/Sub/Up vectorized per line,
    Average/Paeth sequential — their reconstruction reads DECODED left
    neighbors, an inherent data dependency). Chunk CRCs verified;
    ancillary chunks skipped; palette/interlace/16-bit rejected."""
    import struct
    import zlib

    import numpy as np

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if depth != 8 or channels is None or comp or filt or interlace:
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={color_type} "
            f"interlace={interlace}"
        )
    stride = width * channels
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG DEFLATE stream: {exc}") from exc
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters, lines = rows[:, 0], rows[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    for y in range(height):
        f, line = int(filters[y]), lines[y].copy()
        if f == 0:
            pass
        elif f == 1:  # Sub: per-lane cumulative sum, wraps mod 256
            line = np.cumsum(
                line.reshape(width, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif f == 2:  # Up
            line += prev
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (int(line[i]) + ((int(a) + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {f}")
        out[y] = line
        prev = line
    return width, height, channels, out.tobytes()


def certify_image_pipeline(
    media: DataFrame, out_w: int = 8, out_h: int = 8
) -> DataFrame:
    """The image path CERTIFIED end-to-end with hash-checkable output:
    per payload, derive a deterministic RGB image (dims from the byte
    length — the same rule the fake codec uses, so an oracle can
    compute them in SQL), push it through the REAL BMP encoder and
    decoder, and nearest-neighbor-resize the result.

    Emits booleans instead of raw buffers: ``roundtrip_ok`` is
    byte-identity of decode_bmp(encode_bmp(img)) — which exercises BGR
    conversion, bottom-up storage and row padding both ways —
    ``png_ok`` is byte-identity through the COMPRESSED codec
    (decode_png(encode_png(img)): chunk CRCs, DEFLATE, and whichever
    of the five scanline predictors the MSAD heuristic picked), and
    ``resize_ok`` re-derives every resized pixel from the source by
    independent floor-index math. Raw-buffer md5s stay in the pytest
    (engine-portable SQL cannot express them); dims + booleans make
    the driver gate value-checked rather than rows-only."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _one(payload: bytes):
            b = bytes(payload)
            w = len(b) % 16 + 2
            h = len(b) % 8 + 2
            need = w * h * 3
            if not b:
                # dims derive from length (0 → 2×2) but an empty buffer
                # can't tile — treat it as a zero byte (oracle-consistent:
                # dims unchanged, booleans still proven)
                b = b"\x00"
            src = _np.frombuffer(
                (b * (need // max(len(b), 1) + 1))[:need], dtype=_np.uint8
            )
            rgb = src.tobytes()
            w2, h2, c2, rgb2 = decode_bmp(encode_bmp(w, h, rgb))
            roundtrip_ok = (w2, h2, c2) == (w, h, 3) and rgb2 == rgb
            w3, h3, c3, rgb3 = decode_png(encode_png(w, h, rgb))
            png_ok = (w3, h3, c3) == (w, h, 3) and rgb3 == rgb
            img = src.reshape(h, w, 3)
            # run the PRODUCTION kernel (nn_resize), then verify every
            # output pixel against the floor-index definition with a
            # per-pixel loop — two separate implementations, so a
            # kernel regression flips the boolean (the previous
            # version recomputed the same fancy-index expression and
            # could never fail).
            resized = _np.frombuffer(
                nn_resize(rgb, w, h, 3, out_w, out_h), dtype=_np.uint8
            ).reshape(out_h, out_w, 3)
            resize_ok = all(
                (resized[i, j] == img[(i * h) // out_h, (j * w) // out_w]).all()
                for i in range(out_h)
                for j in range(out_w)
            )
            return w, h, 3, bool(roundtrip_ok), bool(png_ok), bool(resize_ok)

        for pdf in it:
            rows = [_one(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": _np.array([r[0] for r in rows], dtype="int32"),
                    "height": _np.array([r[1] for r in rows], dtype="int32"),
                    "channels": _np.array([r[2] for r in rows], dtype="int32"),
                    "roundtrip_ok": [r[3] for r in rows],
                    "png_ok": [r[4] for r in rows],
                    "resize_ok": [r[5] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=CERTIFIED_SCHEMA)


JPEG_CERTIFIED_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "jpeg_ok boolean, jpeg420_ok boolean, gray_ok boolean"
)


def certify_jpeg_pipeline(media: DataFrame, quality: int = 95) -> DataFrame:
    """The JPEG path certified end-to-end: per payload, derive the
    same deterministic RGB image as certify_image_pipeline (dims
    len%16+2 × len%8+2, payload-tiled pixels — oracle-computable in
    SQL), push it through the REAL baseline encoder+decoder
    (sources/jpeg.py), and bound the lossy reconstruction error.

    JPEG is lossy, so the booleans are error-budget proofs instead of
    the BMP/PNG byte-identity ones; the budgets sit ≥2× above the
    worst error measured over random-noise images (the hardest
    content for a DCT codec) while staying far below what a broken
    Huffman/zigzag/IDCT path produces (~100+):

    * ``jpeg_ok`` — 4:4:4 at ``quality``: dims exact, max |err| ≤ 48
      (measured worst on noise at q95: 22);
    * ``jpeg420_ok`` — 4:2:0 with restart markers every 2 MCUs: dims
      exact, max LUMA error ≤ 32 (chroma decimation is the lossy
      part by design; luma must survive it — measured worst 11.8) —
      this also proves DRI/RST resync and the DC-predictor reset;
    * ``gray_ok`` — single-component encode+decode: dims exact,
      max |err| ≤ 32.

    Image bytes never shuffle: each mapInPandas batch encodes and
    decodes executor-side, only (doc_id, dims, booleans) rows leave
    the stage."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        from building_coffee_commodity_trading_data_warehouse_spark.sources.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        def _luma(a: "_np.ndarray") -> "_np.ndarray":
            return (
                0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
            )

        def _one(payload: bytes):
            b = bytes(payload)
            w = len(b) % 16 + 2
            h = len(b) % 8 + 2
            need = w * h * 3
            if not b:
                b = b"\x00"
            src = _np.frombuffer(
                (b * (need // max(len(b), 1) + 1))[:need], dtype=_np.uint8
            )
            img = src.reshape(h, w, 3)
            rgb = src.tobytes()

            w2, h2, c2, px = decode_jpeg(
                encode_jpeg(w, h, rgb, quality=quality)
            )
            out = _np.frombuffer(px, dtype=_np.uint8).astype(_np.int64)
            jpeg_ok = (w2, h2, c2) == (w, h, 3) and int(
                _np.abs(out - src.astype(_np.int64)).max()
            ) <= 48

            w3, h3, c3, px3 = decode_jpeg(
                encode_jpeg(
                    w, h, rgb, quality=quality, subsampling="420",
                    restart_interval=2,
                )
            )
            ok420 = (w3, h3, c3) == (w, h, 3)
            if ok420:
                out3 = _np.frombuffer(px3, dtype=_np.uint8).reshape(h, w, 3)
                ok420 = (
                    float(
                        _np.abs(
                            _luma(out3.astype(_np.float64))
                            - _luma(img.astype(_np.float64))
                        ).max()
                    )
                    <= 32.0
                )

            gray = _np.clip(
                _np.rint(_luma(img.astype(_np.float64))), 0, 255
            ).astype(_np.uint8)
            w4, h4, c4, px4 = decode_jpeg(
                encode_jpeg(w, h, gray.tobytes(), quality=quality, channels=1)
            )
            gray_ok = (w4, h4, c4) == (w, h, 1) and int(
                _np.abs(
                    _np.frombuffer(px4, dtype=_np.uint8).astype(_np.int64)
                    - gray.reshape(-1).astype(_np.int64)
                ).max()
            ) <= 32

            return w, h, 3, bool(jpeg_ok), bool(ok420), bool(gray_ok)

        for pdf in it:
            rows = [_one(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": _np.array([r[0] for r in rows], dtype="int32"),
                    "height": _np.array([r[1] for r in rows], dtype="int32"),
                    "channels": _np.array([r[2] for r in rows], dtype="int32"),
                    "jpeg_ok": [r[3] for r in rows],
                    "jpeg420_ok": [r[4] for r in rows],
                    "gray_ok": [r[5] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=JPEG_CERTIFIED_SCHEMA)


# ------------------------------------------------------------ WAV codec
# A REAL audio codec, stdlib-only: RIFF/WAVE with 16-bit PCM. Closes
# the audio half of the "no codecs in this container" gap the same way
# encode_bmp/decode_bmp closed the image half — real chunk framing
# (RIFF header, fmt/data chunks, word alignment, unknown-chunk skip),
# not a passthrough fake.

AUDIO_CERTIFIED_SCHEMA = (
    "doc_id long, n_samples long, sample_rate int, "
    "peak long, sum_sq long, roundtrip_ok boolean"
)


def encode_wav(sample_rate: int, pcm: bytes, channels: int = 1) -> bytes:
    """Encode little-endian 16-bit PCM as a RIFF/WAVE byte stream."""
    import struct

    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate, byte_rate, channels * 2, 16
    )
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE") + fmt + data
    )


def decode_wav(data: bytes) -> tuple[int, int, bytes]:
    """Decode RIFF/WAVE → (sample_rate, channels, pcm bytes). Walks the
    chunk list (word-aligned, unknown chunks skipped — real WAV files
    carry LIST/INFO chunks); rejects non-PCM and non-16-bit variants."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, sr, ch, pcm = 12, None, None, None
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        pos += 8
        if cid == b"fmt ":
            audio_fmt, ch, sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", data, pos)
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV variant: fmt={audio_fmt} bits={bits}")
        elif cid == b"data":
            pcm = data[pos : pos + clen]
            if len(pcm) < clen:
                raise ValueError("WAV data chunk truncated")
        pos += clen + (clen & 1)
    if sr is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    if ch and len(pcm) % (2 * ch):
        raise ValueError("WAV data length is not a whole number of frames")
    return sr, ch, pcm


def certify_audio_pipeline(media: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """The audio path CERTIFIED end-to-end with hash-checkable output:
    each payload byte becomes one centered 16-bit sample ((b−128)·256 —
    a rule an oracle can replay in SQL from character codes, since the
    corpus is ASCII), the sample block runs through the REAL WAV
    encoder and decoder, and the signal stats come back as exact
    integers: ``peak`` = max |sample|, ``sum_sq`` = Σ(b−128)² (energy
    on the integer lattice — no RMS float/sqrt to drift cross-engine).
    ``roundtrip_ok`` is byte-identity of decode(encode(pcm)) plus
    header fidelity, which exercises chunk framing both ways."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _one(payload: bytes):
            b = bytes(payload)
            x = _np.frombuffer(b, dtype=_np.uint8).astype(_np.int64) - 128
            pcm = (x << 8).astype("<i2").tobytes()
            sr2, ch2, pcm2 = decode_wav(encode_wav(sample_rate, pcm))
            ok = sr2 == sample_rate and ch2 == 1 and pcm2 == pcm
            peak = int(_np.abs(x).max()) * 256 if len(x) else 0
            return len(x), sample_rate, peak, int((x * x).sum()), bool(ok)

        for pdf in it:
            rows = [_one(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": [r[0] for r in rows],
                    "sample_rate": [r[1] for r in rows],
                    "peak": [r[2] for r in rows],
                    "sum_sq": [r[3] for r in rows],
                    "roundtrip_ok": [r[4] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=AUDIO_CERTIFIED_SCHEMA)


PHASH_SCHEMA = "doc_id long, phash string, hash_hi long, hash_lo long, stable_ok boolean"


def image_phash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash (aHash) per image — the 64-bit
    fingerprint image dedup pipelines bucket on: grayscale the pixels,
    floor-index downsample to ``grid``×``grid``, threshold each sample
    against the integer mean. Two visually identical images (resize
    artifacts, metadata-stripped re-encodes) land on nearby hashes;
    Hamming distance ranks near-duplicates.

    All-integer math (byte sums, floor divisions, comparisons), so the
    DuckDB oracle replays the hash bit-for-bit from the payload bytes —
    the gate is VALUE-checked, not rows-only. The image itself derives
    deterministically from the payload (dims = len%16+2 × len%8+2,
    tiled bytes — the fake-codec rule certify_image_pipeline pins) and
    passes through the REAL BMP encoder/decoder: ``stable_ok`` proves
    phash(decode(encode(img))) == phash(img). Emitted as a 16-hex-char
    string plus two 32-bit halves (no signed-64 edge cases anywhere);
    Arrow-batched mapInPandas, embarrassingly parallel, no shuffle."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _hash_of(img: "_np.ndarray", h: int, w: int):
            gray = img.astype(_np.int64).sum(axis=2) // 3
            ys = (_np.arange(grid) * h) // grid
            xs = (_np.arange(grid) * w) // grid
            gs = gray[ys][:, xs].reshape(-1)
            mean = int(gs.sum()) // (grid * grid)
            hi = lo = 0
            for k in range(grid * grid):
                if int(gs[k]) > mean:
                    if k >= 32:
                        hi |= 1 << (k - 32)
                    else:
                        lo |= 1 << k
            return hi, lo

        def _one(payload: bytes):
            b = bytes(payload)
            w = len(b) % 16 + 2
            h = len(b) % 8 + 2
            need = w * h * 3
            if not b:
                b = b"\x00"
            src = _np.frombuffer(
                (b * (need // max(len(b), 1) + 1))[:need], dtype=_np.uint8
            )
            img = src.reshape(h, w, 3)
            hi, lo = _hash_of(img, h, w)
            w2, h2, _c2, rgb2 = decode_bmp(encode_bmp(w, h, src.tobytes()))
            img2 = _np.frombuffer(rgb2, dtype=_np.uint8).reshape(h2, w2, 3)
            stable = (w2, h2) == (w, h) and _hash_of(img2, h2, w2) == (hi, lo)
            return f"{hi:08x}{lo:08x}", hi, lo, bool(stable)

        for pdf in it:
            rows = [_one(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [r[0] for r in rows],
                    "hash_hi": _np.array([r[1] for r in rows], dtype="int64"),
                    "hash_lo": _np.array([r[2] for r in rows], dtype="int64"),
                    "stable_ok": [r[3] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=PHASH_SCHEMA)


def phash_pairs(hashes: DataFrame, max_distance: int = 3) -> DataFrame:
    """Image near-duplicate candidate pairs by Hamming distance over
    the 64-bit perceptual hash — banded, never all-pairs: split each
    hash into ``max_distance + 1`` bands (pigeonhole: two hashes
    within the distance budget must agree on at least one full band),
    equi-join on (band index, band value) — the same bucket-join shape
    as MinHash-LSH — then verify candidates with two XOR+bit_count
    ops. All codegen; the only shuffle is the band-keyed join, so the
    plan survives web-scale image corpora where all-pairs cannot."""
    nbands = max_distance + 1
    width = 64 // nbands
    banded = hashes.select(
        "doc_id",
        "hash_hi",
        "hash_lo",
        F.posexplode(
            F.array(
                *[
                    # band k covers bits [k*width, (k+1)*width); extract
                    # from the right half, the left half, or straddling
                    # both — pure bit shifts on the two 32-bit halves.
                    _band_value(k, width)
                    for k in range(nbands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_hi").alias("hi_a"),
        F.col("hash_lo").alias("lo_a"),
        "band",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_hi").alias("hi_b"),
        F.col("hash_lo").alias("lo_b"),
        "band",
        "band_val",
    )
    dist = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_distance)
    )


def phash_index_build(
    hashes: DataFrame,
    path: str,
    max_distance: int = 3,
    mode: str = "overwrite",
    batch_tag: str | None = None,
) -> str:
    """Persist an IMAGE near-dup index over perceptual-hash Hamming
    bands — the image twin of ``dedup.neardup_index_build`` (r12
    verdict item 6: text got the durable batch-vs-history screen in
    r11-12; a VLM-scale crawl needs the same shape for images).
    Input is the ``image_phash`` output (doc_id, hash_hi, hash_lo —
    the 64-bit perceptual hash as two 32-bit halves); the index is
    two parquet tables under ``path``:

    * ``bands``  (doc_id, band, band_val): ``max_distance + 1``
      pigeonhole bands per image (two hashes within the Hamming
      budget must agree on at least one FULL band — the candidate
      equi-join side, same shape as ``phash_pairs``);
    * ``hashes`` (doc_id, hash_hi, hash_lo): the verification side —
      unlike text near-dup there is no shingle table to prune; the
      whole verification payload is 24 bytes per image,

    plus the one-row ``meta`` sidecar (max_distance — banding derives
    from it, so an index can never be probed with mismatched bands)
    and the same manifest-commit durability contract as the text
    index (torn appends invisible, same-tag replay idempotent,
    overwrite = manifest swap, torn-new recoverable by overwrite
    retry — all enforced by ``index_store``, not re-implemented)."""
    import uuid

    spark = hashes.sparkSession
    have = index_store.preflight(
        spark, path, mode, {"max_distance": int(max_distance)}
    )
    bid = batch_tag if batch_tag is not None else "b" + uuid.uuid4().hex
    index_store.validate_batch_tag(bid)
    nbands = max_distance + 1
    width = 64 // nbands
    banded = hashes.select(
        "doc_id",
        F.posexplode(
            F.array(*[_band_value(k, width) for k in range(nbands)])
        ).alias("band", "band_val"),
    )
    index_store.write_batch(
        spark,
        path,
        bid,
        mode,
        {
            "bands": banded,
            "hashes": hashes.select("doc_id", "hash_hi", "hash_lo"),
        },
        {"max_distance": int(max_distance)},
        fresh=not have,
    )
    return path


def phash_index_compact(
    spark, path: str, exclude_tags: list[str] | None = None
) -> str | None:
    """LSM-style compaction of a phash index — the shared manifest-
    swap rewrite (``index_store.compact``) over this index's two
    tables. Search results are identical before and after (pinned by
    the m_phash_search gate and pytest). ``exclude_tags`` keeps the
    named batches out of the rewrite (the streaming auto-compact
    cadence's replay guard)."""
    return index_store.compact(
        spark, path, ("bands", "hashes"), exclude_tags=exclude_tags
    )


def phash_index_vacuum(
    spark, path: str, grace_seconds: float = 0.0
) -> list[str]:
    """Delete unreferenced phash-index batch directories — the shared
    vacuum (``index_store.vacuum``: manifest re-read + optional grace
    window against in-flight appends) over this index's two tables."""
    return index_store.vacuum(spark, path, grace_seconds, ("bands", "hashes"))


def phash_index_search(
    spark,
    path: str,
    batch_hashes: DataFrame,
    exclude_tags: list[str] | None = None,
) -> DataFrame:
    """Search a batch of image hashes against a persisted
    ``phash_index_build`` index: per batch image, the candidate count,
    best (minimum) Hamming distance to history, the smallest matching
    history doc_id within the budget, and the verdict — (doc_id,
    n_candidates, best_hamming, match_doc_id, is_dup). Banding
    parameters come from the index's meta sidecar; only manifest-
    COMMITTED batches are read (``index_store.committed_view`` /
    ``committed_table`` — partition pruning drops torn batches at
    the scan), and ``exclude_tags`` hides a replayed micro-batch's
    own first-attempt append exactly like the text search.

    Plan: batch bands are built in-row (posexplode of shift/mask
    expressions — codegen), candidates come from the (band,
    band_val) equi-join, and verification joins the candidate pairs
    to the two narrow hash tables (24 bytes/image — there is nothing
    to prune, so no broadcast/shuffle auto-route is needed here; AQE
    broadcasts the candidate side when it fits). The rollup keys on
    the batch doc_id. Nothing corpus-sized crosses an exchange
    unkeyed and nothing lands on the driver but the meta row and the
    committed tag list."""
    max_distance = index_store.read_meta(spark, path)["max_distance"]
    nbands = max_distance + 1
    width = 64 // nbands
    committed = index_store.committed_view(spark, path, exclude_tags)
    hband = index_store.committed_table(spark, path, "bands", committed).select(
        F.col("doc_id").alias("hist_id"), "band", "band_val"
    )
    hhash = index_store.committed_table(spark, path, "hashes", committed).select(
        F.col("doc_id").alias("hist_id"),
        F.col("hash_hi").alias("hi_h"),
        F.col("hash_lo").alias("lo_h"),
    )
    bband = batch_hashes.select(
        "doc_id",
        F.posexplode(
            F.array(*[_band_value(k, width) for k in range(nbands)])
        ).alias("band", "band_val"),
    )
    cand = (
        bband.join(hband, ["band", "band_val"])
        .select("doc_id", "hist_id")
        .distinct()
    )
    dist = (
        F.bit_count(F.col("hash_hi").bitwiseXOR(F.col("hi_h")))
        + F.bit_count(F.col("hash_lo").bitwiseXOR(F.col("lo_h")))
    ).cast("int")
    scored = (
        cand.join(hhash, "hist_id")
        .join(
            batch_hashes.select("doc_id", "hash_hi", "hash_lo"), "doc_id"
        )
        .select("doc_id", "hist_id", dist.alias("hamming"))
    )
    per = scored.groupBy("doc_id").agg(
        F.countDistinct("hist_id").cast("long").alias("n_candidates"),
        F.min("hamming").alias("best_hamming"),
        F.min(
            F.when(F.col("hamming") <= max_distance, F.col("hist_id"))
        ).alias("match_doc_id"),
    )
    return (
        batch_hashes.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "best_hamming",
            "match_doc_id",
            F.coalesce(
                F.col("best_hamming") <= F.lit(max_distance), F.lit(False)
            ).alias("is_dup"),
        )
    )


def _band_value(k: int, width: int):
    """Bits [k·width, (k+1)·width) of the 64-bit hash held as two
    32-bit halves (hash_hi = bits 32-63, hash_lo = bits 0-31)."""
    lo_bit = k * width
    hi_bit = lo_bit + width - 1
    mask = (1 << width) - 1
    if hi_bit < 32:
        return F.shiftrightunsigned(F.col("hash_lo"), lo_bit).bitwiseAND(F.lit(mask))
    if lo_bit >= 32:
        return F.shiftrightunsigned(F.col("hash_hi"), lo_bit - 32).bitwiseAND(
            F.lit(mask)
        )
    lo_part_bits = 32 - lo_bit
    lo_part = F.shiftrightunsigned(F.col("hash_lo"), lo_bit).bitwiseAND(
        F.lit((1 << lo_part_bits) - 1)
    )
    hi_part = F.col("hash_hi").bitwiseAND(F.lit((1 << (width - lo_part_bits)) - 1))
    return F.shiftleft(hi_part, lo_part_bits).bitwiseOR(lo_part)


PATCH_SCHEMA = (
    "doc_id long, patch_row int, patch_col int, n_px long, "
    "mean_gray long, stable_ok boolean"
)


def image_patches(media: DataFrame, grid: int = 2) -> DataFrame:
    """ViT-style patch grid: split each image into ``grid``×``grid``
    patches and emit one row per patch with its pixel count and
    integer mean gray — the tokenization step a vision-transformer
    ingest pipeline runs before embedding (patch → vector), expressed
    as the same Arrow-batched ``mapInPandas`` plumbing as the other
    codecs: per-batch numpy, no shuffle, nothing driver-side.

    Patch (pr, pc) covers rows [(pr·h)//grid, ((pr+1)·h)//grid) ×
    cols likewise — the floor-boundary convention, so patches tile
    exactly even when dims don't divide. All-integer math (gray =
    (r+g+b)//3, mean = Σ//count): the oracle replays every patch mean
    from the payload bytes. The image derives deterministically from
    the payload (dims = len%16+2 × len%8+2, tiled bytes — the same
    fake-codec rule the phash gate pins) and round-trips the REAL BMP
    encoder/decoder; ``stable_ok`` proves patch means survive it.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _means(img: "_np.ndarray", h: int, w: int):
            gray = img.astype(_np.int64).sum(axis=2) // 3
            out = []
            for pr in range(grid):
                for pc in range(grid):
                    y0, y1 = (pr * h) // grid, ((pr + 1) * h) // grid
                    x0, x1 = (pc * w) // grid, ((pc + 1) * w) // grid
                    patch = gray[y0:y1, x0:x1]
                    out.append(
                        (pr, pc, patch.size, int(patch.sum()) // patch.size)
                    )
            return out

        def _one(doc_id: int, payload: bytes):
            b = bytes(payload)
            w = len(b) % 16 + 2
            h = len(b) % 8 + 2
            need = w * h * 3
            if not b:
                b = b"\x00"
            src = _np.frombuffer(
                (b * (need // max(len(b), 1) + 1))[:need], dtype=_np.uint8
            )
            img = src.reshape(h, w, 3)
            means = _means(img, h, w)
            w2, h2, _c2, rgb2 = decode_bmp(encode_bmp(w, h, src.tobytes()))
            img2 = _np.frombuffer(rgb2, dtype=_np.uint8).reshape(h2, w2, 3)
            stable = (w2, h2) == (w, h) and _means(img2, h2, w2) == means
            return [
                (doc_id, pr, pc, n_px, mg, bool(stable))
                for (pr, pc, n_px, mg) in means
            ]

        for pdf in it:
            rows = [
                r
                for d, p in zip(pdf["doc_id"], pdf["payload"])
                for r in _one(int(d), p)
            ]
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "patch_row",
                    "patch_col",
                    "n_px",
                    "mean_gray",
                    "stable_ok",
                ],
            )

    return _widen(media).mapInPandas(_batches, schema=PATCH_SCHEMA)


def video_frame_pairs(
    media: DataFrame,
    frame_bytes: int = 64,
    every_n: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Video-level near-duplicate PAIRS by shared frame fingerprints —
    the multimodal twin of chunk-level text dedup: sample frames
    (``sample_frames``), fingerprint each (md5 of the raw frame),
    and join videos that share ≥ ``min_shared`` distinct fingerprints.
    Re-encoded or trimmed copies of a clip keep most sampled frames
    byte-identical, which is exactly what this catches.

    Scale shape: the pair stream is the frame-fingerprint inverted
    index (Σ df² per fingerprint) — ubiquitous frames (black/intro
    slates: the video equivalent of stopword shingles) are removed by
    a broadcast LEFT ANTI on the ``max_df`` stop list before the
    self-join, the same bound as stop-shingles. Fingerprints travel as
    32-byte hashes; frame bytes never shuffle.
    """
    frames = (
        sample_frames(media, frame_bytes, every_n)
        .select("doc_id", F.md5(F.col("frame")).alias("fh"))
        .distinct()
    )
    stop = (
        frames.groupBy("fh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("fh")
    )
    kept = frames.join(F.broadcast(stop), "fh", "left_anti")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fh")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fh")
    return (
        a.join(b, "fh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


VAD_SCHEMA = (
    "doc_id long, n_frames long, n_active long, n_segments long, "
    "longest_run long"
)


def audio_activity_segments(
    media: DataFrame, frame_bytes: int = 64, threshold: int = 128_000
) -> DataFrame:
    """Energy-based voice-activity detection (VAD) over the audio
    payload: fixed-size PCM frames score Σ(sample−128)² energy, frames
    above ``threshold`` are active, and consecutive active frames
    merge into SEGMENTS — (doc_id, n_frames, n_active, n_segments,
    longest_run), the speech-segmentation step an audio ingest
    pipeline runs before transcription. Docs shorter than one frame
    emit nothing (no signal to segment).

    All-integer (byte deviations squared and summed), so the oracle
    replays every energy and the island bookkeeping from the payload
    bytes; Arrow-batched mapInPandas, no shuffle, nothing driver-side.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _one(doc_id: int, payload: bytes):
            b = bytes(payload)
            n = len(b) // frame_bytes
            if n == 0:
                return None
            arr = _np.frombuffer(
                b[: n * frame_bytes], dtype=_np.uint8
            ).astype(_np.int64)
            dev = arr - 128
            energy = (dev * dev).reshape(n, frame_bytes).sum(axis=1)
            active = energy > threshold
            n_active = int(active.sum())
            n_segments = longest = run = 0
            for a in active:
                if a:
                    run += 1
                    if run == 1:
                        n_segments += 1
                    longest = max(longest, run)
                else:
                    run = 0
            return (doc_id, n, n_active, n_segments, longest)

        for pdf in it:
            rows = [
                r
                for d, p in zip(pdf["doc_id"], pdf["payload"])
                if (r := _one(int(d), p)) is not None
            ]
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "n_active",
                    "n_segments",
                    "longest_run",
                ],
            )

    return _widen(media).mapInPandas(_batches, schema=VAD_SCHEMA)


# ---------------------------------------------------- augmentation battery

AUGMENT_SCHEMA = (
    "doc_id long, width int, height int, flip_wsum bigint, "
    "rot_wsum bigint, crop_sum bigint, bright_sum bigint, "
    "stable_ok boolean"
)


def augment_images(media: DataFrame) -> DataFrame:
    """Training-set image augmentation battery — horizontal flip,
    90° clockwise rotation, center crop (the middle h//2 × w//2
    window at offset (h//4, w//4)), and clamped brightness (+17 per
    channel, saturating at 255) — expressed as the same Arrow-batched
    ``mapInPandas`` plumbing as the codecs: per-batch numpy, pixels
    never shuffle, nothing driver-side.

    Every augmentation emits an exact integer certificate the oracle
    replays from the payload bytes (the deterministic fake image:
    dims len%16+2 × len%8+2, payload-tiled RGB, gray = (r+g+b)//3):

    * ``flip_wsum`` — Σ gray′(x,y)·(x+1) over the FLIPPED image; the
      oracle computes Σ gray·(w−x) over the original. Equal iff the
      flip actually reverses columns (a plain gray sum would pass for
      the identity too).
    * ``rot_wsum`` — Σ gray″(x′,y′)·(x′+1) over the ROTATED image;
      clockwise (x,y) → (h−1−y, x), so the oracle computes
      Σ gray·(h−y).
    * ``crop_sum`` — gray sum of the crop window, replayed by index
      filtering.
    * ``bright_sum`` — Σ min(255, v+17) over all channel bytes of the
      brightened image (exercises the clamp, not just a shift).
    * ``stable_ok`` — flip → REAL BMP encode/decode → flip returns
      the original image byte-for-byte (augmentation composed through
      the codec is an involution)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _one(payload: bytes):
            b = bytes(payload)
            w = len(b) % 16 + 2
            h = len(b) % 8 + 2
            need = w * h * 3
            if not b:
                b = b"\x00"
            img = _np.frombuffer(
                (b * (need // max(len(b), 1) + 1))[:need], dtype=_np.uint8
            ).reshape(h, w, 3)
            gray = img.astype(_np.int64).sum(axis=2) // 3

            flipped = gray[:, ::-1]
            flip_wsum = int((flipped * (_np.arange(w) + 1)).sum())
            # np.rot90(m, k=-1) is the clockwise rotation: out (h', w')
            # = (w, h), out[x, h-1-y] = in[y, x]
            rot = _np.rot90(gray, k=-1)
            rot_wsum = int((rot * (_np.arange(h) + 1)).sum())
            crop = gray[h // 4 : h // 4 + h // 2, w // 4 : w // 4 + w // 2]
            crop_sum = int(crop.sum())
            bright = _np.minimum(img.astype(_np.int64) + 17, 255)
            bright_sum = int(bright.sum())

            flipped_img = img[:, ::-1, :]
            w1, h1, c1, back = decode_bmp(
                encode_bmp(w, h, flipped_img.tobytes())
            )
            back_img = _np.frombuffer(back, dtype=_np.uint8).reshape(h, w, 3)
            stable = bool((back_img[:, ::-1, :] == img).all())
            return w, h, flip_wsum, rot_wsum, crop_sum, bright_sum, stable

        for pdf in it:
            rows = [_one(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": _np.array([r[0] for r in rows], dtype="int32"),
                    "height": _np.array([r[1] for r in rows], dtype="int32"),
                    "flip_wsum": _np.array([r[2] for r in rows], dtype="int64"),
                    "rot_wsum": _np.array([r[3] for r in rows], dtype="int64"),
                    "crop_sum": _np.array([r[4] for r in rows], dtype="int64"),
                    "bright_sum": _np.array([r[5] for r in rows], dtype="int64"),
                    "stable_ok": [r[6] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=AUGMENT_SCHEMA)


# ------------------------------------------------------- audio resampling

RESAMPLE_SCHEMA = (
    "doc_id long, n_samples bigint, n_down bigint, down_peak bigint, "
    "down_sum_sq bigint, n_up bigint, up_sum bigint, roundtrip_ok boolean"
)


def resample_audio(media: DataFrame) -> DataFrame:
    """Integer-exact 2× audio resampling — corpus-normalization to a
    common sample rate, the audio twin of resize_images. Each payload
    byte becomes a centered 16-bit sample (the m_audio_wav signal
    convention, sample = (byte−128)·256; stats below use byte-scale
    deltas, matching that gate's oracle convention).

    * Downsample (decimate by 2): keep even-index samples —
      ``n_down = (n+1)//2``, ``down_peak``/``down_sum_sq`` exact
      integers over the kept samples.
    * Upsample (linear midpoint): out[2i] = s[i], out[2i+1] =
      ⌊(s[i]+s[i+1])/2⌋ (floor, matching SQL floor()) —
      ``n_up = 2n−1``, ``up_sum`` the exact integer sum.
    * ``roundtrip_ok`` — decimate(upsample(s)) == s exactly (the
      even taps of the midpoint interpolator are the identity), the
      algebraic certificate that both directions index correctly."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _one(payload: bytes):
            b = bytes(payload)
            if not b:
                # empty doc: oracle yields n_down = (0+1)//2 = 0,
                # NULL peak/energy (list_max over an empty list),
                # n_up = 2*0-1 = -1, NULL up_sum, TRUE roundtrip.
                return (0, 0, None, None, -1, None, True)
            s = (_np.frombuffer(b, dtype=_np.uint8).astype(_np.int64) - 128)
            down = s[::2]
            up = _np.empty(2 * len(s) - 1, dtype=_np.int64)
            up[0::2] = s
            up[1::2] = (s[:-1] + s[1:]) // 2
            ok = bool((up[0::2] == s).all()) and len(up) == 2 * len(s) - 1
            return (
                len(s),
                len(down),
                int(_np.abs(down).max()),
                int((down * down).sum()),
                len(up),
                int(up.sum()),
                ok,
            )

        for pdf in it:
            rows = [_one(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": _np.array([r[0] for r in rows], dtype="int64"),
                    "n_down": _np.array([r[1] for r in rows], dtype="int64"),
                    "down_peak": _pd.array([r[2] for r in rows], dtype="Int64"),
                    "down_sum_sq": _pd.array([r[3] for r in rows], dtype="Int64"),
                    "n_up": _np.array([r[4] for r in rows], dtype="int64"),
                    "up_sum": _pd.array([r[5] for r in rows], dtype="Int64"),
                    "roundtrip_ok": [r[6] for r in rows],
                }
            )

    return _widen(media).mapInPandas(_batches, schema=RESAMPLE_SCHEMA)


# ------------------------------------------------------- scene detection

SCENES_SCHEMA = (
    "doc_id long, n_frames bigint, n_scenes bigint, "
    "max_diff bigint, sum_diff bigint"
)


def detect_scenes(
    media: DataFrame, frame_bytes: int = 16, threshold: int = 128
) -> DataFrame:
    """Video scene-change detection — the shot-boundary pass a video
    curation pipeline runs before per-scene sampling/captioning.
    Frames are the deterministic fixed-size raw slices of the payload
    (the sample_frames rule, stride 1); the inter-frame difference is
    the exact integer L1 energy Σ|frame_i − frame_{i+1}| per byte
    lane, and a scene boundary is a difference above ``threshold``.

    Emits per document: ``n_frames``, ``n_scenes`` (1 + boundary
    count; 0 for frameless payloads), ``max_diff`` and ``sum_diff`` —
    all exact integers the oracle replays from character codes. With
    a real container the frames would come from the MJPEG demuxer
    (sources/video.py); the detection math is the same. numpy inside
    Arrow-batched mapInPandas; frames never shuffle."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _one(payload: bytes):
            b = bytes(payload)
            nf = len(b) // frame_bytes
            if nf == 0:
                return 0, 0, 0, 0
            arr = _np.frombuffer(
                b[: nf * frame_bytes], dtype=_np.uint8
            ).astype(_np.int64).reshape(nf, frame_bytes)
            if nf == 1:
                return 1, 1, 0, 0
            diffs = _np.abs(arr[1:] - arr[:-1]).sum(axis=1)
            return (
                nf,
                1 + int((diffs > threshold).sum()),
                int(diffs.max()),
                int(diffs.sum()),
            )

        for pdf in it:
            rows = [_one(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": _np.array([r[0] for r in rows], dtype="int64"),
                    "n_scenes": _np.array([r[1] for r in rows], dtype="int64"),
                    "max_diff": _np.array([r[2] for r in rows], dtype="int64"),
                    "sum_diff": _np.array([r[3] for r in rows], dtype="int64"),
                }
            )

    return _widen(media).mapInPandas(_batches, schema=SCENES_SCHEMA)
