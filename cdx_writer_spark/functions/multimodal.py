"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image and video payloads are `binary` columns; decode/feature ops
run as Arrow-batched functions over ``mapInPandas``.

PNG payloads decode/resize FOR REAL via the pure-stdlib codec in
:mod:`.png` (zlib + struct); GIF payloads — including animated
multi-frame GIFs, the honest "video" this container can decode —
via :mod:`.gif` (struct + hand LZW); baseline JPEGs via :mod:`.jpeg`
(canonical Huffman + dequant + IDCT + YCbCr); uncompressed 24/32-bit
BMPs via :mod:`.bmp`; uncompressed strip TIFFs (both byte orders)
via :mod:`.tiff`.  Malformed payloads yield a per-row
``decode_error:*`` status rather than aborting the
batch.  Every other format (video codecs, progressive JPEG, WebP)
needs PIL/ffmpeg, which are NOT in this container, so those rows get
a per-row ``unsupported_format`` status (a mixed-format batch must
never abort) — unless ``fake_decode=True``,
which substitutes a deterministic hash-derived decode so the Spark-side
plumbing (schema, batching, partitioning, UDF signature) is testable
and independently recomputable by the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)

# magic-byte sniffing (native; no Python)
_MAGIC = {
    "89504E47": "image/png",
    "FFD8FFE0": "image/jpeg",
    "FFD8FFE1": "image/jpeg",
    "47494638": "image/gif",
    "52494646": "riff",  # wav/webp container
    "1A45DFA3": "video/webm",
    "49492A00": "image/tiff",
    "4D4D002A": "image/tiff",
}


def sniff_mime_col(bin_col: F.Column) -> F.Column:
    # when-chain over the magic table (hex of the first 4 bytes)
    expr = None
    for magic, mime in _MAGIC.items():
        cond = F.hex(F.substring(bin_col, 1, 4)) == magic
        expr = F.when(cond, F.lit(mime)) if expr is None else expr.when(
            cond, F.lit(mime))
    return expr.otherwise(F.lit("application/octet-stream"))


def attach_binary_meta(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Typed metadata columns for an opaque binary column: byte size,
    sniffed mime, content digest prefix (all JVM-side)."""
    c = F.col(bin_col)
    return (
        df.withColumn("payload_bytes", F.octet_length(c).cast("long"))
        .withColumn("payload_mime", sniff_mime_col(c))
        .withColumn("payload_digest", F.sha2(c, 256))
    )


IMAGE_DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("features", ArrayType(FloatType())),
    StructField("decode_status", StringType()),
])


def decode_images(df: DataFrame, bin_col: str = "payload",
                  id_col: str = "doc_id", feature_dim: int = 8,
                  fake_decode: bool = False) -> DataFrame:
    """Arrow-batched image decode + feature extraction over mapInPandas.

    PNG payloads decode for real (pure-stdlib codec, :mod:`.png`):
    width/height/channels from IHDR, pixels unfiltered, features =
    per-channel mean+std (see ``png.features_from_pixels``); GIF
    payloads decode for real too (:mod:`.gif` — first frame, palette
    applied), as do baseline JPEGs (:mod:`.jpeg` — Huffman +
    dequant + IDCT + YCbCr, grayscale/4:4:4/4:2:2/4:2:0) and
    uncompressed 24/32-bit BMPs (:mod:`.bmp`); malformed
    payloads get a per-row ``decode_error:<reason>`` status.
    Other formats require PIL/cv2 (absent here): without
    `fake_decode` those rows get a per-row ``unsupported_format``
    status at the kernel, the clearly-marked integration point.  With `fake_decode=True` a
    deterministic stand-in derives (width, height, features) from the
    payload's sha256 — stable across runs/partitionings, so the
    pipeline shape (schema, batch iteration, column pruning) is fully
    testable, AND independently recomputable by an ANSI-SQL oracle
    (DuckDB has sha256; feature values are exact dyadic rationals
    byte/256, so no float-rounding ambiguity crosses the engine
    boundary).
    """

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import bmp as bmplib
        from . import gif as giflib
        from . import jpeg as jpeglib
        from . import png as pnglib
        from . import tiff as tifflib

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_channels": [], "features": [], "decode_status": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                out["doc_id"].append(doc_id)
                if payload is None:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_channels"].append(None)
                    out["features"].append(None)
                    out["decode_status"].append("null_payload")
                    continue
                if not fake_decode:
                    data = bytes(payload)
                    if data.startswith(pnglib.PNG_SIGNATURE):
                        try:
                            w, h, ch, pix = pnglib.decode_png(data)
                            out["width"].append(w)
                            out["height"].append(h)
                            out["n_channels"].append(ch)
                            out["features"].append(
                                pnglib.features_from_pixels(
                                    pix, ch, feature_dim))
                            out["decode_status"].append("ok_png")
                        except pnglib.PngError as e:
                            out["width"].append(None)
                            out["height"].append(None)
                            out["n_channels"].append(None)
                            out["features"].append(None)
                            out["decode_status"].append(
                                f"decode_error:{e}")
                        continue
                    if data.startswith(giflib.GIF_SIGNATURES):
                        try:
                            _, _, frames = giflib.decode_gif(data)
                            f0 = frames[0]
                            out["width"].append(f0["width"])
                            out["height"].append(f0["height"])
                            out["n_channels"].append(3)
                            out["features"].append(
                                pnglib.features_from_pixels(
                                    f0["rgb"], 3, feature_dim))
                            out["decode_status"].append("ok_gif")
                        except giflib.GifError as e:
                            out["width"].append(None)
                            out["height"].append(None)
                            out["n_channels"].append(None)
                            out["features"].append(None)
                            out["decode_status"].append(
                                f"decode_error:{e}")
                        continue
                    if data.startswith(jpeglib.JPEG_SOI):
                        try:
                            w, h, ch, pix = jpeglib.decode_jpeg(data)
                            out["width"].append(w)
                            out["height"].append(h)
                            out["n_channels"].append(ch)
                            out["features"].append(
                                pnglib.features_from_pixels(
                                    pix, ch, feature_dim))
                            out["decode_status"].append("ok_jpeg")
                        except jpeglib.JpegError as e:
                            out["width"].append(None)
                            out["height"].append(None)
                            out["n_channels"].append(None)
                            out["features"].append(None)
                            out["decode_status"].append(
                                f"decode_error:{e}")
                        continue
                    if data.startswith(bmplib.BMP_MAGIC):
                        try:
                            w, h, ch, pix = bmplib.decode_bmp(data)
                            out["width"].append(w)
                            out["height"].append(h)
                            out["n_channels"].append(ch)
                            out["features"].append(
                                pnglib.features_from_pixels(
                                    pix, ch, feature_dim))
                            out["decode_status"].append("ok_bmp")
                        except bmplib.BmpError as e:
                            out["width"].append(None)
                            out["height"].append(None)
                            out["n_channels"].append(None)
                            out["features"].append(None)
                            out["decode_status"].append(
                                f"decode_error:{e}")
                        continue
                    if data.startswith(tifflib.TIFF_MAGICS):
                        try:
                            w, h, ch, pix = tifflib.decode_tiff(data)
                            out["width"].append(w)
                            out["height"].append(h)
                            out["n_channels"].append(ch)
                            out["features"].append(
                                pnglib.features_from_pixels(
                                    pix, ch, feature_dim))
                            out["decode_status"].append("ok_tiff")
                        except tifflib.TiffError as e:
                            out["width"].append(None)
                            out["height"].append(None)
                            out["n_channels"].append(None)
                            out["features"].append(None)
                            out["decode_status"].append(
                                f"decode_error:{e}")
                        continue
                    # unsupported container (webp/ico/... — the
                    # real decoder needs PIL/cv2, absent here): a
                    # per-row status, NEVER a raise — one off-format
                    # payload in a mixed batch must not abort a
                    # 100 TB scan (same contract as decode_error)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_channels"].append(None)
                    out["features"].append(None)
                    out["decode_status"].append("unsupported_format")
                    continue
                d = hashlib.sha256(bytes(payload)).digest()
                out["width"].append(64 + d[0])
                out["height"].append(64 + d[1])
                out["n_channels"].append(3)
                # byte/256 is exactly representable in binary floating
                # point at any width -> byte-identical across engines
                out["features"].append(
                    [b / 256.0 for b in d[:feature_dim]])
                out["decode_status"].append("ok_fake")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=IMAGE_DECODE_SCHEMA)


IMAGE_RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("out_width", IntegerType()),
    StructField("out_height", IntegerType()),
    StructField("resized_bytes", LongType()),
    StructField("resized_digest", StringType()),
    StructField("resize_status", StringType()),
])


def resize_images(df: DataFrame, bin_col: str = "payload",
                  id_col: str = "doc_id", width: int = 64,
                  height: int = 64, fake_resize: bool = False) -> DataFrame:
    """Arrow-batched image resize over mapInPandas (1 row -> 1 row).

    PNG/GIF/JPEG/BMP payloads resize for real: decode (pure-stdlib
    codecs in :mod:`.png` / :mod:`.gif` / :mod:`.jpeg` / :mod:`.bmp`;
    GIF uses the first frame), nearest-neighbor resample,
    deterministic PNG re-encode
    (fixed zlib level) — resized_bytes = encoded PNG size,
    resized_digest = md5 of the encoded PNG, resize_status =
    ``ok_<fmt>``.  Other formats need PIL/cv2 (absent from this
    container) and surface as per-row ``unsupported_format`` status
    rows, the clearly-marked integration point; ``fake_resize=True`` substitutes a deterministic stand-in —
    resized_digest = md5(sha256(payload) || '@WxH') and resized_bytes =
    W*H*3 (the raw RGB buffer a real resize would produce) — so the
    batching/schema/pruning plumbing is fully testable and the DuckDB
    oracle recomputes every value (both engines hash the same
    lowercase-hex UTF-8 string).
    """

    tag = f"@{width}x{height}"

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import bmp as bmplib
        from . import gif as giflib
        from . import jpeg as jpeglib
        from . import png as pnglib
        from . import tiff as tifflib

        for pdf in batches:
            out = {"doc_id": [], "out_width": [], "out_height": [],
                   "resized_bytes": [], "resized_digest": [],
                   "resize_status": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                out["doc_id"].append(doc_id)
                if payload is None:
                    out["out_width"].append(None)
                    out["out_height"].append(None)
                    out["resized_bytes"].append(None)
                    out["resized_digest"].append(None)
                    out["resize_status"].append("null_payload")
                    continue
                if not fake_resize:
                    data = bytes(payload)
                    if data.startswith(pnglib.PNG_SIGNATURE):
                        fmt = "png"
                    elif data.startswith(giflib.GIF_SIGNATURES):
                        fmt = "gif"
                    elif data.startswith(jpeglib.JPEG_SOI):
                        fmt = "jpeg"
                    elif data.startswith(bmplib.BMP_MAGIC):
                        fmt = "bmp"
                    elif data.startswith(tifflib.TIFF_MAGICS):
                        fmt = "tiff"
                    else:
                        # unsupported container: per-row status, never
                        # a raise (see decode_images)
                        out["out_width"].append(None)
                        out["out_height"].append(None)
                        out["resized_bytes"].append(None)
                        out["resized_digest"].append(None)
                        out["resize_status"].append(
                            "unsupported_format")
                        continue
                    try:
                        if fmt == "png":
                            w0, h0, ch, pix = pnglib.decode_png(data)
                        elif fmt == "gif":
                            # frame dims, NOT logical-screen dims: the
                            # first frame of a valid GIF may cover only
                            # a sub-rectangle of the screen
                            _, _, frames = giflib.decode_gif(data)
                            f0 = frames[0]
                            w0, h0 = f0["width"], f0["height"]
                            ch, pix = 3, f0["rgb"]
                        elif fmt == "jpeg":
                            w0, h0, ch, pix = jpeglib.decode_jpeg(data)
                        elif fmt == "tiff":
                            w0, h0, ch, pix = tifflib.decode_tiff(data)
                        else:
                            w0, h0, ch, pix = bmplib.decode_bmp(data)
                        resized = pnglib.resize_nearest(
                            pix, w0, h0, ch, width, height)
                        enc = pnglib.encode_png(
                            width, height, ch, resized)
                        out["out_width"].append(width)
                        out["out_height"].append(height)
                        out["resized_bytes"].append(len(enc))
                        out["resized_digest"].append(
                            hashlib.md5(enc).hexdigest())
                        out["resize_status"].append(f"ok_{fmt}")
                    except (pnglib.PngError, giflib.GifError,
                            jpeglib.JpegError, bmplib.BmpError,
                            tifflib.TiffError) as e:
                        out["out_width"].append(None)
                        out["out_height"].append(None)
                        out["resized_bytes"].append(None)
                        out["resized_digest"].append(None)
                        out["resize_status"].append(
                            f"decode_error:{e}")
                    continue
                dg = hashlib.sha256(bytes(payload)).hexdigest()
                out["out_width"].append(width)
                out["out_height"].append(height)
                out["resized_bytes"].append(width * height * 3)
                out["resized_digest"].append(
                    hashlib.md5((dg + tag).encode()).hexdigest())
                out["resize_status"].append("ok_fake")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=IMAGE_RESIZE_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("frame_index", IntegerType()),
    StructField("frame_digest", StringType()),
    StructField("frame_luma_x256", IntegerType()),
])


def sample_frames(df: DataFrame, bin_col: str = "payload",
                  id_col: str = "doc_id", stride: int = 4,
                  fake_decode: bool = False) -> DataFrame:
    """Video frame sampling over mapInPandas — the 1-row -> N-rows batch
    shape (each input payload fans out to every ``stride``-th frame).

    Animated GIFs sample for real (:mod:`.gif` — hand LZW, every frame
    decoded, digest = md5 of the frame's RGB bytes, luma = the exact
    integer mean of the ITU-601-ish (54r+183g+19b)/256 weighting);
    malformed GIFs yield one ``decode_error:*`` row.  MJPEG-AVI
    containers also sample for real (:mod:`.avi` demux + :mod:`.jpeg`
    per-frame decode; digest = md5 of the decoded sample bytes).
    Every other video container needs ffmpeg/cv2 (absent here) and
    yields one ``unsupported_format`` row, the marked integration
    point.  With
    ``fake_decode=True`` the frame count and per-frame values derive
    deterministically from the payload digest — n_frames = 8 +
    (sha256 byte 2 mod 25), frame_digest = md5(hex_digest ':' index),
    luma byte = first byte of the frame digest — stable across runs
    and partitionings, and independently recomputable by the DuckDB
    oracle (range + md5 over the same strings).
    """

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import avi as avilib
        from . import gif as giflib
        from . import jpeg as jpeglib

        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "frame_index": [],
                   "frame_digest": [], "frame_luma_x256": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                if payload is None:
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(None)
                    out["frame_index"].append(None)
                    out["frame_digest"].append(None)
                    out["frame_luma_x256"].append(None)
                    continue
                if not fake_decode:
                    data = bytes(payload)
                    if data.startswith(giflib.GIF_SIGNATURES):
                        try:
                            _, _, frames = giflib.decode_gif(data)
                        except giflib.GifError as e:
                            out["doc_id"].append(doc_id)
                            out["n_frames"].append(None)
                            out["frame_index"].append(None)
                            out["frame_digest"].append(
                                f"decode_error:{e}")
                            out["frame_luma_x256"].append(None)
                            continue
                        for i in range(0, len(frames), stride):
                            rgb = frames[i]["rgb"]
                            npx = len(rgb) // 3
                            luma = (54 * sum(rgb[0::3])
                                    + 183 * sum(rgb[1::3])
                                    + 19 * sum(rgb[2::3])) \
                                // (256 * npx)
                            out["doc_id"].append(doc_id)
                            out["n_frames"].append(len(frames))
                            out["frame_index"].append(i)
                            out["frame_digest"].append(
                                hashlib.md5(rgb).hexdigest())
                            out["frame_luma_x256"].append(luma)
                        continue
                    if avilib.is_avi(data):
                        # MJPEG-AVI: real container demux + per-frame
                        # JPEG decode (functions/avi.py); digest = md5
                        # of the decoded sample bytes
                        try:
                            _, _, _, jframes = avilib.parse_avi(data)
                            for i in range(0, len(jframes), stride):
                                w, h, nch, px = \
                                    jpeglib.decode_jpeg(jframes[i])
                                buf = bytes(px)
                                npx = len(buf) // nch
                                if nch >= 3:
                                    luma = (54 * sum(buf[0::nch])
                                            + 183 * sum(buf[1::nch])
                                            + 19 * sum(buf[2::nch])) \
                                        // (256 * npx)
                                else:
                                    luma = sum(buf) // npx
                                out["doc_id"].append(doc_id)
                                out["n_frames"].append(len(jframes))
                                out["frame_index"].append(i)
                                out["frame_digest"].append(
                                    hashlib.md5(buf).hexdigest())
                                out["frame_luma_x256"].append(luma)
                        except (avilib.AviError,
                                jpeglib.JpegError) as e:
                            # a mid-stream bad frame passes the
                            # container parse (only SOI is checked);
                            # drop this doc's partial ok rows so one
                            # doc never mixes ok and error rows
                            while (out["doc_id"]
                                   and out["doc_id"][-1] == doc_id
                                   and out["frame_index"][-1]
                                   is not None):
                                for key in out:
                                    out[key].pop()
                            out["doc_id"].append(doc_id)
                            out["n_frames"].append(None)
                            out["frame_index"].append(None)
                            out["frame_digest"].append(
                                f"decode_error:{e}")
                            out["frame_luma_x256"].append(None)
                        continue
                    # unsupported container (mp4/webm/... need
                    # ffmpeg/cv2, absent here): one status row via the
                    # same channel decode errors use — never a raise
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(None)
                    out["frame_index"].append(None)
                    out["frame_digest"].append("unsupported_format")
                    out["frame_luma_x256"].append(None)
                    continue
                d = hashlib.sha256(bytes(payload))
                hx = d.hexdigest()
                n_frames = 8 + d.digest()[2] % 25
                for i in range(0, n_frames, stride):
                    fd = hashlib.md5(f"{hx}:{i}".encode()).hexdigest()
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(n_frames)
                    out["frame_index"].append(i)
                    out["frame_digest"].append(fd)
                    out["frame_luma_x256"].append(int(fd[:2], 16))
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=FRAME_SAMPLE_SCHEMA)


GIF_FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("frame_index", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("luma_sum", LongType()),
    StructField("pix_md5", StringType()),
    StructField("frame_status", StringType()),
])


def gif_frame_features(df: DataFrame, bin_col: str = "payload",
                       id_col: str = "doc_id",
                       stride: int = 2) -> DataFrame:
    """REAL animated-GIF frame sampling with exact-integer features —
    the oracle-checkable face of the :mod:`.gif` codec.

    Every ``stride``-th frame of each GIF payload yields one row:
    dimensions, ``luma_sum`` = the exact int64 sum of per-pixel lumas
    (``(54r + 183g + 19b) // 256`` — equal to the palette index on a
    grayscale ramp, so a SQL oracle re-derives it from a fixture's
    generation rule with pure integer arithmetic), and ``pix_md5`` =
    md5 of the comma-joined luma values (both engines hash the same
    UTF-8 string — a decoder that mis-read any LZW code, palette entry
    or interlace row could not match).  Malformed GIFs produce a
    single ``decode_error:*`` row; non-GIF payloads a ``not_gif`` row
    — never a batch abort."""

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import gif as giflib

        def err_row(doc_id, status):
            out["doc_id"].append(doc_id)
            out["n_frames"].append(None)
            out["frame_index"].append(None)
            out["width"].append(None)
            out["height"].append(None)
            out["luma_sum"].append(None)
            out["pix_md5"].append(None)
            out["frame_status"].append(status)

        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "frame_index": [],
                   "width": [], "height": [], "luma_sum": [],
                   "pix_md5": [], "frame_status": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                if payload is None:
                    err_row(doc_id, "null_payload")
                    continue
                data = bytes(payload)
                if not data.startswith(giflib.GIF_SIGNATURES):
                    err_row(doc_id, "not_gif")
                    continue
                try:
                    _, _, frames = giflib.decode_gif(data)
                except giflib.GifError as e:
                    err_row(doc_id, f"decode_error:{e}")
                    continue
                for i in range(0, len(frames), stride):
                    fr = frames[i]
                    rgb = fr["rgb"]
                    lumas = [(54 * rgb[p] + 183 * rgb[p + 1]
                              + 19 * rgb[p + 2]) // 256
                             for p in range(0, len(rgb), 3)]
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(len(frames))
                    out["frame_index"].append(i)
                    out["width"].append(fr["width"])
                    out["height"].append(fr["height"])
                    out["luma_sum"].append(sum(lumas))
                    out["pix_md5"].append(hashlib.md5(
                        ",".join(str(v) for v in lumas)
                        .encode()).hexdigest())
                    out["frame_status"].append("ok_gif")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=GIF_FRAME_SCHEMA)


def avi_frame_features(df: DataFrame, bin_col: str = "payload",
                       id_col: str = "doc_id",
                       stride: int = 2) -> DataFrame:
    """REAL video frame sampling from an MJPEG-AVI container — the
    oracle-checkable face of the :mod:`.avi` parser composed with the
    :mod:`.jpeg` decoder (the video pipeline's actual shape: container
    demux, then per-frame still-image decode).

    Every ``stride``-th frame yields one row with the frame's decoded
    dimensions, ``luma_sum`` = exact int64 sum of the decoded samples
    (grayscale MJPEG: the samples themselves) and ``pix_md5`` = md5 of
    the comma-joined sample values — both engines hash the same UTF-8
    string, so a slip in RIFF chunk walking, frame extraction, Huffman
    decoding or the IDCT breaks the hash.  Malformed containers or
    frames produce a single ``*_error:*`` row; non-AVI payloads a
    ``not_avi`` row — never a batch abort."""

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import avi as avilib
        from . import jpeg as jpeglib

        def err_row(doc_id, status):
            out["doc_id"].append(doc_id)
            out["n_frames"].append(None)
            out["frame_index"].append(None)
            out["width"].append(None)
            out["height"].append(None)
            out["luma_sum"].append(None)
            out["pix_md5"].append(None)
            out["frame_status"].append(status)

        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "frame_index": [],
                   "width": [], "height": [], "luma_sum": [],
                   "pix_md5": [], "frame_status": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                if payload is None:
                    err_row(doc_id, "null_payload")
                    continue
                data = bytes(payload)
                if not avilib.is_avi(data):
                    err_row(doc_id, "not_avi")
                    continue
                try:
                    _, _, _, frames = avilib.parse_avi(data)
                except avilib.AviError as e:
                    err_row(doc_id, f"container_error:{e}")
                    continue
                try:
                    for i in range(0, len(frames), stride):
                        w, h, nch, px = jpeglib.decode_jpeg(frames[i])
                        if nch != 1:
                            # color MJPEG: luma over RGB triplets
                            lumas = [(54 * px[p] + 183 * px[p + 1]
                                      + 19 * px[p + 2]) // 256
                                     for p in range(0, len(px), 3)]
                        else:
                            lumas = list(px)
                        out["doc_id"].append(doc_id)
                        out["n_frames"].append(len(frames))
                        out["frame_index"].append(i)
                        out["width"].append(w)
                        out["height"].append(h)
                        out["luma_sum"].append(sum(lumas))
                        out["pix_md5"].append(hashlib.md5(
                            ",".join(str(v) for v in lumas)
                            .encode()).hexdigest())
                        out["frame_status"].append("ok_avi")
                except jpeglib.JpegError as e:
                    # drop this doc's partial rows: a per-doc error row
                    # is clearer than a mixed ok/error fan-out
                    while (out["doc_id"] and out["doc_id"][-1] == doc_id
                           and out["frame_status"][-1] == "ok_avi"):
                        for k in out:
                            out[k].pop()
                    err_row(doc_id, f"frame_error:{e}")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=GIF_FRAME_SCHEMA)


JPEG_GRAY_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("luma_sum", LongType()),
    StructField("pix_md5", StringType()),
    StructField("decode_status", StringType()),
])


def jpeg_gray_features(df: DataFrame, bin_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """REAL baseline-JPEG decode with exact-integer features — the
    oracle-checkable face of the :mod:`.jpeg` decoder.

    One row per payload: dimensions, ``luma_sum`` = exact int64 sum of
    the decoded samples (grayscale: the samples themselves; color: the
    ``(54r + 183g + 19b) // 256`` per-pixel luma), and ``pix_md5`` =
    md5 of the comma-joined sample values.  The driver fixture is a
    constant-block grayscale JPEG with unit quantizers — LOSSLESS by
    construction (module docstring) — so a SQL oracle re-derives both
    values from the generation rule with pure integer arithmetic; a
    decoder that mis-stepped anywhere in marker parsing, Huffman
    decoding, predictor tracking or the IDCT could not match."""

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import jpeg as jpeglib

        def err_row(doc_id, status):
            out["doc_id"].append(doc_id)
            out["width"].append(None)
            out["height"].append(None)
            out["n_channels"].append(None)
            out["luma_sum"].append(None)
            out["pix_md5"].append(None)
            out["decode_status"].append(status)

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_channels": [], "luma_sum": [], "pix_md5": [],
                   "decode_status": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                if payload is None:
                    err_row(doc_id, "null_payload")
                    continue
                data = bytes(payload)
                if not data.startswith(jpeglib.JPEG_SOI):
                    err_row(doc_id, "not_jpeg")
                    continue
                try:
                    w, h, ch, pix = jpeglib.decode_jpeg(data)
                except jpeglib.JpegError as e:
                    err_row(doc_id, f"decode_error:{e}")
                    continue
                if ch == 1:
                    lumas = list(pix)
                else:
                    lumas = [(54 * pix[p] + 183 * pix[p + 1]
                              + 19 * pix[p + 2]) // 256
                             for p in range(0, len(pix), 3)]
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(ch)
                out["luma_sum"].append(sum(lumas))
                out["pix_md5"].append(hashlib.md5(
                    ",".join(str(v) for v in lumas)
                    .encode()).hexdigest())
                out["decode_status"].append("ok_jpeg")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=JPEG_GRAY_SCHEMA)


BMP_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("ch0_sum", LongType()),
    StructField("pix_md5", StringType()),
    StructField("decode_status", StringType()),
])


def bmp_features(df: DataFrame, bin_col: str = "payload",
                 id_col: str = "doc_id") -> DataFrame:
    """REAL uncompressed-BMP decode with exact-integer features — the
    oracle-checkable face of the :mod:`.bmp` decoder.

    One row per payload: dimensions/channels, ``ch0_sum`` = exact
    int64 sum of the channel-0 (red) samples, and ``pix_md5`` = md5 of
    the comma-joined decoded sample values.  BMP is lossless, so a SQL
    oracle re-derives both from the fixture generation rule with pure
    integer arithmetic; a decoder that mis-stepped in row order
    (bottom-up), stride padding or the BGR swap could not match."""

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import bmp as bmplib

        def err_row(doc_id, status):
            out["doc_id"].append(doc_id)
            out["width"].append(None)
            out["height"].append(None)
            out["n_channels"].append(None)
            out["ch0_sum"].append(None)
            out["pix_md5"].append(None)
            out["decode_status"].append(status)

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_channels": [], "ch0_sum": [], "pix_md5": [],
                   "decode_status": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                if payload is None:
                    err_row(doc_id, "null_payload")
                    continue
                data = bytes(payload)
                if not data.startswith(bmplib.BMP_MAGIC):
                    err_row(doc_id, "not_bmp")
                    continue
                try:
                    w, h, ch, pix = bmplib.decode_bmp(data)
                except bmplib.BmpError as e:
                    err_row(doc_id, f"decode_error:{e}")
                    continue
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(ch)
                out["ch0_sum"].append(sum(pix[0::ch]))
                out["pix_md5"].append(hashlib.md5(
                    ",".join(str(v) for v in pix)
                    .encode()).hexdigest())
                out["decode_status"].append("ok_bmp")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=BMP_FEATURES_SCHEMA)


def tiff_features(df: DataFrame, bin_col: str = "payload",
                  id_col: str = "doc_id") -> DataFrame:
    """REAL uncompressed-TIFF decode with exact-integer features — the
    oracle-checkable face of the :mod:`.tiff` decoder (same contract
    as :func:`bmp_features`: ``ch0_sum`` = exact int64 channel-0 sum,
    ``pix_md5`` = md5 of the comma-joined decoded samples; TIFF strips
    are lossless, so a SQL oracle re-derives both from the fixture
    generation rule — a decoder that mis-stepped in strip assembly,
    byte order or tag layout could not match)."""

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import pandas as pd

        from . import tiff as tifflib

        def err_row(doc_id, status):
            out["doc_id"].append(doc_id)
            out["width"].append(None)
            out["height"].append(None)
            out["n_channels"].append(None)
            out["ch0_sum"].append(None)
            out["pix_md5"].append(None)
            out["decode_status"].append(status)

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_channels": [], "ch0_sum": [], "pix_md5": [],
                   "decode_status": []}
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                if payload is None:
                    err_row(doc_id, "null_payload")
                    continue
                data = bytes(payload)
                if not data.startswith(tifflib.TIFF_MAGICS):
                    err_row(doc_id, "not_tiff")
                    continue
                try:
                    w, h, ch, pix = tifflib.decode_tiff(data)
                except tifflib.TiffError as e:
                    err_row(doc_id, f"decode_error:{e}")
                    continue
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(ch)
                out["ch0_sum"].append(sum(pix[0::ch]))
                out["pix_md5"].append(hashlib.md5(
                    ",".join(str(v) for v in pix)
                    .encode()).hexdigest())
                out["decode_status"].append("ok_tiff")
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(
        kernel, schema=BMP_FEATURES_SCHEMA)

