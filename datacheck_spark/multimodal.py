"""Multimodal columns: opaque binary payloads + typed metadata.

Training-data pipeline op (task brief): images/audio/video travel as
``binary`` columns with a metadata struct; decode / feature-extraction
/ resize / frame-sampling run as Arrow-batched ``mapInPandas`` stages.

Decode is REAL for PNG / BMP / JPEG (stdlib+numpy pixel decode — JPEG
through the pure baseline codec in ``datacheck_spark.codecs``), WAV (stdlib PCM decode), and AVI
containers (RIFF avih header: dims, frame count, fps, duration, PLUS
full pixel decode of MJPEG frames — ``sample_video_frames`` is the
executed frame-sampling kernel). Rows whose payload only reaches
header level (progressive JPEG, non-MJPEG frame codecs) report
``decode_status='header'`` honestly; only truly unknown containers
fall back to the clearly-marked deterministic stub so the plumbing
stays exercisable. Each row reports its ``decode_status``
(``ok`` / ``header`` / ``stub`` / ``error``).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from datacheck_spark import codecs
from datacheck_spark.rules.compiler import RuleDef, RuleSet
from datacheck_spark.schema import Severity

#: Standard multimodal row: payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), True),  # image|audio|video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)


def _decode_image_stub(payload: bytes) -> dict:
    """STUB for formats with no in-container codec (video containers,
    exotic image formats). The deterministic fake derives
    pseudo-dimensions from the payload hash so downstream plumbing
    (schema, grouping, joins) stays exercisable; rows through this path
    carry ``decode_status='stub'``."""
    import hashlib

    # deterministic digest (Python's hash() is salted per process)
    h = int.from_bytes(
        hashlib.md5(payload or b"").digest()[:4], "big"
    ) & 0x7FFFFFFF
    return {
        "decoded_width": 64 + h % 512,
        "decoded_height": 64 + (h >> 9) % 512,
        "n_bytes": len(payload or b""),
    }


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), True),
        StructField("format", StringType(), True),
        StructField("decoded_width", IntegerType(), True),
        StructField("decoded_height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("sample_rate_hz", IntegerType(), True),
        StructField("duration_ms_decoded", IntegerType(), True),
        StructField("mean_value", DoubleType(), True),
        StructField("n_bytes", IntegerType(), True),
        StructField("decode_status", StringType(), True),
        # video only: dims parsed from the first MJPEG frame's SOF
        # header inside the container (None for other kinds / codecs)
        StructField("frame_width", IntegerType(), True),
        StructField("frame_height", IntegerType(), True),
    ]
)

_EMPTY_FEATS = {
    "format": None,
    "decoded_width": None,
    "decoded_height": None,
    "frame_width": None,
    "frame_height": None,
    "n_channels": None,
    "sample_rate_hz": None,
    "duration_ms_decoded": None,
    "mean_value": None,
    "decode_status": None,
}


def _decode_one(payload: Optional[bytes]) -> dict:
    """Dispatch one payload through the real codecs; never raises."""
    out = dict(_EMPTY_FEATS)
    data = payload or b""
    out["n_bytes"] = len(data)
    fmt = codecs.sniff_format(data)
    try:
        if fmt == "png":
            d = codecs.decode_png(data)
        elif fmt == "bmp":
            d = codecs.decode_bmp(data)
        elif fmt == "jpeg":
            d = codecs.decode_jpeg(data)
        elif fmt == "avi":
            v = codecs.decode_avi_header(data)
            out.update(
                format="avi",
                decoded_width=v["width"],
                decoded_height=v["height"],
                frame_width=v.get("frame_width"),
                frame_height=v.get("frame_height"),
                n_channels=v.get("frame_channels"),
                duration_ms_decoded=v["duration_ms"],
                decode_status="header",
            )
            # MJPEG first frame: FULL pixel decode through the baseline
            # JPEG codec; non-MJPEG / scan-less frames stay at 'header'
            ff = v.get("first_frame")
            if ff and codecs.sniff_format(ff) == "jpeg":
                try:
                    fd = codecs.decode_jpeg(ff)
                except ValueError:
                    fd = None
                if fd is not None and fd.get("pixels") is not None:
                    out["decode_status"] = "ok"
                    out["mean_value"] = float(
                        np.asarray(fd["pixels"], dtype=np.float64).mean()
                    )
            return out
        elif fmt == "wav":
            w = codecs.decode_wav(data)
            out.update(
                format="wav",
                n_channels=w["channels"],
                sample_rate_hz=w["sample_rate_hz"],
                duration_ms_decoded=w["duration_ms"],
                decode_status="ok" if w["samples"] is not None else "header",
            )
            if w["samples"] is not None and len(w["samples"]):
                out["mean_value"] = float(
                    np.abs(w["samples"].astype(np.float64)).mean()
                )
            return out
        else:
            s = _decode_image_stub(data)
            out.update(
                format=fmt,
                decoded_width=s["decoded_width"],
                decoded_height=s["decoded_height"],
                decode_status="stub",
            )
            return out
    except Exception:
        out["format"] = fmt
        out["decode_status"] = "error"
        return out
    out.update(
        format=d["format"],
        decoded_width=d["width"],
        decoded_height=d["height"],
        n_channels=d.get("channels"),
        decode_status="ok" if d.get("pixels") is not None else "header",
    )
    px = d.get("pixels")
    if px is not None and px.size:
        out["mean_value"] = float(np.asarray(px, dtype=np.float64).mean())
    return out


def extract_media_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` streams column batches (payload bytes stay in Arrow
    buffers — no per-row Python round trip for the non-binary columns);
    partitioning is preserved, so co-partitioned joins against the
    source remain shuffle-free. Per-payload decode is inherently
    per-row work (each blob is one file); the Arrow batching amortizes
    the serialization, and the numpy kernels inside the codecs keep the
    pixel math vectorized.
    """

    cols = [f.name for f in FEATURE_SCHEMA.fields]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_one(p) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "kind", pdf["kind"].values)
            yield out[cols]

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), True),
        StructField("resize_status", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("payload", BinaryType(), True),
    ]
)


def _nn_resize(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy index math (vectorized)."""
    h, w = px.shape[:2]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return px[ys][:, xs]


def resize_images(
    df: DataFrame, width: int, height: int
) -> DataFrame:
    """Resize image payloads to ``width``×``height`` — REAL for every
    format with a real pixel decode (PNG, 24-bpp BMP, baseline JPEG):
    decode → vectorized nearest-neighbor index resize → re-encode PNG.
    Arrow-batched ``mapInPandas``; rows whose format has no pixel
    decode pass through with ``resize_status='unsupported'`` and a
    null payload rather than a fake image, so downstream counts stay
    honest.
    """

    def _resize_one(payload: Optional[bytes]) -> tuple:
        data = payload or b""
        fmt = codecs.sniff_format(data)
        try:
            if fmt == "png":
                d = codecs.decode_png(data)
            elif fmt == "bmp":
                d = codecs.decode_bmp(data)
            elif fmt == "jpeg":
                d = codecs.decode_jpeg(data)
            else:
                return ("unsupported", None, None, None)
            px = d.get("pixels")
            if px is None:
                return ("unsupported", None, None, None)
            out = _nn_resize(np.asarray(px), width, height)
            return ("ok", width, height, codecs.encode_png(out))
        except Exception:
            return ("error", None, None, None)

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_resize_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "resize_status": [r[0] for r in rows],
                    "width": pd.array(
                        [r[1] for r in rows], dtype="Int32"
                    ),
                    "height": pd.array(
                        [r[2] for r in rows], dtype="Int32"
                    ),
                    "payload": [r[3] for r in rows],
                }
            )

    return df.mapInPandas(do, schema=RESIZE_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Frame-sampling plan for video rows: explode (media_id, frame_ts)
    pairs natively from duration metadata — the decode of each frame is
    the codec kernel's job; the plan (which frames, how many rows) is
    pure Catalyst."""
    return (
        df.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_ts_ms", IntegerType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("mean_value", DoubleType(), True),
        StructField("decode_status", StringType(), False),
    ]
)


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Executed frame sampling: for each AVI payload, walk the 'movi'
    chunk list, pick one frame every ``every_ms`` of stream time, and
    FULLY decode each sampled MJPEG frame to pixels through the
    baseline JPEG codec (``frame_sample_plan`` is the Catalyst-side
    planning twin — this is the kernel that runs it). Arrow-batched
    ``mapInPandas``; per-payload decode is inherently per-row work.
    Non-AVI payloads yield no rows; frames whose codec can't decode to
    pixels are still emitted with ``decode_status='header'``/'error'
    so sampled-frame counts stay auditable."""

    cols = [f.name for f in FRAME_SCHEMA.fields]

    def _frames_one(media_id: str, payload: Optional[bytes]) -> list:
        data = payload or b""
        if codecs.sniff_format(data) != "avi":
            return []
        try:
            hdr = codecs.decode_avi_header(data)
            frames = codecs.avi_video_frames(data)
        except ValueError:
            return []
        fps = hdr["fps"] or 25.0
        step = max(1, int(round(every_ms * fps / 1000.0)))
        rows = []
        for idx in range(0, len(frames), step):
            ts = int(round(idx * 1000.0 / fps))
            fb = frames[idx]
            w = h = nc = None
            mean = None
            status = "header"
            try:
                if codecs.sniff_format(fb) == "jpeg":
                    fd = codecs.decode_jpeg(fb)
                    w, h, nc = fd["width"], fd["height"], fd["channels"]
                    if fd["pixels"] is not None:
                        status = "ok"
                        mean = float(
                            np.asarray(fd["pixels"], np.float64).mean()
                        )
            except ValueError:
                status = "error"
            rows.append((media_id, idx, ts, w, h, nc, mean, status))
        return rows

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rows.extend(_frames_one(mid, payload))
            out = pd.DataFrame(rows, columns=cols)
            out["frame_idx"] = out["frame_idx"].astype("int32")
            out["frame_ts_ms"] = out["frame_ts_ms"].astype("int32")
            out["width"] = pd.array(out["width"], dtype="Int32")
            out["height"] = pd.array(out["height"], dtype="Int32")
            out["n_channels"] = pd.array(out["n_channels"], dtype="Int32")
            yield out

    return df.where(F.col("kind") == "video").mapInPandas(
        do, schema=FRAME_SCHEMA
    )


def media_integrity_rules() -> RuleSet:
    """Validation rules for media tables, a rule suite like any other
    (compile it through ``ValidationEngine(ruleset=...)``): payload
    present, positive dimensions for images, positive duration for
    audio/video, known kind. Each builder returns ``(passed,
    observed)``; a row a rule cannot decide (e.g. a null ``kind``)
    fails it."""
    def kind():
        return F.col("kind")

    rs = RuleSet("media_integrity", load_builtins=False)
    for rd in (
        RuleDef(
            "payload_present", "payload present", Severity.ERROR,
            lambda df, s: (
                F.col("payload").isNotNull() & (F.length(F.col("payload")) > 0),
                None,
            ),
        ),
        RuleDef(
            "kind_known", "kind known", Severity.ERROR,
            lambda df, s: (kind().isin(["image", "audio", "video"]), kind()),
        ),
        RuleDef(
            "image_dims_positive", "image dims positive", Severity.WARNING,
            lambda df, s: (
                (kind() != "image")
                | (
                    F.col("width").isNotNull()
                    & (F.col("width") > 0)
                    & F.col("height").isNotNull()
                    & (F.col("height") > 0)
                ),
                None,
            ),
        ),
        RuleDef(
            "av_duration_positive", "audio/video duration positive",
            Severity.WARNING,
            lambda df, s: (
                (~kind().isin(["audio", "video"]))
                | (F.col("duration_ms").isNotNull() & (F.col("duration_ms") > 0)),
                None,
            ),
        ),
    ):
        rs.add_rule(rd)
    return rs


def metadata_consistency_rules() -> RuleSet:
    """Cross-check DECODED properties against declared metadata — only
    possible with real decode: a declared 640×480 image whose payload
    decodes to 32×32 is a data bug no metadata-only rule can catch.
    A rule suite to compile through ``ValidationEngine(ruleset=...)``
    over the join of a media table with extract_media_features; each
    builder returns ``(passed, observed)``."""
    def decoded():
        return F.col("decode_status").isin(["ok", "header"])

    rs = RuleSet("metadata_consistency", load_builtins=False)
    for rd in (
        RuleDef(
            "decoded_dims_match", "decoded dims match metadata",
            Severity.WARNING,
            lambda df, s: (
                ~decoded()
                | F.col("decoded_width").isNull()
                | F.col("width").isNull()
                | (
                    (F.col("decoded_width") == F.col("width"))
                    & (F.col("decoded_height") == F.col("height"))
                ),
                F.concat_ws(
                    "x", F.col("decoded_width"), F.col("decoded_height")
                ),
            ),
        ),
        RuleDef(
            "decoded_duration_match",
            "decoded duration within 10ms of metadata",
            Severity.WARNING,
            lambda df, s: (
                ~decoded()
                | F.col("duration_ms_decoded").isNull()
                | F.col("duration_ms").isNull()
                | (
                    F.abs(F.col("duration_ms_decoded") - F.col("duration_ms"))
                    <= 10
                ),
                F.col("duration_ms_decoded").cast("string"),
            ),
        ),
        RuleDef(
            "payload_decodable", "payload decodes", Severity.ERROR,
            lambda df, s: (
                F.col("decode_status") != "error", F.col("format")
            ),
        ),
        # video: the first MJPEG frame's SOF dims must agree with the
        # container's avih dims — a frame-level check the pure header
        # parse could not make
        RuleDef(
            "frame_dims_match_header",
            "first-frame dims match container header",
            Severity.WARNING,
            lambda df, s: (
                F.col("frame_width").isNull()
                | (
                    (F.col("frame_width") == F.col("decoded_width"))
                    & (F.col("frame_height") == F.col("decoded_height"))
                ),
                F.concat_ws(
                    "x", F.col("frame_width"), F.col("frame_height")
                ),
            ),
        ),
    ):
        rs.add_rule(rd)
    return rs


def _video_frame(rng: np.random.Generator) -> Tuple[int, int, bytes]:
    """A synthetic video row's dims and frame from its generator: a REAL
    baseline JPEG of a gray gradient (encoded once, repeated per
    frame), so frame sampling decodes actual pixels."""
    w = 16 + int(rng.integers(0, 16)) * 2
    h = 16 + int(rng.integers(0, 16)) * 2
    px = (np.add.outer(np.arange(h) * 7, np.arange(w) * 11) % 256).astype(
        np.uint8
    )
    return w, h, codecs.encode_jpeg(
        np.repeat(px[:, :, None], 3, axis=2), quality=88
    )


def synthetic_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table with REAL payloads: PNG,
    BMP and baseline-JPEG images (gradient pixels, true dims in
    metadata), WAV audio (int16 PCM, true duration in metadata), and
    AVI video whose MJPEG frames are REAL encoded JPEGs (fully
    decodable); every ninth video row keeps a container-less payload
    to exercise the declared stub path. Per-row encoding runs
    distributed inside mapInPandas — no driver-side row loop."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(seed * 1_000_003 + i)
                kind = ["image", "audio", "video"][i % 3]
                if kind == "image":
                    w = 8 + int(rng.integers(0, 40))
                    h = 8 + int(rng.integers(0, 40))
                    px = (
                        np.add.outer(
                            np.arange(h) * 3, np.arange(w) * 5
                        ) % 256
                    ).astype(np.uint8)
                    px = np.repeat(px[:, :, None], 3, axis=2)
                    if i % 6 == 0:
                        payload, mime = codecs.encode_png(px), "image/png"
                    elif i % 6 == 3:
                        payload, mime = (
                            codecs.encode_jpeg(px, quality=92),
                            "image/jpeg",
                        )
                    else:
                        payload, mime = codecs.encode_bmp(px), "image/bmp"
                    rows.append(
                        (f"m_{i:05d}", kind, mime, payload, w, h, None)
                    )
                elif kind == "audio":
                    rate = 8000
                    n_frames = rate // 4 + int(rng.integers(0, rate))
                    t = np.arange(n_frames, dtype=np.float64)
                    samples = (
                        3000 * np.sin(2 * np.pi * (220 + (i % 8) * 55) * t / rate)
                    ).astype("<i2")
                    payload = codecs.encode_wav(samples, rate)
                    dur = int(round(n_frames * 1000 / rate))
                    rows.append(
                        (
                            f"m_{i:05d}",
                            kind,
                            "audio/wav",
                            payload,
                            None,
                            None,
                            dur,
                        )
                    )
                else:
                    # video: most rows are real AVI containers whose
                    # MJPEG frames are REAL encoded JPEGs (full pixel
                    # decode); every ninth row keeps an
                    # unknown-container payload to exercise the
                    # declared stub path
                    if i % 9 == 2:
                        payload, mime = rng.bytes(256), "video/unknown"
                        w = h = None
                        dur = 1000 + int(rng.integers(0, 10000))
                    else:
                        fps = 25
                        w, h, frame = _video_frame(rng)
                        n_frames = 25 + int(rng.integers(0, 250))
                        payload = codecs.encode_avi(
                            w, h, n_frames, fps=fps, frame_payload=frame
                        )
                        mime = "video/avi"
                        dur = int(round(n_frames * 1000 / fps))
                    rows.append(
                        (
                            f"m_{i:05d}",
                            kind,
                            mime,
                            payload,
                            w,
                            h,
                            dur,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "kind",
                    "mime",
                    "payload",
                    "width",
                    "height",
                    "duration_ms",
                ],
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)
