"""geo_images fact-table generator (FIXTURES.md T1).

Schema = BASELINE.json input_hint columns + the geotag probe key:
(image_id, bytes, w, h, fmt, caption, phash, lat, lon).

Generated DISTRIBUTED (spark.range → mapInArrow) and every value is a
pure function of the row index i (seed [42, i]) — independent of
partitioning, so two runs / two cluster sizes / a resumed run produce
bit-identical tables (north_star determinism).

Point-placement mix over the synthetic zone world (lat, lon ∈ [0,10]):
  10% exactly on zone boundaries/corners, 5% inside the SquareIsland
  hole, 5% in the Small∩Big overlap, 30% concentrated in 2 hot cells
  (dense-urban-tile stand-in → skew for the salting tests), rest uniform.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from . import images
from .arrowio import map_batches, rows_batch

GEO_IMAGES_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()),
])
AUDIO_CLIPS_SCHEMA = pa.schema([("clip_id", pa.string()), ("bytes", pa.binary())])
RAW_VIDEOS_SCHEMA = pa.schema([("video_id", pa.string()), ("bytes", pa.binary())])

_SIZES = (16, 32, 64)

# exact-boundary anchor segments (lat0, lon0, lat1, lon1) — horizontal or
# vertical zone edges, so any point on them is exactly on a boundary
_BOUNDARY_SEGMENTS = [
    (4.0, 4.0, 4.0, 5.0),  # Small bottom edge
    (5.0, 4.0, 5.0, 5.0),  # Small top edge
    (3.0, 3.0, 6.0, 3.0),  # Big left edge
    (1.0, 1.0, 1.0, 2.0),  # SquareIsland bottom
    (8.0, 6.0, 9.0, 6.0),  # Host left edge
    (8.2, 6.2, 8.2, 6.4),  # Enclave bottom (float32 grid)
]
_CORNERS = [(4.0, 4.0), (5.0, 5.0), (1.0, 1.0), (3.0, 3.0), (8.0, 6.0), (10.0, 10.0)]
_HOT_CELLS = [(2.5, 7.5), (6.5, 2.5)]  # skewed "urban" tiles


def row_point(i: int) -> tuple[float, float]:
    """Deterministic (lat, lon) for row i (pure function — no state)."""
    rng = np.random.default_rng([42, i])
    bucket = i % 100
    if bucket < 10:  # exact boundary
        if bucket < 4:
            lat, lon = _CORNERS[i % len(_CORNERS)]
            return float(lat), float(lon)
        lat0, lon0, lat1, lon1 = _BOUNDARY_SEGMENTS[i % len(_BOUNDARY_SEGMENTS)]
        t = rng.uniform()
        lat = lat0 + t * (lat1 - lat0)
        lon = lon0 + t * (lon1 - lon0)
        # snap the constant axis exactly (float32 grid values)
        return float(np.float32(lat) if lat0 == lat1 else lat), float(
            np.float32(lon) if lon0 == lon1 else lon
        )
    if bucket < 15:  # inside the hole (right of the island)
        return float(rng.uniform(1.51, 1.89)), float(rng.uniform(1.32, 1.49))
    if bucket < 20:  # overlap region (Small ⊂ Big)
        return float(rng.uniform(4.01, 4.99)), float(rng.uniform(4.01, 4.99))
    if bucket < 50:  # hot cells (30%)
        cy, cx = _HOT_CELLS[i % 2]
        return float(cy + rng.uniform(-0.01, 0.01)), float(cx + rng.uniform(-0.01, 0.01))
    return float(rng.uniform(0.0, 10.0)), float(rng.uniform(0.0, 10.0))


def row_record(i: int, with_bytes: bool = True) -> tuple:
    lat, lon = row_point(i)
    w = _SIZES[i % len(_SIZES)]
    h = _SIZES[(i // 3) % len(_SIZES)]
    fmt = images.FORMATS[i % len(images.FORMATS)]
    caption = f"caption for img{i:012d} at ({lat:.6f},{lon:.6f})"
    if with_bytes:
        img = images.synth_image(i, w, h)
        data = images.encode(img, fmt)
        ph = images.phash64(img)
    else:
        data, ph = b"", 0
    return (f"img{i:012d}", data, w, h, fmt, caption, ph, lat, lon)


def geo_images_batch(batch, with_bytes: bool = True):
    """A batch of row indexes (``id``) → their GEO_IMAGES_SCHEMA rows."""
    return rows_batch(
        [row_record(i, with_bytes) for i in batch.column("id").to_pylist()],
        GEO_IMAGES_SCHEMA,
    )


def geo_images_df(
    spark: SparkSession, n: int, with_bytes: bool = True, partitions: int | None = None
) -> DataFrame:
    """Distributed generation: the work (image synthesis + encode) runs on
    executors; the driver only plans. Deterministic w.r.t. partitioning."""
    from .session import ensure_shipped

    ensure_shipped(spark)
    rng_df = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return map_batches(rng_df, geo_images_batch, GEO_IMAGES_SCHEMA, with_bytes)


def synth_wav(i: int, sr: int = 8000, seconds: float = 0.5) -> bytes:
    """Deterministic 16-bit mono WAV: a pure tone whose frequency is a
    function of the row index (one FFT bin at this sr/length, so the
    spectral centroid lands on it)."""
    import io
    import wave

    import numpy as np

    n = int(sr * seconds)
    freq = 200.0 + 100.0 * (i % 8)  # multiples of 1/seconds -> exact bins
    t = np.arange(n) / sr
    x = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(x.tobytes())
    return buf.getvalue()


def audio_clips_batch(batch):
    """A batch of row indexes (``id``) → their AUDIO_CLIPS_SCHEMA rows."""
    return rows_batch(
        [(f"clip{i:08d}", synth_wav(i)) for i in batch.column("id").to_pylist()],
        AUDIO_CLIPS_SCHEMA,
    )


def audio_clips_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Deterministic WAV clip table (clip_id, bytes) generated on
    executors."""
    from .session import ensure_shipped

    ensure_shipped(spark)
    base = spark.range(n)
    if partitions:
        base = base.repartition(partitions)
    return map_batches(base, audio_clips_batch, AUDIO_CLIPS_SCHEMA)


def raw_videos_batch(batch, frames: int, w: int, h: int):
    """A batch of row indexes (``id``) → their RAW_VIDEOS_SCHEMA rows:
    each video's frames are index-seeded synthetic images."""
    from .pipeline.multimodal import encode_rawvid

    return rows_batch(
        [
            (
                f"vid{i:08d}",
                encode_rawvid([images.synth_image(i * 1000 + k, w, h)
                               for k in range(frames)]),
            )
            for i in batch.column("id").to_pylist()
        ],
        RAW_VIDEOS_SCHEMA,
    )


def raw_videos_df(spark: SparkSession, n: int, frames: int = 12,
                  w: int = 24, h: int = 16,
                  partitions: int | None = None) -> DataFrame:
    """Deterministic rawvid table (video_id, bytes)."""
    from .session import ensure_shipped

    ensure_shipped(spark)
    base = spark.range(n)
    if partitions:
        base = base.repartition(partitions)
    return map_batches(base, raw_videos_batch, RAW_VIDEOS_SCHEMA, frames, w, h)
