"""Payload-fidelity verification (input_hint per-row invariant).

``verify_payload_table`` decodes each row's image bytes and checks, per
row:
  - decoded-pixel fidelity vs the expected image: exact for lossless
    formats, PSNR >= ``psnr_min`` (default 40 dB) for lossy;
  - caption equality vs the expected caption;
  - phash stability (Hamming distance of the decoded pixels' hash to the
    stored phash).

Everything runs inside one Arrow-batched mapInArrow (no per-row Python
at the DataFrame level). The "expected" reference values are recomputed
from the deterministic row synthesis (fixtures.row_record), which is the
sandbox stand-in for the upstream source of truth.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from . import images
from .arrowio import map_batches, rows_batch
from .fixtures import row_record

VERIFY_TABLE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("fmt", pa.string()),
    ("px", pa.list_(pa.int32())), ("ex", pa.list_(pa.int32())),
    ("caption", pa.string()), ("exp_caption", pa.string()),
    ("phash", pa.int64()), ("phash_decoded", pa.int64()),
    ("pixels_ok", pa.bool_()), ("psnr_db", pa.float64()),
    ("caption_ok", pa.bool_()), ("phash_dist", pa.int32()),
])


def verify_batch(batch, psnr_min: float = 40.0):
    """A batch of (image_id, bytes, w, h, fmt, caption, phash) rows →
    their VERIFY_TABLE_SCHEMA rows."""
    out = []
    for r in batch.to_pylist():
        i = int(r["image_id"][3:])
        expected = images.synth_image(i, r["w"], r["h"])
        got = images.decode(r["bytes"], r["fmt"], r["w"], r["h"])
        p = images.psnr(expected, got)
        p = p if np.isfinite(p) else 999.0
        if r["fmt"] in images.LOSSLESS:
            pixels_ok = bool(np.array_equal(expected, got))
        else:
            pixels_ok = bool(p >= psnr_min)
        exp_caption = row_record(i, with_bytes=False)[5]
        ph_dec = images.phash64(got)
        out.append((
            r["image_id"], r["fmt"],
            got.reshape(-1).astype(np.int32),
            expected.reshape(-1).astype(np.int32),
            r["caption"], exp_caption, r["phash"], ph_dec,
            pixels_ok, float(p), r["caption"] == exp_caption,
            images.hamming64(ph_dec, r["phash"]),
        ))
    return rows_batch(out, VERIFY_TABLE_SCHEMA)


def verify_payload_table(df: DataFrame, psnr_min: float = 40.0) -> DataFrame:
    """The per-row verification PLUS every raw ingredient — decoded and
    expected pixel lists, stored and expected captions, stored and
    recomputed phash — so a SQL oracle can RECOMPUTE pixels_ok (exact
    list equality for lossless / PSNR threshold for lossy, MSE being
    integer-exact in both engines), psnr, caption_ok, and the phash
    hamming distance from the staged values. The binary decode and the
    deterministic row synthesis stay pytest-pinned."""
    return map_batches(
        df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash"),
        verify_batch, VERIFY_TABLE_SCHEMA, psnr_min,
    )
