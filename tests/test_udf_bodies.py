"""Python UDF bodies: one shape across tzengine.

Every worker body reads and writes Arrow through ``tzengine.arrowio`` and
must not import pandas (~40 MB RSS and ~0.3 s CPU per Python worker), and
the only pandas UDF left is ``streaming.streaming_dedup``."""

import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest

from tzengine import arrowio

from probe_helpers import run_isolated

# A fresh interpreter's prelude: synth pieces 1-3 as a sliced zones Arrow
# batch (zone_id, polygon_id, rings), built from buffers, plus their
# ``ordinal`` column; and a batch of row indexes 3..8 (``ids``).
PRELUDE = """
import sys
import numpy as np
import pyarrow as pa
from tzengine.arrowio import arrow_array, arrow_binary
from tzengine.zones import synthetic_world

pieces = synthetic_world()[:5]
rings = [r for p in pieces for r in p.rings]
verts = np.concatenate(rings)
vstruct = pa.StructArray.from_arrays(
    [arrow_array(verts[:, 1].astype(np.float32)),
     arrow_array(verts[:, 0].astype(np.float32))],
    ["lat", "lon"],
)
v_off = np.cumsum([0] + [len(r) for r in rings]).astype(np.int32)
r_off = np.cumsum([0] + [len(p.rings) for p in pieces]).astype(np.int32)
rings_col = pa.ListArray.from_arrays(
    arrow_array(r_off), pa.ListArray.from_arrays(arrow_array(v_off), vstruct),
)
zone_id = arrow_binary([p.zone_id for p in pieces], pa.string())
poly = arrow_array(np.array([p.polygon_id for p in pieces], np.int32))
batch = pa.RecordBatch.from_arrays(
    [zone_id, poly, rings_col], ["zone_id", "polygon_id", "rings"]
).slice(1, 3)
ordinal = arrow_array(np.array([p.ordinal for p in pieces[1:4]], np.int32))
ids = pa.RecordBatch.from_arrays([arrow_array(np.arange(3, 9))], ["id"])
outs = []  # (output batch or array, its declared schema or type)
"""

BODIES = {
    "raster": """
from tzengine import tiling

out = tiling.raster_batch(batch, 7)
outs.append((out, tiling.RASTER_CELLS_SCHEMA))
want = []
for p in pieces[1:4]:
    cells, kinds = tiling.raster_mask_for_rings(p.rings, 7)
    want += [(p.zone_id, p.polygon_id, int(c), int(k)) for c, k in zip(cells, kinds)]
got = list(zip(*(out.column(c).to_pylist()
                 for c in ("zone_id", "polygon_id", "cell_id", "full"))))
assert got == want, (len(got), len(want))
""",
    "compile": """
import pickle
from tzengine import geom, index
from tzengine.engine import COMPILE_SCHEMA, compile_batch

areas = arrow_array(np.array([7.0, 8.0, 9.0, 10.0, 11.0]))
batch = pa.RecordBatch.from_arrays(
    [*batch.columns, ordinal, areas[1:4]],
    [*batch.schema.names, "ordinal", "area"],
)
region = (-90.0, -180.0, 5.0, 180.0)  # clips two pieces, drops one
both = [compile_batch(batch, region, 5), compile_batch(batch, region, 5, "area")]
outs += [(out, COMPILE_SCHEMA) for out in both]
# the batch carries float32 vertices
rings32 = [[r.astype(np.float32).astype(np.float64) for r in p.rings]
           for p in pieces[1:4]]
for out, pre_areas in zip(both, [[geom.polygon_area2d(r) for r in rings32],
                                 [8.0, 9.0, 10.0]]):
    assert out.column("ordinal").to_pylist() == [p.ordinal for p in pieces[1:4]]
    assert out.column("zone_id").to_pylist() == [p.zone_id for p in pieces[1:4]]
    assert out.column("polygon_id").to_pylist() == [p.polygon_id for p in pieces[1:4]]
    assert out.column("pre_area").to_pylist() == pre_areas
    for rings, blobs in zip(rings32, out.column("blobs").to_pylist()):
        want = index.compile_source(rings, *region, 5)
        got = [pickle.loads(b) for b in blobs]
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g.keys() == w.keys()
            for k in w:
                assert np.array_equal(g[k], w[k]), k
assert sum(len(b) for b in both[0].column("blobs").to_pylist()) > 0
""",
    "geojson": """
import json
from tzengine import geojson, zones

lines = []
for p in pieces[1:4]:
    ring = [[float(x), float(y)] for x, y in p.rings[0]] + [[float(v) for v in p.rings[0][0]]]
    lines.append(json.dumps({"type": "Feature",
                             "properties": {"tzid": p.zone_id, "feature_ordinal": p.ordinal},
                             "geometry": {"type": "Polygon", "coordinates": [ring]}}))
out = geojson.geojsonl_batch(
    pa.RecordBatch.from_arrays([arrow_binary(lines, pa.string())], ["value"])
)
outs.append((out, zones.ZONES_SCHEMA))
assert out.column("zone_id").to_pylist() == [p.zone_id for p in pieces[1:4]]
assert out.column("ordinal").to_pylist() == [p.ordinal for p in pieces[1:4]]
""",
    "fixtures": """
from tzengine import fixtures

geo = fixtures.geo_images_batch(ids)
outs += [
    (geo, fixtures.GEO_IMAGES_SCHEMA),
    (fixtures.audio_clips_batch(ids), fixtures.AUDIO_CLIPS_SCHEMA),
    (fixtures.raw_videos_batch(ids, 3, 8, 6), fixtures.RAW_VIDEOS_SCHEMA),
]
assert [tuple(r.values()) for r in geo.to_pylist()] == [
    fixtures.row_record(i) for i in range(3, 9)
]
""",
    "multimodal": """
from tzengine import fixtures
from tzengine.pipeline import multimodal as mm

img = fixtures.geo_images_batch(ids).select(["image_id", "bytes", "w", "h", "fmt"])
clips = fixtures.audio_clips_batch(ids)
vids = fixtures.raw_videos_batch(ids, 3, 8, 6)
outs += [
    (mm.image_features_batch(img), mm.FEATURES_SCHEMA),
    (mm.image_decode_batch(img), mm.DECODE_TABLE_SCHEMA),
    (mm.resize_batch(img, 8, 4), mm.RESIZE_SCHEMA),
    (mm.audio_features_batch(clips), mm.AUDIO_FEATURES_SCHEMA),
    (mm.audio_decode_batch(clips), mm.AUDIO_DECODE_TABLE_SCHEMA),
    (mm.video_frames_batch(vids, 2, "png"), mm.FRAME_SAMPLE_SCHEMA),
]
assert [len(o) for o, _ in outs] == [6, 6, 6, 6, 6, 12]
""",
    "payload": """
from tzengine import fixtures, payload

rows = fixtures.geo_images_batch(ids).select(
    ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
)
out = payload.verify_batch(rows)
outs.append((out, payload.VERIFY_TABLE_SCHEMA))
assert all(out.column("caption_ok").to_pylist())
""",
    "simhash": """
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from tzengine.arrowio import arrow_column
from tzengine.pipeline import dedup

hashes = arrow_column([[1, 2, 3], [], [-5, 7]], pa.list_(pa.int64()))
out = dedup.simhash_words(hashes)
outs.append((out, to_arrow_type(T.LongType())))
assert out.to_pylist() == [3, 0, 3]
""",
    "sketch": """
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from tzengine.arrowio import arrow_column
from tzengine.pipeline import dedup

vecs = arrow_column([[1.0, -2.0], [-1.0, 2.0]], pa.list_(pa.float64()))
out = dedup.sketch_words(vecs, np.array([[1.0, 0.0, 1.0], [0.0, 1.0, 1.0]]))
outs.append((out, to_arrow_type(T.LongType())))
assert out.to_pylist() == [0b001, 0b110]
""",
    "centroid": """
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from tzengine.arrowio import arrow_column
from tzengine.pipeline import similarity

vecs = arrow_column([[1.0, 0.1], [0.0, 2.0], [1.0, 1.0]], pa.list_(pa.float32()))
cnorm = np.array([[1.0, 0.0], [0.0, 1.0]])
nearest = similarity.nearest_centroid(vecs, cnorm)
probes = similarity.probe_centroids(vecs, cnorm, 2)
outs += [(nearest, to_arrow_type(T.IntegerType())),
         (probes, to_arrow_type(T.ArrayType(T.IntegerType())))]
assert nearest.to_pylist() == [0, 1, 0]  # the exact tie goes to id 0
assert probes.to_pylist() == [[0, 1], [1, 0], [0, 1]]
""",
    "warm_up": """
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from tzengine.session import warm_up_batch

out = warm_up_batch(ids.column("id"))
outs.append((out, to_arrow_type(T.ShortType())))
assert out.to_pylist() == [0] * 6
assert "tzengine.probe" in sys.modules
""",
}

CHECKS = """
assert "pandas" not in sys.modules, "pandas was imported"
for out, declared in outs:
    got = out.schema if isinstance(out, pa.RecordBatch) else out.type
    assert got == declared, (got, declared)
"""


@pytest.mark.parametrize("body", sorted(BODIES))
def test_worker_body_is_pandas_free(body):
    """Each mapInArrow body or arrow_udf kernel runs on a sliced or
    hand-built Arrow batch in a fresh interpreter, emits what the operator
    declares to Spark, and never imports pandas."""
    run_isolated(PRELUDE + BODIES[body] + CHECKS)


PANDAS_UDF = re.compile(r"^\s*(import|from) pandas|\.mapInPandas\(|pandas_udf\(")


def test_only_streaming_uses_pandas():
    """One UDF shape: no tzengine module but streaming.py imports pandas
    or defines a pandas UDF (comments that mention pandas are fine)."""
    root = pathlib.Path(__file__).resolve().parents[1] / "tzengine"
    hits = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "streaming.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if PANDAS_UDF.search(line.split("#")[0])
    ]
    assert hits == []


def test_arrowio_builders_nulls_and_overflow():
    col = arrowio.arrow_column(
        [np.array([1.0, np.nan]), [], [3.5]], pa.list_(pa.float64())
    )
    assert col.to_pylist() == [[1.0, None], [], [3.5]]
    assert arrowio.arrow_column([1.5, float("nan")], pa.float32()).to_pylist() == [
        1.5, None,
    ]
    assert arrowio.arrow_column([True, False], pa.bool_()).to_pylist() == [True, False]
    strs = arrowio.arrow_binary(["a", None, "ü"], pa.string())
    assert strs.to_pylist() == ["a", None, "ü"] and strs.null_count == 1
    assert arrowio.arrow_binary([b"\x00", b""]).to_pylist() == [b"\x00", b""]
    with pytest.raises(OverflowError):
        arrowio.arrow_column([2**31], pa.int32())
    # a 2 GiB binary or list would wrap int32 offsets: raise first
    with pytest.raises(ValueError, match="int32 offset"):
        arrowio.arrow_list(np.array([0, 2**31]), np.zeros(0))
    batch = arrowio.rows_batch([], pa.schema([("a", pa.string()), ("b", pa.int64())]))
    assert batch.num_rows == 0


def test_arrow_matrix_keeps_float32_and_rejects_ragged_rows():
    col = pa.array([[1, 2], [3, 4], [5, 6]], pa.list_(pa.float32())).slice(1)
    mat = arrowio.arrow_matrix(col)
    assert mat.dtype == np.float32 and mat.tolist() == [[3, 4], [5, 6]]
    ints = pa.array([[1, None]], pa.list_(pa.int64()))
    assert np.array_equal(arrowio.arrow_matrix(ints), [[1.0, np.nan]], equal_nan=True)
    with pytest.raises(ValueError, match="unequal length"):
        arrowio.arrow_matrix(pa.array([[1.0], [2.0, 3.0]]))
