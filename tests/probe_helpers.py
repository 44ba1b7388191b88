"""Test-side helpers over the probe kernel's CSR output and zones rows."""

import numpy as np

from tzengine.zones import ZonePiece


def ranks_to_tzids(idx, offsets, ranks, valid):
    """CSR ranks -> (tzid first-match list, tzids all-matches list), None
    for invalid points and [] for uncovered ones (Q1 note: with a
    full-coverage zone set every valid point matches)."""
    tzid, tzids = [], []
    for i in range(len(offsets) - 1):
        if not valid[i]:
            tzid.append(None)
            tzids.append(None)
            continue
        names = [idx.zone_ids[r] for r in ranks[offsets[i]:offsets[i + 1]]]
        tzids.append(names)
        tzid.append(names[0] if names else None)
    return tzid, tzids


def rows_to_pieces(rows) -> list[ZonePiece]:
    """Zones-table Rows (zone_id, polygon_id, ordinal, rings) -> pieces,
    rings as (V, 2) float64 (lon, lat) arrays."""
    return [
        ZonePiece(
            r.zone_id, r.polygon_id, r.ordinal,
            [
                np.array([(v.lon, v.lat) for v in ring], dtype=np.float64)
                for ring in r.rings
            ],
        )
        for r in rows
    ]
