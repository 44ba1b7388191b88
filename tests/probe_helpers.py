"""Test-side helpers over the probe kernel's CSR output."""


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
