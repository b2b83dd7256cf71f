"""Reference answers the benchmark checks every operation against.

The joins use a closed form: regions are integer-degree rectangles whose
edges are densified to 1-degree steps, so for a point at least 0.125
degrees from every integer meridian and parallel, spherical containment
equals the planar test ``lng0 < lng < lng1 and lat0 < lat < lat1``
(s2geography_spark/sources/regions.py).  Every benchmark point is on such
a grid, so these counts are exact.  The corner and gazetteer formulas are
restated here rather than imported, so a change to the program's copy
cannot silently move the oracle with it.
"""

from __future__ import annotations

import numpy as np

N_REGIONS = 96
# dense_join's dim: the first DENSE_REGIONS regions, so that the per-op dim
# prep does not drown the per-point refine it exists to measure
DENSE_REGIONS = 24
GAZETTEER_SIZE = 240


def region_corners(r):
    """Integer corners (lng0, lat0, lng1, lat1) of region(s) r."""
    r = np.asarray(r, dtype=np.int64)
    c = (r * 7) % 240
    lng0 = ((c * 37) % 300) - 150
    lat0 = ((c * 23) % 130) - 65
    return lng0, lat0, lng0 + 3 + (r % 7), lat0 + 2 + (r % 5)


def gazetteer_lnglat(k):
    """Coordinates of gazetteer city k (0.25 off the half-degree grid)."""
    k = np.asarray(k, dtype=np.int64)
    return (((k * 37) % 720) / 2.0 - 180.0 + 0.25,
            ((k * 23) % 320) / 2.0 - 80.0 + 0.25)


def contains_matrix(lng, lat, n_regions: int = N_REGIONS) -> np.ndarray:
    """(len(lng), n_regions) bool: region r strictly contains point i."""
    lng0, lat0, lng1, lat1 = region_corners(np.arange(n_regions))
    x = np.asarray(lng, dtype=np.float64)[:, None]
    y = np.asarray(lat, dtype=np.float64)[:, None]
    return (x > lng0) & (x < lng1) & (y > lat0) & (y < lat1)


def _nonzero(counts) -> dict:
    return {int(r): int(c) for r, c in enumerate(counts) if c}


def pages_region_counts(city_counts) -> dict:
    """Mentions per region, from the number of mentions of each city."""
    lng, lat = gazetteer_lnglat(np.arange(GAZETTEER_SIZE))
    m = contains_matrix(lng, lat)
    return _nonzero(np.asarray(city_counts, dtype=np.int64) @ m.astype(np.int64))


def points_region_counts(lng, lat, n_regions: int = N_REGIONS,
                         chunk: int = 1 << 16) -> dict:
    """Points per region of the first n_regions; chunked so the bool
    matrix stays small."""
    total = np.zeros(n_regions, dtype=np.int64)
    for lo in range(0, len(lng), chunk):
        total += contains_matrix(lng[lo:lo + chunk], lat[lo:lo + chunk],
                                 n_regions).sum(axis=0)
    return _nonzero(total)


def counts_from_rows(rows, key: str = "region_id", value: str = "n") -> dict:
    return {str(int(r[key])): int(r[value]) for r in rows}

