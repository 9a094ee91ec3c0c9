"""Independent numpy oracles the benchmark checks sampled outputs against.

None of this imports the engine: point-in-polygon is a per-polygon
even-odd ray cast, nearest is brute force over every target with the
great-circle distance taken from the chord between unit vectors (not the
engine's haversine), and the raster kernels are computed
over the whole NaN-padded raster rather than per tile, so tile seams
are exercised by comparing tiles against a seam-free reference.
"""

from __future__ import annotations

import warnings

import numpy as np

EARTH_RADIUS = 6378137.0


def point_in_polygon(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Even-odd rule: count edge crossings of a ray towards +x."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        straddles = (y1 > py) != (y2 > py)
        if not straddles.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= straddles & (px < x_cross)
    return inside


def edge_distance(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Distance (degrees) from each point to the polygon boundary."""
    best = np.full(len(px), np.inf)
    n = len(verts)
    for i in range(n):
        a, b = verts[i], verts[(i + 1) % n]
        d = b - a
        t = np.clip(((px - a[0]) * d[0] + (py - a[1]) * d[1]) / max(d @ d, 1e-300), 0, 1)
        best = np.minimum(best, np.hypot(px - a[0] - t * d[0], py - a[1] - t * d[1]))
    return best


def first_zone(px: np.ndarray, py: np.ndarray, polygons: dict[int, np.ndarray]) -> np.ndarray:
    """Id of the lowest-numbered polygon containing each point; NaN if none."""
    out = np.full(len(px), np.nan)
    for z in sorted(polygons, reverse=True):
        out[point_in_polygon(px, py, polygons[z])] = float(z)
    return out


def _unit(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    lo, la = np.radians(lon), np.radians(lat)
    return np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], -1)


def great_circle(px, py, tx, ty) -> np.ndarray:
    """(P, T) great-circle metres via the chord between unit vectors."""
    chord = np.linalg.norm(_unit(px, py)[:, None, :] - _unit(tx, ty)[None, :, :], axis=-1)
    return 2 * EARTH_RADIUS * np.arcsin(np.clip(chord / 2, 0, 1))


def nearest(px, py, targets: np.ndarray, max_distance: float = np.inf):
    """(distance, payload) of the nearest target per point; NaN beyond range."""
    d = great_circle(px, py, targets[:, 0], targets[:, 1])
    j = np.argmin(d, axis=1)
    dist = d[np.arange(len(px)), j]
    payload = targets[j, 2].astype(np.float64)
    far = dist > max_distance
    return np.where(far, np.nan, dist), np.where(far, np.nan, payload), d


# ---------------------------------------------------------------------------
# raster kernels over the whole raster
# ---------------------------------------------------------------------------

def _pad(a: np.ndarray, r: int) -> np.ndarray:
    return np.pad(a.astype(np.float32), r, constant_values=np.nan)


def horn_slope(p: np.ndarray) -> np.ndarray:
    """Horn slope in degrees of a 1-padded float32 array (shrinks by 1)."""
    z = p.astype(np.float32)
    c = lambda dy, dx: z[1 + dy:z.shape[0] - 1 + dy, 1 + dx:z.shape[1] - 1 + dx]
    gx = (c(1, 1) + 2 * c(0, 1) + c(-1, 1)) - (c(1, -1) + 2 * c(0, -1) + c(-1, -1))
    gy = (c(-1, -1) + 2 * c(-1, 0) + c(-1, 1)) - (c(1, -1) + 2 * c(1, 0) + c(1, 1))
    return np.degrees(np.arctan(np.hypot(gx / 8, gy / 8)))


def nan_mean3(p: np.ndarray) -> np.ndarray:
    """3x3 mean over the non-NaN neighbours of a 1-padded array; a NaN
    centre stays NaN (shrinks by 1)."""
    h, w = p.shape[0] - 2, p.shape[1] - 2
    stack = np.stack([p[dy:dy + h, dx:dx + w] for dy in range(3) for dx in range(3)])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN windows
        m = np.nanmean(stack, axis=0)
    centre = p[1:-1, 1:-1]
    return np.where(np.isnan(centre), centre, m).astype(p.dtype)


def hillshade(p: np.ndarray, azimuth: float = 225, altitude: float = 25) -> np.ndarray:
    """Hillshade of a 1-padded array from central differences (shrinks by 1)."""
    z = p.astype(np.float32)
    gx = (z[2:, 1:-1] - z[:-2, 1:-1]) / 2
    gy = (z[1:-1, 2:] - z[1:-1, :-2]) / 2
    slope = np.pi / 2 - np.arctan(np.sqrt(gx * gx + gy * gy))
    aspect = np.arctan2(-gx, gy)
    az = np.radians(360.0 - azimuth)
    alt = np.radians(altitude)
    shaded = np.sin(alt) * np.sin(slope) + np.cos(alt) * np.cos(slope) * np.cos(az - np.pi / 2 - aspect)
    return (shaded + 1) / 2


def raster_reference(a: np.ndarray) -> dict[str, np.ndarray]:
    """Whole-raster expected outputs for every raster_halo operator."""
    p1 = _pad(a, 1)
    return {
        "slope": horn_slope(p1),
        "hillshade": hillshade(p1),
        "mean": nan_mean3(p1),
        # the fused chain pads once by the summed radius and shrinks per stage
        "chain": nan_mean3(horn_slope(nan_mean3(_pad(a, 3)))),
    }
