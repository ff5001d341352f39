"""Seeded input generators. Every workload's inputs are written here as
parquet files before Spark starts; the program under test only ever sees
those files. The same seed always gives the same inputs.

SIZES keeps one iteration at 2.5-4 s on a 4-core host, so that a run
(three set-ups, then at least four iterations) takes about 35 s.
"""

import json
import os

import numpy as np
import pandas as pd

SIZES = {
    "density_points": 400_000,  # assign_density
    "points": 150_000,        # spatial_join
    "hot_spots": 20,
    "hot_share": 0.3,
    "hot_sigma_deg": 2.0,
    "polygons": 30,
    "radius_queries": 150,    # 0.1% of points
    "knn_queries": 100,
    "events": 20_000,
    "event_files": 1,
    "event_users": 1_000,
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so resizing one input does not
    # change the others for the same seed
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


def _write(pdf: pd.DataFrame, path: str) -> str:
    # microsecond timestamps: Spark cannot read parquet TIMESTAMP(NANOS)
    pdf.to_parquet(path, index=False, coerce_timestamps="us")
    return path


def hot_spot_centers(seed: int) -> np.ndarray:
    """(hot_spots, 2) lon/lat centers, kept away from the poles so the
    Gaussian clouds do not wrap."""
    rng = _rng(seed, "hot")
    n = SIZES["hot_spots"]
    return np.column_stack(
        [rng.uniform(-170, 170, n), np.degrees(np.arcsin(rng.uniform(-0.85, 0.85, n)))]
    )


def points(seed: int, n: int, stream: str = "points", first_id: int = 0) -> pd.DataFrame:
    """70% uniform on the sphere, 30% in Gaussian hot spots (hot-cell skew),
    plus a `phash` drawn from a pool a quarter the size of the table so
    distinct-counts have duplicates to remove."""
    rng = _rng(seed, stream)
    centers = hot_spot_centers(seed)
    n_hot = int(n * SIZES["hot_share"])
    n_uni = n - n_hot
    lon_u = rng.uniform(-180, 180, n_uni)
    lat_u = np.degrees(np.arcsin(rng.uniform(-1, 1, n_uni)))
    which = rng.integers(0, len(centers), n_hot)
    sig = SIZES["hot_sigma_deg"]
    lon_h = centers[which, 0] + rng.normal(0, sig, n_hot)
    lat_h = np.clip(centers[which, 1] + rng.normal(0, sig, n_hot), -89.0, 89.0)
    lon = np.concatenate([lon_u, lon_h])
    lat = np.concatenate([lat_u, lat_h])
    order = rng.permutation(n)
    return pd.DataFrame(
        {
            "point_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "lon": lon[order],
            "lat": lat[order],
            "phash": rng.integers(0, max(1, n // 4), n).astype(np.int64),
        }
    )


def polygons(seed: int) -> pd.DataFrame:
    """Star-shaped polygons of 2-9 degrees radius; half sit on hot spots so
    the join has dense candidates, half anywhere between 60S and 60N."""
    rng = _rng(seed, "polygons")
    n = SIZES["polygons"]
    centers = hot_spot_centers(seed)
    rows = []
    for i in range(n):
        if i % 2 == 0:
            clon, clat = centers[(i // 2) % len(centers)]
        else:
            clon = rng.uniform(-160, 160)
            clat = np.degrees(np.arcsin(rng.uniform(-0.85, 0.85)))
        radius = rng.uniform(2.0, 9.0)
        k = int(rng.integers(5, 10))
        ang = np.sort(rng.uniform(0, 2 * np.pi, 2 * k))
        rad = np.where(np.arange(2 * k) % 2 == 0, radius, radius * rng.uniform(0.35, 0.7, 2 * k))
        lat = np.clip(clat + rad * np.sin(ang), -80, 80)
        lon = clon + rad * np.cos(ang) / max(np.cos(np.radians(clat)), 0.3)
        ring = [[float(x), float(y)] for x, y in zip(lon, lat)]
        rows.append((f"poly_{i:03d}", json.dumps([ring])))
    return pd.DataFrame(rows, columns=["polygon_id", "rings_json"])


def query_points(seed: int, pts: pd.DataFrame, n: int, stream: str) -> pd.DataFrame:
    rng = _rng(seed, stream)
    pick = np.sort(rng.choice(len(pts), n, replace=False))
    q = pts.iloc[pick]
    return pd.DataFrame(
        {"query_id": q["point_id"].to_numpy(), "lon": q["lon"].to_numpy(), "lat": q["lat"].to_numpy()}
    )


def events(seed: int) -> pd.DataFrame:
    """Zipf-keyed events over three days, sorted by time."""
    rng = _rng(seed, "events")
    n = SIZES["events"]
    users = SIZES["event_users"]
    user = (rng.zipf(1.3, n) - 1) % users
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts_us = start + np.sort(rng.integers(0, 3 * 86_400 * 1_000_000, n))
    return pd.DataFrame(
        {
            "user_id": user.astype(np.int64),
            # UTC-adjusted, so Spark reads it as TIMESTAMP, not TIMESTAMP_NTZ
            "ts": pd.to_datetime(ts_us, unit="us", utc=True),
            "value": np.round(rng.uniform(0, 100, n), 2),
        }
    )


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's input files under `out_dir`; returns their paths
    plus the in-memory frames the output checks compare against."""
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, name)  # noqa: E731
    inp: dict = {"dir": out_dir}
    if workload in ("assign_density", "spatial_join"):
        n = SIZES["density_points" if workload == "assign_density" else "points"]
        pts = points(seed, n)
        inp["points"] = _write(pts, p("points.parquet"))
        inp["points_df"] = pts
        inp["rows"] = len(pts)
    if workload == "spatial_join":
        polys = polygons(seed)
        inp["polygons"] = _write(polys, p("polygons.parquet"))
        inp["polygons_df"] = polys
        rq = query_points(seed, pts, SIZES["radius_queries"], "radius_queries")
        kq = query_points(seed, pts, SIZES["knn_queries"], "knn_queries")
        inp["radius_queries"] = _write(rq, p("radius_queries.parquet"))
        inp["knn_queries"] = _write(kq, p("knn_queries.parquet"))
    if workload == "stream_sessions":
        ev = events(seed)
        src = p("events")
        os.makedirs(src, exist_ok=True)
        n_files = SIZES["event_files"]
        bounds = np.linspace(0, len(ev), n_files + 1).astype(int)
        for i in range(n_files):
            path = os.path.join(src, f"part-{i:03d}.parquet")
            _write(ev.iloc[bounds[i] : bounds[i + 1]], path)
            # the file source orders new files by modification time
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        inp["events"] = src
        inp["events_df"] = ev
        inp["rows"] = len(ev)
    return inp
