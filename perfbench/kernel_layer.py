"""Kernel layer: the numpy A5 kernels called directly, single thread, no
Spark, on the workload's own inputs. Each figure is the median of three
timed passes after one untimed pass."""

import json
import statistics
import time

import numpy as np

ENCODE_ROWS = 100_000


def _median_s(fn, passes: int = 3) -> float:
    fn()
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def measure(workload: str, inp: dict, radius_m: float) -> dict:
    """Kernel figures for `workload`; kernels the workload never calls are
    reported as 0."""
    from a5spark.kernels.cell import lonlat_to_cell

    out = {
        "kernels.encode_rows_per_s": 0.0,
        "kernels.polyfill_s": 0.0,
        "kernels.pip_points_per_s": 0.0,
        "kernels.cap_cover_s": 0.0,
    }
    if "points_df" not in inp:
        return out
    pts = inp["points_df"].iloc[:ENCODE_ROWS]
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    out["kernels.encode_rows_per_s"] = len(pts) / _median_s(lambda: lonlat_to_cell(lon, lat, 9))
    if workload != "spatial_join":
        return out

    import pandas as pd

    from a5spark.kernels.polyfill import PreparedPolygon, point_in_prepared_polygon, polygon_to_cells
    from a5spark.kernels.serialization import cell_to_parent
    from a5spark.kernels.transforms import from_lonlat, to_cartesian
    from a5spark.kernels.traversal import estimate_cell_radius, spherical_cap_batch
    from a5spark.operators.knn import pick_cover_resolution

    rings = [json.loads(r) for r in inp["polygons_df"]["rings_json"]]
    out["kernels.polyfill_s"] = _median_s(lambda: [polygon_to_cells(r, 6) for r in rings])

    preps = []
    for r in rings:
        ring = np.asarray(r[0], dtype=np.float64)
        th, ph = from_lonlat(ring[:, 0], ring[:, 1])
        preps.append(PreparedPolygon([to_cartesian(th, ph)]))
    th, ph = from_lonlat(lon, lat)
    xyz = to_cartesian(th, ph)
    sec = _median_s(lambda: [point_in_prepared_polygon(xyz, p) for p in preps])
    out["kernels.pip_points_per_s"] = len(xyz) * len(preps) / sec

    # the cap covers radius_join asks for: one per distinct query parent
    q = pd.read_parquet(inp["radius_queries"])
    cov_res = pick_cover_resolution(radius_m, 9)
    cap = radius_m + estimate_cell_radius(9) + 2.0 * estimate_cell_radius(cov_res)
    cells = np.unique(cell_to_parent(lonlat_to_cell(q["lon"].to_numpy(), q["lat"].to_numpy(), 9), cov_res))
    out["kernels.cap_cover_s"] = _median_s(lambda: spherical_cap_batch(cells, cap))
    return out
