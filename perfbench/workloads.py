"""The workloads: each runs a chain of the program's public calls on
generated input files and checks the outputs against independent numpy or
pandas recomputations.

``run`` is the timed part; it returns whatever ``check`` needs and adds the
operator counts the traced run reports. ``check(result, full)`` returns a
list of failure messages. ``full`` adds the costly checks (and the extra
collects ``run`` makes for them); they run on the first set-up iteration
only. ``prepare`` builds the numpy/pandas references once per run, untimed.
"""

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

R_EARTH = 6371007.2  # the authalic radius a5spark's haversine uses
RADIUS_M = 100_000.0
KNN_K = 5
SAMPLE = 2_000  # rows of each seeded sample a check recomputes


def collect(tr, df) -> pd.DataFrame:
    """Materialize `df` on the driver, then let the tracer walk its plan."""
    pdf = df.toPandas()
    tr.plan(df)
    return pdf


def count(tr, df) -> int:
    agg = df.agg(F.count(F.lit(1)).alias("n"))
    n = int(agg.collect()[0]["n"])
    tr.plan(agg)
    return n


def _haversine(lat1, lon1, lat2, lon2):
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon / 2) ** 2
    return 2 * R_EARTH * np.arcsin(np.sqrt(a))


def _signed(u: np.ndarray) -> np.ndarray:
    return np.asarray(u, dtype=np.uint64).view(np.int64)


class Workload:
    name = ""

    def __init__(self, inp: dict, work_dir: str, seed: int):
        self.inp = inp
        self.work = work_dir
        self.rng = np.random.default_rng([seed, 7])
        self.rows = int(inp["rows"])

    def prepare(self) -> None:
        pass

    def run(self, spark, tr, it: int, full: bool) -> dict:
        raise NotImplementedError

    def check(self, res: dict, full: bool) -> list:
        raise NotImplementedError

    def cleanup(self, it: int) -> None:
        pass

    def sample_ids(self, n_total: int, k: int = SAMPLE) -> np.ndarray:
        return np.sort(self.rng.choice(n_total, min(k, n_total), replace=False))


class AssignDensity(Workload):
    """assign_cells_multi([5, 7, 9]) -> per-cell density with distinct
    phash -> top-50 -> res-5 rollup."""

    name = "assign_density"

    def run(self, spark, tr, it, full):
        from a5spark import cache
        from a5spark.operators import spatial

        pts = spark.read.parquet(self.inp["points"])
        with tr.span("spatial.assign"):
            assigned = cache.persist(spatial.assign_cells_multi(pts, [5, 7, 9]))
            n_assigned = count(tr, assigned)
        with tr.span("spatial.density"):
            dens = cache.persist(
                spatial.cell_density(
                    assigned, "cell_r9", [F.countDistinct("phash").alias("n_phash")]
                )
            )
            top = collect(tr, spatial.top_k_cells(dens, 50))
        with tr.span("spatial.rollup"):
            roll = collect(tr, spatial.rollup_density(dens, 9, 5, cell="cell_r9"))
        ids = self.sample_ids(self.rows)
        sample = collect(
            tr,
            assigned.filter(F.col("point_id").isin([int(i) for i in ids])).select(
                "point_id", "lon", "lat", "cell_r9", "cell_r5"
            ),
        )
        return {"n_assigned": n_assigned, "top": top, "roll": roll, "sample": sample}

    def check(self, res, full):
        from a5spark.kernels.cell import lonlat_to_cell
        from a5spark.kernels.serialization import cell_to_parent

        bad = []
        if res["n_assigned"] != self.rows:
            bad.append(f"assigned {res['n_assigned']} rows of {self.rows}")
        if int(res["roll"]["n"].sum()) != self.rows:
            bad.append("res-5 rollup counts do not sum to the input rows")
        top = res["top"]
        if len(top) != 50 or not (np.diff(top["n"].to_numpy()) <= 0).all():
            bad.append("top-50 is not 50 rows in descending count")
        if (top["n_phash"] > top["n"]).any():
            bad.append("a cell has more distinct phash than points")
        s = res["sample"].sort_values("point_id")
        want9 = _signed(lonlat_to_cell(s["lon"].to_numpy(), s["lat"].to_numpy(), 9))
        if len(s) != min(SAMPLE, self.rows) or not (want9 == s["cell_r9"].to_numpy()).all():
            bad.append("sampled res-9 cells differ from kernels.cell.lonlat_to_cell")
        want5 = _signed(cell_to_parent(want9.view(np.uint64), 5))
        if not (want5 == s["cell_r5"].to_numpy()).all():
            bad.append("sampled res-5 cells differ from the kernel parent")
        return bad


class SpatialJoin(Workload):
    """assign at res 9 -> polyfill_cover (res 6) -> point_in_polygon_join
    (expand_to=9) -> pip_refine -> radius_join (100 km) -> knn_join (k=5)."""

    name = "spatial_join"

    def prepare(self):
        from a5spark.operators.knn import pick_index_resolution

        self.knn_res = pick_index_resolution(self.rows, KNN_K)

    def run(self, spark, tr, it, full):
        from a5spark import cache
        from a5spark.functions import native
        from a5spark.operators.knn import knn_join, radius_join
        from a5spark.operators.polygons import pip_refine, point_in_polygon_join, polyfill_cover
        from a5spark.operators.spatial import assign_cells

        pts = spark.read.parquet(self.inp["points"]).select("point_id", "lon", "lat")
        polys = spark.read.parquet(self.inp["polygons"])
        with tr.span("spatial.assign"):
            assigned = cache.persist(assign_cells(pts, 9))
            count(tr, assigned)
        with tr.span("polygons.polyfill_cover"):
            cover = cache.persist(polyfill_cover(polys, 6))
            n_cover = count(tr, cover)
        with tr.span("polygons.pip_join"):
            cand = cache.persist(
                point_in_polygon_join(assigned, cover, expand_to=9).select(
                    "polygon_id", "point_id", "lon", "lat"
                )
            )
            n_cand = count(tr, cand)
        with tr.span("polygons.pip_refine"):
            refined = collect(tr, pip_refine(cand, polys).select("polygon_id", "point_id"))
        with tr.span("knn.radius_join"):
            rq = assign_cells(spark.read.parquet(self.inp["radius_queries"]), 9)
            within = radius_join(rq, assigned, radius_m=RADIUS_M, resolution=9)
            radius = collect(
                tr, within.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_within"))
            )
        with tr.span("knn.knn_join"):
            r = self.knn_res
            kpts = assigned.select(
                "point_id", "lon", "lat", native.cell_to_parent(F.col("cell"), r).alias("cell")
            )
            kq = assign_cells(spark.read.parquet(self.inp["knn_queries"]), r)
            knn = collect(
                tr,
                knn_join(
                    kq, kpts, k=KNN_K, resolution=r, point_id="point_id",
                    tie_quantum_decimals=6, points_count=self.rows,
                ).select("query_id", "rank", "point_id", "dist_m"),
            )
        res = {
            "n_cover": n_cover, "n_cand": n_cand, "refined": refined,
            "radius": radius, "knn": knn,
        }
        if full:
            res["cand"] = cand.select("polygon_id", "point_id").toPandas()
        tr.count("polygons.refine_keep_ratio", len(refined) / max(n_cand, 1))
        return res

    def check(self, res, full):
        from a5spark.kernels.polyfill import PreparedPolygon, point_in_prepared_polygon
        from a5spark.kernels.transforms import from_lonlat, to_cartesian

        bad = []
        pts = self.inp["points_df"]
        refined = res["refined"]
        if res["n_cover"] == 0 or len(refined) == 0:
            bad.append("empty cover or empty refine result")
        if refined.duplicated().any():
            bad.append("refine emitted a (polygon, point) pair twice")
        if len(refined) > res["n_cand"]:
            bad.append("more refined rows than candidates")
        if "cand" in res:
            cand = res["cand"]
            key = lambda d: d["polygon_id"] + ":" + d["point_id"].astype(str)  # noqa: E731
            if not key(refined).isin(key(cand)).all():
                bad.append("a refined row is not a candidate")
            # kernel PIP on a seeded candidate sample agrees with the refine
            pick = cand.iloc[self.sample_ids(len(cand))]
            kept = set(key(refined))
            rings = dict(zip(self.inp["polygons_df"]["polygon_id"], self.inp["polygons_df"]["rings_json"]))
            xyz = pts.set_index("point_id").loc[pick["point_id"], ["lon", "lat"]].to_numpy()
            th, ph = from_lonlat(xyz[:, 0], xyz[:, 1])
            v = to_cartesian(th, ph)
            disagree = 0
            for pid, idx in pd.Series(np.arange(len(pick))).groupby(pick["polygon_id"].to_numpy()).groups.items():
                ring = np.asarray(json.loads(rings[pid])[0], dtype=np.float64)
                rt, rp = from_lonlat(ring[:, 0], ring[:, 1])
                inside = point_in_prepared_polygon(v[idx], PreparedPolygon([to_cartesian(rt, rp)]))
                got = key(pick.iloc[np.asarray(idx)]).isin(kept).to_numpy()
                disagree += int((inside != got).sum())
            if disagree:
                bad.append(f"kernel PIP disagrees with the refine on {disagree} sampled candidates")
        # radius join: a seeded query sample against numpy brute force
        rq = pd.read_parquet(self.inp["radius_queries"])
        got = dict(zip(res["radius"]["query_id"], res["radius"]["n_within"]))
        lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
        for q in rq.iloc[self.sample_ids(len(rq), 10)].itertuples():
            d = _haversine(q.lat, q.lon, lat, lon)
            lo, hi = int((d <= RADIUS_M - 1e-6).sum()), int((d <= RADIUS_M + 1e-6).sum())
            if not lo <= got.get(q.query_id, 0) <= hi:
                bad.append(f"radius query {q.query_id}: {got.get(q.query_id, 0)} within, numpy says {lo}")
        # kNN: a seeded query sample against numpy brute-force top-k
        kq = pd.read_parquet(self.inp["knn_queries"])
        knn = res["knn"]
        if len(knn) != len(kq) * KNN_K:
            bad.append(f"kNN returned {len(knn)} rows for {len(kq)} queries")
        ids = pts["point_id"].to_numpy()
        for q in kq.iloc[self.sample_ids(len(kq), 10)].itertuples():
            d = np.round(_haversine(q.lat, q.lon, lat, lon), 6)
            order = np.lexsort((ids, d))[:KNN_K]
            mine = knn[knn["query_id"] == q.query_id].sort_values("rank")
            if not np.allclose(np.sort(d[order]), np.sort(mine["dist_m"].to_numpy()), atol=1e-3):
                bad.append(f"kNN query {q.query_id}: distances differ from brute force")
        return bad


def batch_sessions(ev: pd.DataFrame, gap_us: int) -> pd.DataFrame:
    """Gap sessionization in pandas: (user_id, start_us, end_us, n, total,
    is_last) where is_last marks each user's final session."""
    e = ev.assign(ts_us=ev["ts"].astype("int64") // 1000).sort_values(
        ["user_id", "ts_us"], kind="stable"
    )
    new = (e["user_id"].diff() != 0) | (e["ts_us"].diff() > gap_us)
    sid = new.cumsum()
    s = e.groupby(sid).agg(
        user_id=("user_id", "first"), start_us=("ts_us", "min"),
        end_us=("ts_us", "max"), n=("ts_us", "size"), total=("value", "sum"),
    )
    s["is_last"] = ~s["user_id"].duplicated(keep="last")
    return s.reset_index(drop=True)


class StreamSessions(Workload):
    """streaming_sessions over the event files, one micro-batch per file,
    under Trigger.AvailableNow into a parquet sink."""

    name = "stream_sessions"
    GAP_US = 30 * 60 * 1_000_000

    def prepare(self):
        self.sessions = batch_sessions(self.inp["events_df"], self.GAP_US)

    def _dir(self, it):
        return os.path.join(self.work, "stream", f"it{it}")

    def run(self, spark, tr, it, full):
        out = os.path.join(self._dir(it), "out")
        # as the registry's streaming_sessions query does: no extra
        # micro-batch after the data, so one iteration is one batch per file
        conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
        prev = spark.conf.get(conf_key, "true")
        spark.conf.set(conf_key, "false")
        try:
            return self._run(spark, tr, it, out)
        finally:
            spark.conf.set(conf_key, prev)

    def _run(self, spark, tr, it, out):
        from a5spark.streaming.sessions import streaming_sessions

        with tr.span("streaming.sessions"):
            sessions = streaming_sessions(
                spark, self.inp["events"], "user_id long, ts timestamp, value double",
                gap="30 minutes", watermark="2 hours",
                source_options={"maxFilesPerTrigger": "1"},
            )
            q = (
                sessions.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", os.path.join(self._dir(it), "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            tr.stream(q)
            got = collect(
                tr,
                spark.read.parquet(out).select(
                    "user_id",
                    F.unix_micros("session_start").alias("start_us"),
                    F.unix_micros("session_end").alias("end_us"),
                    F.col("n_events").alias("n"),
                    F.col("total_value").alias("total"),
                ),
            )
        return {"sessions": got}

    def check(self, res, full):
        # every session the stream emitted is a batch session, and every
        # batch session that a later event of its user closed was emitted;
        # a user's final session may still be open or timed out by the
        # watermark, depending on where the micro-batches fall
        key = ["user_id", "start_us", "end_us", "n"]
        got = res["sessions"]
        want = self.sessions
        m = got.merge(want, on=key, how="left", suffixes=("", "_want"), indicator=True)
        bad = []
        if (m["_merge"] != "both").any():
            bad.append(f"{int((m['_merge'] != 'both').sum())} emitted sessions are not batch sessions")
        elif not np.allclose(m["total"], m["total_want"], rtol=1e-9, atol=1e-6):
            bad.append("session totals differ from the batch sessionization")
        closed = want[~want["is_last"]]
        missing = closed.merge(got, on=key, how="left", indicator=True)["_merge"] != "both"
        if missing.any():
            bad.append(f"{int(missing.sum())} gap-closed sessions were not emitted")
        if got.duplicated(key).any():
            bad.append("a session was emitted twice")
        return bad

    def cleanup(self, it):
        shutil.rmtree(self._dir(it), ignore_errors=True)


WORKLOADS = {w.name: w for w in (AssignDensity, SpatialJoin, StreamSessions)}
