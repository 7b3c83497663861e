"""The benchmark workloads: inputs from a seed, the timed operation, the
oracle check and the per-layer numbers each one reports.

Every workload is driven by one closed-loop client: the next operation
starts only after the previous one has returned and been checked.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import oracle
from meters import median, ui_time

# Input sizes.  FULL is what the benchmark measures; TOY keeps the
# self-tests to seconds.  FULL is bounded by the run budget: every run of
# every workload starts its own JVM and must finish well inside a minute.
FULL = {"tile_rows": 1_500_000, "tile_splits": 64,
        "ingest_rows": 100_000, "ingest_append": 25_000, "ingest_splits": 4,
        "query_rows": 60_000, "query_append": 15_000, "query_splits": 4,
        "warm_rows": 20_000}
TOY = {"tile_rows": 20_000, "tile_splits": 4,
       "ingest_rows": 4_000, "ingest_append": 1_000, "ingest_splits": 2,
       "query_rows": 20_000, "query_append": 5_000, "query_splits": 2,
       "warm_rows": 2_000}

ZOOMS = [0, 2, 4, 6, 8]
TILE_PX = 256
MIX_CLASSES = ["ingest", "bbox_apply", "planned", "polygon", "knn"]
BOX_DEG = [0.5, 2.0, 10.0]
BOX_OF = {"planned": 0, "bbox_apply": 1, "polygon": 2}   # index into BOX_DEG
KNN_K = 10


@dataclass
class Op:
    cls: str
    params: dict = field(default_factory=dict)


@dataclass
class OpRecord:
    op_id: str
    cls: str
    seconds: float
    rows: int
    cpu_s: float = 0.0
    mismatches: int = 0
    error: str | None = None
    extra: dict = field(default_factory=dict)


def _circle_wkt(cx: float, cy: float, r: float, n: int = 32) -> str:
    pts = [(cx + r * math.cos(2 * math.pi * i / n),
            cy + r * math.sin(2 * math.pi * i / n)) for i in range(n)]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + "))"


def _ring(wkt: str) -> np.ndarray:
    body = wkt[wkt.index("((") + 2:wkt.rindex("))")]
    return np.array([[float(v) for v in p.split()] for p in body.split(",")])


def _utc(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def _ids_of(rows) -> list[int]:
    return [int(r["image_id"][3:]) for r in rows]


def appended_batch(spark, start: int, m: int):
    """Generator rows [start, start + m), arriving as about one input split
    (as a new batch would), so the append adds one file per week bin."""
    from geomesa_spark.sources.images import synthetic_images_geo
    parts = -(-(start + m) // m)
    return (synthetic_images_geo(spark, start + m, parts)
            .where(F.col("image_id") >= f"img{start:012d}"))


def _ids(records) -> set:
    return {r.op_id for r in records}


def _parquet_sizes(path: str) -> list[int]:
    return [os.path.getsize(os.path.join(d, f))
            for d, _s, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


class Workload:
    name = ""
    min_ops = 3
    cycle = 1       # the window ends on a multiple of this many operations

    def __init__(self, spark, tracer, seed: int, sizes: dict, work_dir: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sizes, self.work_dir = sizes, work_dir
        self.rng = np.random.default_rng(seed)

    def setup(self) -> None:
        """Warm every plan shape (and build inputs); not measured as ops."""

    def ops(self):
        raise NotImplementedError

    def execute(self, op: Op):
        """The timed part: engine calls plus the action that forces them."""
        raise NotImplementedError

    def check(self, op: Op, result) -> tuple[int, dict]:
        """(mismatch count, per-op facts) — runs outside the timed part."""
        raise NotImplementedError

    def rows_per_op(self, op: Op) -> int:
        raise NotImplementedError

    def layer_metrics(self, sm, records: list[OpRecord]) -> dict:
        return {}


# ---------------------------------------------------------------------------
# tile_pipeline: image rows -> broadcast PIP join -> tile pyramid
# ---------------------------------------------------------------------------

class TilePipeline(Workload):
    """Data-bound headline path: operators.pip_join + operators.tiling, no
    layout I/O and no Python worker."""

    name = "tile_pipeline"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # seeded version of the scaling bench's polygon set: 64 circles,
        # 32 vertices, mixed radii
        self.polys = []
        for i in range(64):
            cx = float(self.rng.uniform(-170.0, 170.0))
            cy = float(self.rng.uniform(-80.0, 80.0))
            self.polys.append((f"p{i}", _circle_wkt(cx, cy, 6.0 + 3.0 * (i % 7))))
        n = self.sizes["tile_rows"]
        rows = oracle.image_rows(np.arange(n))
        idx, _poly, self.ambiguous = oracle.pip_pairs(
            rows["lon"], rows["lat"], [_ring(w) for _p, w in self.polys])
        self.want = oracle.pyramid_summary(rows["lon"][idx], rows["lat"][idx],
                                           ZOOMS, TILE_PX)

    def _pass(self, n: int, splits: int):
        from geomesa_spark.operators.pip_join import pip_join_broadcast
        from geomesa_spark.operators.tiling import tile_pyramid
        from geomesa_spark.sources.images import synthetic_images_geo

        t = self.tracer
        imgs = synthetic_images_geo(self.spark, n, splits)
        with t.span("operators.pip_join.pip_join_broadcast"):
            joined = pip_join_broadcast(imgs, self.polys)
        with t.span("operators.tiling.tile_pyramid"):
            tiles = tile_pyramid(joined, ZOOMS, tile_px=TILE_PX)
        with t.span("action.collect"):
            got = (tiles.groupBy("zoom")
                   .agg(F.count("*").alias("pixels"), F.sum("cnt").alias("cnt"))
                   .collect())
        return {r["zoom"]: (r["pixels"], r["cnt"]) for r in got}

    def setup(self):
        # a half-size pass compiles every plan shape and gets the hot loops
        # through the JIT before the first measured pass
        self._pass(self.sizes["tile_rows"] // 2, self.sizes["tile_splits"])
        self.spark.catalog.clearCache()

    def ops(self):
        while True:
            yield Op("tile_pass")

    def execute(self, op):
        return self._pass(self.sizes["tile_rows"], self.sizes["tile_splits"])

    def check(self, op, got):
        self.spark.catalog.clearCache()
        bad = int(set(got) != set(self.want))
        for z, (px, cnt) in self.want.items():
            gpx, gcnt = got.get(z, (-1, -1))
            bad += int(abs(gpx - px) > self.ambiguous
                       or abs(gcnt - cnt) > self.ambiguous)
        finest = max(ZOOMS)
        return bad, {"finest_pixels": got.get(finest, (0, 0))[0],
                     "matches": got.get(finest, (0, 0))[1]}

    def rows_per_op(self, op):
        return self.sizes["tile_rows"]

    def layer_metrics(self, sm, records):
        per = []
        for r in records:
            cand = max(sm.node_values(r.op_id, "BroadcastHashJoin",
                                      "number of output rows") or [0])
            spans = sm.node_values(r.op_id, "LocalTableScan",
                                   "number of output rows")
            per.append({
                "match_ratio": r.extra["matches"] / cand if cand else 0.0,
                "span_rows": max(spans or [0]),
                "shuffle_bytes": sm.stage_sum(r.op_id, "shuffleWriteBytes"),
                "spill_bytes": sm.stage_sum(r.op_id, "memoryBytesSpilled")
                + sm.stage_sum(r.op_id, "diskBytesSpilled"),
                "agg_build_s": sm.node_sum(r.op_id, "HashAggregate",
                                           "time in aggregation build"),
            })
        pick = lambda k: median(p[k] for p in per)  # noqa: E731
        return {
            "operators.pip_join.call_s": median(self.tracer.durations(
                "operators.pip_join.pip_join_broadcast", _ids(records))),
            "operators.pip_join.span_rows": pick("span_rows"),
            "operators.pip_join.match_ratio": pick("match_ratio"),
            "operators.tiling.shuffle_bytes": pick("shuffle_bytes"),
            "operators.tiling.agg_build_s": pick("agg_build_s"),
            "operators.tiling.finest_pixels": median(
                r.extra["finest_pixels"] for r in records),
            "operators.tiling.spill_bytes": pick("spill_bytes"),
        }


# ---------------------------------------------------------------------------
# layout_mix: s2 ingest + bbox / planned / polygon / kNN queries
# ---------------------------------------------------------------------------

class LayoutMix(Workload):
    """The indexed layout's write and read sides in one closed loop.

    Each cycle is one ingest (``write_indexed(cell="s2")`` of a base batch,
    then ``append_indexed`` of a seeded batch, into its own layout) followed
    by one query of each class against a z2/week layout built in set-up.
    The ingest crosses into Python for every row (S2 cell assignment is an
    Arrow-batched pandas UDF); the queries stress plans.*, layout pruning
    and per-query fixed cost.  tile_pipeline touches none of these."""

    name = "layout_mix"
    cycle = len(MIX_CLASSES)
    min_ops = 2 * len(MIX_CLASSES)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        n, m = self.sizes["query_rows"], self.sizes["query_append"]
        # the seed places each appended batch somewhere past its base rows
        self.append_start = n + int(self.rng.integers(0, n))
        self.path = os.path.join(self.work_dir, "query_layout")
        ids = np.concatenate([np.arange(n),
                              np.arange(self.append_start, self.append_start + m)])
        self.rows = oracle.image_rows(ids)
        self.n_rows = len(ids)
        # base rows cover [TS0, TS0 + n * 997 s) until the generator wraps:
        # query intervals fall inside what was written
        self.ts_span = int(self.rows["ts"][:n].max()) - oracle.TS0

        n, m = self.sizes["ingest_rows"], self.sizes["ingest_append"]
        self.ingest_start = n + int(self.rng.integers(0, n))
        self.ingest_path = os.path.join(self.work_dir, "ingest_layout")
        base = self.rng.choice(n, size=min(64, n), replace=False)
        extra = self.ingest_start + self.rng.choice(m, size=min(64, m),
                                                    replace=False)
        self.sample = np.concatenate([base, extra])

    # -- set-up ---------------------------------------------------------------

    def setup(self):
        from geomesa_spark.sources.images import synthetic_images_geo
        from geomesa_spark.sources.layout import (append_indexed, read_indexed,
                                                  write_indexed)

        shutil.rmtree(self.path, ignore_errors=True)
        s, m = self.append_start, self.sizes["query_append"]
        with self.tracer.span("sources.layout.setup_write"):
            write_indexed(synthetic_images_geo(self.spark, self.sizes["query_rows"],
                                               self.sizes["query_splits"]),
                          self.path, period="week")
            append_indexed(appended_batch(self.spark, s, m), self.path)
        self.df = read_indexed(self.spark, self.path)
        self.files = len(_parquet_sizes(self.path))
        w = self.sizes["warm_rows"]
        self._ingest(os.path.join(self.work_dir, "ingest_warm"), w, 4, 2 * w, w // 4)
        warm = np.random.default_rng([self.seed, 1])
        for i in range(1, len(MIX_CLASSES)):
            self.execute(self._make_op(i, warm))

    # -- the stream -----------------------------------------------------------

    def _make_op(self, i: int, rng) -> Op:
        cls = MIX_CLASSES[i % len(MIX_CLASSES)]
        if cls == "ingest":
            return Op(cls)
        if cls == "knn":
            return Op(cls, {"lon": float(rng.uniform(-170, 170)),
                            "lat": float(rng.uniform(-80, 80))})
        # each cycle's three box queries get the three sizes, rotating by
        # cycle; fixed per class in the first cycle, so the mix a short window
        # sees does not depend on the seed
        size = BOX_DEG[(BOX_OF[cls] + i // len(MIX_CLASSES)) % len(BOX_DEG)]
        cx, cy = float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80))
        weeks = int(rng.integers(1, 4))
        t0 = oracle.TS0 + int(rng.integers(0, self.ts_span - weeks * oracle.WEEK_S))
        p = {"bbox": (cx - size / 2, cy - size / 2, cx + size / 2, cy + size / 2),
             "interval": (_utc(t0), _utc(t0 + weeks * oracle.WEEK_S))}
        if cls == "polygon":
            # star-shaped hexagon inside the box: never a rectangle, so the
            # exact refine runs
            ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
            rad = rng.uniform(0.5, 1.0, 6) * size / 2
            pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a, r in zip(ang, rad)]
            pts.append(pts[0])
            p["wkt"] = "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + "))"
        return Op(cls, p)

    def ops(self):
        i = 0
        while True:
            yield self._make_op(i, self.rng)
            i += 1

    def rows_per_op(self, op):
        if op.cls == "ingest":
            return self.sizes["ingest_rows"] + self.sizes["ingest_append"]
        return self.n_rows

    # -- execution ------------------------------------------------------------

    def _ingest(self, path, n, splits, start, m):
        from geomesa_spark.sources.images import synthetic_images_geo
        from geomesa_spark.sources.layout import append_indexed, write_indexed

        shutil.rmtree(path, ignore_errors=True)
        t = self.tracer
        with t.span("sources.layout.write_indexed"):
            write_indexed(synthetic_images_geo(self.spark, n, splits), path,
                          period="week", cell="s2")
        with t.span("sources.layout.append_indexed"):
            append_indexed(appended_batch(self.spark, start, m), path)
        return path

    def execute(self, op):
        from geomesa_spark.operators.knn import knn_join
        from geomesa_spark.plans.decider import scan_with_strategy
        from geomesa_spark.plans.query import SpatialQuery

        t, p = self.tracer, op.params
        if op.cls == "ingest":
            return self._ingest(self.ingest_path, self.sizes["ingest_rows"],
                                self.sizes["ingest_splits"], self.ingest_start,
                                self.sizes["ingest_append"])
        if op.cls == "knn":
            with t.span("operators.knn.knn_join"):
                out = knn_join(self.df, [("q0", p["lon"], p["lat"])], KNN_K,
                               n_rows=self.n_rows)
            with t.span("action.collect"):
                return out.select("image_id").collect()
        if op.cls == "polygon":
            q = SpatialQuery(geometry=p["wkt"], interval=p["interval"], z2_col="z2")
        else:
            q = SpatialQuery(bbox=p["bbox"], interval=p["interval"], z2_col="z2")
        if op.cls == "planned":
            with t.span("plans.query.SpatialQuery.plan"):
                strategy = q.plan(["z3", "z2"])
            with t.span("plans.decider.scan_with_strategy"):
                out = scan_with_strategy(self.df, q, strategy, period="week")
        else:
            with t.span("plans.query.SpatialQuery.apply"):
                out = q.apply(self.df)
        with t.span("action.collect"):
            return out.select("image_id").collect()

    # -- oracle ---------------------------------------------------------------

    def check(self, op, got):
        if op.cls == "ingest":
            return self._check_ingest(got)
        ids = _ids_of(got)
        p, r = op.params, self.rows
        if op.cls == "knn":
            return oracle.knn_mismatches(r, p["lon"], p["lat"], KNN_K, ids), \
                {"hits": len(ids)}
        lo, hi = (oracle.epoch_s(s) for s in p["interval"])
        x0, y0, x1, y1 = p["bbox"] if "bbox" in p else \
            (*_ring(p["wkt"]).min(axis=0), *_ring(p["wkt"]).max(axis=0))
        mask = ((r["lon"] >= x0) & (r["lon"] <= x1) & (r["lat"] >= y0)
                & (r["lat"] <= y1) & (r["ts"] >= lo) & (r["ts"] <= hi))
        ambiguous: set = set()
        if op.cls == "polygon":
            inside, near = oracle.in_polygon(r["lon"], r["lat"], _ring(p["wkt"]))
            ambiguous = set(r["id"][mask & near].tolist())
            mask &= inside
        want = set(r["id"][mask].tolist())
        bad = oracle.ambiguous_set_diff(want, set(ids), ambiguous) \
            + (len(ids) - len(set(ids)))
        facts = {"hits": len(ids)}
        if self.tracer.enabled and "bbox" in p:
            from geomesa_spark.plans.cover import z2_ranges
            facts["z2_ranges"] = len(z2_ranges([p["bbox"]], 64))
        return bad, facts

    def _check_ingest(self, path):
        """Reads the written files with pyarrow, not with the engine."""
        import pyarrow.compute as pc
        import pyarrow.dataset as pds

        from geomesa_spark.cells.s2 import S2SFC

        files = sorted(os.path.join(d, f) for d, _s, fs in os.walk(path)
                       for f in fs if f.endswith(".parquet"))
        data = pds.dataset(files, format="parquet", partition_base_dir=path,
                           partitioning=pds.partitioning(flavor="hive"))
        n = self.sizes["ingest_rows"] + self.sizes["ingest_append"]
        bad = int(data.count_rows() != n)
        names = [f"img{i:012d}" for i in self.sample]
        table = data.to_table(columns=["image_id", "s2", "time_bin"],
                              filter=pc.field("image_id").isin(names))
        got = {int(i[3:]): (s2, tb) for i, s2, tb in zip(
            *(table.column(c).to_pylist() for c in ("image_id", "s2", "time_bin")))}
        rows = oracle.image_rows(self.sample)
        want_s2 = S2SFC().index_np(rows["lon"], rows["lat"])
        want_bin = rows["ts"] // oracle.WEEK_S
        for i, s2, tb in zip(self.sample.tolist(), want_s2.tolist(),
                             want_bin.tolist()):
            bad += int(got.get(i) != (s2, tb))
        sizes = sorted(os.path.getsize(f) for f in files)
        return bad, {"files": len(sizes), "bytes": sum(sizes),
                     "skew": sizes[-1] / max(median(sizes), 1.0)
                     if sizes else 0.0, "rows": n}

    # -- per-layer ------------------------------------------------------------

    def layer_metrics(self, sm, records):
        return {**self._ingest_layers(sm, [r for r in records if r.cls == "ingest"]),
                **self._query_layers(sm, [r for r in records if r.cls != "ingest"])}

    def _ingest_layers(self, sm, records):
        per = []
        for r in records:
            sample_s = 0.0
            for j in sm.op_jobs(r.op_id):
                st = [sm.stages.get((s, 0)) for s in j["stageIds"]]
                st = [s for s in st if s and s["status"] == "COMPLETE"]
                # the range partitioner's sampling job shuffles and writes
                # nothing
                if st and all(s["shuffleWriteBytes"] == 0
                              and s["outputBytes"] == 0 for s in st):
                    sample_s += ui_time(j["completionTime"]) - ui_time(j["submissionTime"])
            per.append({
                "range_sample_s": sample_s,
                "shuffle_bytes": sm.stage_sum(r.op_id, "shuffleWriteBytes"),
                "spill_bytes": sm.stage_sum(r.op_id, "memoryBytesSpilled")
                + sm.stage_sum(r.op_id, "diskBytesSpilled"),
                "sent": sm.node_sum(r.op_id, "ArrowEvalPython",
                                    "data sent to Python workers"),
                "returned": sm.node_sum(r.op_id, "ArrowEvalPython",
                                        "data returned from Python workers"),
            })
        pick = lambda k: median(p[k] for p in per)  # noqa: E731
        span = lambda name: median(self.tracer.durations(name, _ids(records)))  # noqa: E731
        return {
            "sources.layout.write_indexed_s": span("sources.layout.write_indexed"),
            "sources.layout.append_indexed_s": span("sources.layout.append_indexed"),
            "sources.layout.range_sample_s": pick("range_sample_s"),
            "sources.layout.shuffle_bytes": pick("shuffle_bytes"),
            "sources.layout.spill_bytes": pick("spill_bytes"),
            "sources.layout.files_written": median(r.extra["files"] for r in records),
            "sources.layout.file_bytes_skew": median(r.extra["skew"] for r in records),
            "sources.layout.bytes_per_row": median(
                r.extra["bytes"] / r.extra["rows"] for r in records),
            "functions.cell_functions.arrow_bytes_sent": pick("sent"),
            "functions.cell_functions.arrow_bytes_returned": pick("returned"),
        }

    def _query_layers(self, sm, records):
        out = {}
        for cls in ("bbox_apply", "planned", "polygon"):
            recs = [r for r in records if r.cls == cls]
            scan = lambda r, m: sm.node_sum(r.op_id, "Scan parquet", m)  # noqa: E731
            out[f"sources.layout.files_read_ratio.{cls}"] = median(
                scan(r, "number of files read") / self.files for r in recs)
            out[f"sources.layout.rows_scanned_per_hit.{cls}"] = median(
                scan(r, "number of output rows") / max(r.extra["hits"], 1)
                for r in recs)
            out[f"sources.layout.bytes_read.{cls}"] = median(
                scan(r, "size of files read") for r in recs)
        out["plans.query.refine_arrow_bytes"] = median(
            sm.node_sum(r.op_id, "ArrowEvalPython", "data sent to Python workers")
            for r in records if r.cls == "polygon")
        knn = [r for r in records if r.cls == "knn"]
        out["operators.knn.jobs"] = median(len(sm.op_jobs(r.op_id)) for r in knn)
        # candidates: rows out of the cell join in each kNN execution (the
        # query-point join after it passes the same rows)
        out["operators.knn.candidates_per_result"] = median(
            sum(max(v or [0]) for v in sm.exec_node_values(
                r.op_id, "BroadcastHashJoin", "number of output rows"))
            / max(r.extra["hits"], 1) for r in knn)
        ids = _ids(records)
        dur = self.tracer.durations
        out["operators.knn.call_s"] = median(dur("operators.knn.knn_join", ids))
        out["plans.query.apply_s"] = median(dur("plans.query.SpatialQuery.apply", ids))
        out["plans.query.plan_s"] = median(dur("plans.query.SpatialQuery.plan", ids))
        out["plans.decider.scan_with_strategy_s"] = median(
            dur("plans.decider.scan_with_strategy", ids))
        out["plans.cover.z2_ranges"] = median(
            r.extra["z2_ranges"] for r in records if "z2_ranges" in r.extra)
        out["sources.layout.setup_write_s"] = sum(dur("sources.layout.setup_write"))
        return out


WORKLOADS = {w.name: w for w in (TilePipeline, LayoutMix)}
