"""The benchmark's workloads.

Each workload builds its inputs from the seed, runs one job (a closed
loop of one client calls :meth:`job` again only after it returns), and
checks every job's output signature against a reference computed once per
seed by an independent path, outside every timer. In a traced run a job
also harvests the executed-plan metrics of every step, and
:meth:`layers` adds the per-layer probes that need their own calls.

A step is one action on one DataFrame; its signature is order-independent
(row count plus ``bit_xor(xxhash64(...))`` or sums), so a job is correct
exactly when its rows are.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gdal_scripts_spark import (cells, codecs, fixtures, geom, joins, raster,
                                rasterize)
from probes import plan_nodes, summarize

CPUS = 4


def pair_sig(df, a: str, b: str):
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.coalesce(F.bit_xor(F.xxhash64(a, b)), F.lit(0)).alias("h"))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def step(ctx, rec: dict, name: str, df, python_node: str = "MapInArrowExec",
         into_cache: bool = False, action=None):
    """Run one action on ``df`` inside a span; in a traced run, harvest the
    metrics of the plan that action executed."""
    with ctx.tracer.span(name):
        t = time.perf_counter()
        out = action() if action else tuple(df.collect()[0])
        rec["walls"][name] = time.perf_counter() - t
    if ctx.tracer.enabled:
        rec["plans"][name] = summarize(plan_nodes(df, into_cache), python_node)
    return out


def bbox_candidates(lon: np.ndarray, lat: np.ndarray, bbox: np.ndarray) -> int:
    """Number of (point, polygon) pairs whose point lies in the polygon's
    bbox: the rows the exact even-odd test receives."""
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    n = 0
    for x0, y0, x1, y1 in bbox:
        a, b = np.searchsorted(slon, x0, side="left"), np.searchsorted(slon, x1, side="right")
        ys = slat[a:b]
        n += int(np.count_nonzero((ys >= y0) & (ys <= y1)))
    return n


def identity_arrow(batches):
    yield from batches


class Workload:
    name = ""
    unit = ""            # what one input row is, for throughput
    supersedes = ""
    warmup_jobs = 1      # warm jobs run before the measured ones

    def __init__(self, scale: float):
        self.scale = scale

    def n(self, full: int, floor: int = 8) -> int:
        return max(floor, int(full * self.scale))

    def build(self, ctx) -> dict:
        raise NotImplementedError

    def release(self, inp: dict) -> None:
        for v in inp.values():
            if hasattr(v, "unpersist"):
                v.unpersist(blocking=True)

    def reference(self, ctx, inp: dict):
        raise NotImplementedError

    def job(self, ctx, inp: dict, rec: dict):
        raise NotImplementedError

    def layers(self, ctx, inp: dict, recs: list[dict]) -> dict:
        return {}


# ---------------------------------------------------------------------------
# flagship_dense: tile assign + broadcast PiP join, skewed dense overlap
# ---------------------------------------------------------------------------

# The S2 covering of these large polygons is driver-side Python whose cost
# grows with the cell count; level 4 keeps the traced probe affordable.
S2_LEVEL = 4
# The S2 probes take ~25 s; a traced run that reaches them later than this
# (a slowed host) skips them, so the run still ends inside 180 s.
S2_PROBE_DEADLINE_S = 100


class FlagshipDense(Workload):
    """The ``bench.py`` tile-assign query, then the broadcast PiP join of
    Zipf-skewed points against 200 overlapping polygons (~16 pairs per
    point): every point crosses the Python boundary, no shuffle."""

    name = "flagship_dense"
    unit = "points"
    supersedes = "bench.py tile_assign + spatial_join_bc"
    # the JVM's CPU per job still falls by ~20% over the first few jobs
    warmup_jobs = 3

    def build(self, ctx):
        with ctx.tracer.span("fixtures.make_points_pdf"):
            pdf = fixtures.make_points_pdf(self.n(200_000), seed=ctx.seed)
            path = ctx.path("points.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
            pts = ctx.spark.read.parquet(path).repartition(2 * CPUS).persist()
            pts.count()
        with ctx.tracer.span("geom.pack_build"):
            pack = fixtures.polygons_pack(p=200)
        return {"points": pts, "pack": pack, "pdf": pdf, "rows": len(pdf)}

    def reference(self, ctx, inp):
        pdf, pack = inp["pdf"], inp["pack"]
        lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
        tx, ty = cells.np_lonlat_to_tile_tms(lon, lat, 12)
        tiles = np.unique(np.stack([tx, ty], axis=1), axis=0)
        assign = (len(pdf), int(cells.np_cell_id(lon, lat, 8).min()),
                  max(cells.np_quadkey(int(a), int(b), 12) for a, b in tiles))
        # pairs by the numpy kernel alone, hashed by the same Spark expression
        idx, pid = geom.pip_batch(lon, lat, pack)
        path = ctx.path("reference_pairs.parquet")
        pq.write_table(pa.table({"image_id": pa.array(pdf["image_id"]).take(pa.array(idx)),
                                 "poly_id": pa.array(pid, pa.int64())}), path)
        pairs = tuple(pair_sig(ctx.spark.read.parquet(path), "image_id", "poly_id").collect()[0])
        return (assign, pairs)

    def job(self, ctx, inp, rec):
        pts = inp["points"]
        tx, ty = cells.lonlat_to_tile_tms(F.col("lon"), F.col("lat"), 12)
        assign = pts.select(
            "image_id", tx.alias("tx"), ty.alias("ty"),
            cells.tms_to_xyz_y(ty, 12).alias("y_xyz"),
            cells.quadkey(tx, ty, 12).alias("qk"),
            cells.cell_id(F.col("lon"), F.col("lat"), 8).alias("cell"),
        ).agg(F.count("*"), F.min("cell"), F.max("qk"))
        a = step(ctx, rec, "cells.tile_assign", assign)
        pairs = joins.spatial_join_broadcast(pts, inp["pack"])
        j = step(ctx, rec, "joins.spatial_join_broadcast", pair_sig(pairs, "image_id", "poly_id"))
        return (a, j)

    def layers(self, ctx, inp, recs):
        pts, pack, pdf = inp["points"], inp["pack"], inp["pdf"]
        lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
        plans = [r["plans"]["joins.spatial_join_broadcast"] for r in recs]
        pairs = recs[-1]["sig"][1][0]
        cand = bbox_candidates(lon, lat, pack.bbox)
        cols = pts.select("image_id", "lon", "lat")

        def passthrough():
            # identity mapInArrow over the join's columns: the serDe floor
            return cols.mapInArrow(identity_arrow, schema=cols.schema).agg(F.count(F.lit(1))).collect()

        with ctx.tracer.span("joins.passthrough"):
            t_pass = median([timed(passthrough)[0] for _ in range(3)])
        t_cover = t_s2 = n_cells = 0
        if ctx.elapsed() > S2_PROBE_DEADLINE_S:
            print("[perfbench] host too slow: S2 probes skipped, reported as 0", file=sys.stderr)
        else:
            with ctx.tracer.span("s2.s2_cover_regions"):
                t_cover, regions = timed(lambda: joins.s2_cover_regions(ctx.spark, pack, max_level=S2_LEVEL))
                regions = regions.persist()
                n_cells = regions.count()
            with ctx.tracer.span("joins.spatial_join_s2"):
                t_s2, s2_sig = timed(lambda: tuple(pair_sig(
                    joins.spatial_join_s2(pts, pack, regions=regions, prefilter_z=12,
                                          broadcast_regions=False),
                    "image_id", "poly_id").collect()[0]))
            regions.unpersist()
            ctx.check("joins.spatial_join_s2", s2_sig, recs[-1]["sig"][1])
        with ctx.tracer.span("geom.pip_batch"):
            t_kernel, _ = timed(lambda: geom.pip_batch(lon, lat, pack))
        return {
            "cells.assign_s": median([r["walls"]["cells.tile_assign"] for r in recs]),
            "geom.pip_kernel_s": t_kernel,
            "joins.boundary_rows": median([p.get("py_rows_in", 0) for p in plans]),
            "joins.boundary_bytes_sent": median([p.get("py_sent", 0) for p in plans]),
            "joins.boundary_bytes_received": median([p.get("py_received", 0) for p in plans]),
            "joins.python_s": median([p.get("py_total_ms", 0) for p in plans]) / 1e3,
            "joins.python_boot_s": median([p.get("py_boot_ms", 0) for p in plans]) / 1e3,
            "joins.passthrough_s": t_pass,
            "joins.candidates": cand,
            "joins.pairs": pairs,
            "joins.candidate_ratio": cand / pairs if pairs else 0.0,
            "joins.s2_alt_s": t_s2,
            "s2.cover_s": t_cover,
            "s2.cover_cells": n_cells,
        }


# ---------------------------------------------------------------------------
# raster_tiles: imagery pyramid + polygon burn layer
# ---------------------------------------------------------------------------

Z_BASE, Z_MIN = 11, 9   # imagery pyramid: base zoom, lowest overview zoom
Z_BURN = 8              # polygon burn zoom


def tile_sums(batches):
    """Per-tile sum of the int32 burn canvas (the check's only Python step)."""
    for b in batches:
        s = [int(np.frombuffer(v, dtype="<i4").sum(dtype=np.int64))
             for v in b.column("tile_bytes").to_pylist()]
        yield pa.RecordBatch.from_arrays([b.column("tx"), b.column("ty"), pa.array(s, pa.int64())],
                                         names=["tx", "ty", "s"])


def tile_sig(df):
    return df.agg(F.count(F.lit(1)), F.coalesce(F.bit_xor(F.xxhash64("tx", "ty", "s")), F.lit(0)),
                  F.coalesce(F.sum("s"), F.lit(0)))


def scanline_counts(pack: geom.PolygonPack, z: int) -> list[tuple[int, int, int, int]]:
    """(poly_id, tx, ty, burned) by scanline fill: the rule of
    ``rasterize.np_rasterize_counts`` (edge crossings of each pixel-row
    center line, even-odd pairs, pixel centers strictly between), with
    the rows and edges of a tile handled as arrays instead of loops."""
    out = []
    n = 1 << z
    for p in range(pack.n_polys):
        x0, y0, x1, y1 = pack.bbox[p]
        txa, tya = cells.np_lonlat_to_tile_tms(np.array([x0]), np.array([y0]), z)
        txb, tyb = cells.np_lonlat_to_tile_tms(np.array([x1]), np.array([y1]), z)
        rings = [np.asarray(r) for r in pack.rings_of(p)]
        a = np.vstack(rings)
        b = np.vstack([np.roll(r, -1, axis=0) for r in rings])
        ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
        for tx in range(max(int(txa[0]), 0), min(int(txb[0]), n - 1) + 1):
            for ty in range(max(int(tya[0]), 0), min(int(tyb[0]), n - 1) + 1):
                lon, lat = rasterize._tile_pixel_lonlat(tx, ty, z)
                yv = lat[:, None]
                cross = (ay > yv) != (by > yv)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xs = np.where(cross, ax + (yv - ay) * (bx - ax) / (by - ay), np.inf)
                xs.sort(axis=1)
                k = cross.sum(axis=1)
                if xs.shape[1] % 2:
                    xs = np.hstack([xs, np.full((len(xs), 1), np.inf)])
                lo = np.searchsorted(lon, xs[:, 0::2].ravel(), side="right").reshape(len(xs), -1)
                hi = np.searchsorted(lon, xs[:, 1::2].ravel(), side="left").reshape(len(xs), -1)
                pair_ok = 2 * np.arange(lo.shape[1])[None, :] + 1 < k[:, None]
                burned = int(np.where(pair_ok, np.maximum(hi - lo, 0), 0).sum())
                if burned:
                    out.append((int(pack.poly_ids[p]), tx, ty, burned))
    return out


class RasterTiles(Workload):
    """Two tile products per job: the imagery pyramid (decode, resample,
    PNG encode, one shuffle per level, a parquet write of every level) and
    a polygon burn layer (per-pixel even-odd over every (polygon, tile)
    fragment, then a grouped overlay)."""

    name = "raster_tiles"
    unit = "images+polygons"
    supersedes = "bench.py tile_cut"

    def build(self, ctx):
        n, p = self.n(40), self.n(12, floor=2)
        with ctx.tracer.span("fixtures.synth_images_spark"):
            imgs = fixtures.synth_images_spark(
                ctx.spark, n, partitions=2 * CPUS, start=ctx.seed * 1_000_000).persist()
            imgs.count()

        def shifted_pack():
            # the fixture polygons, moved by a seed-derived sub-tile offset
            # so every seed burns a different pixel grid over equal areas
            rng = np.random.default_rng(ctx.seed)
            dx, dy = rng.uniform(0, 360.0 / (1 << Z_BURN), 2)
            recs = fixtures.make_polygons_records(p)
            return geom.PolygonPack.from_rings(
                [(r["poly_id"], [ring + (dx, dy) for ring in r["rings_np"]]) for r in recs])

        with ctx.tracer.span("geom.pack_build"):
            pack = shifted_pack()
        return {"images": imgs, "pack": pack, "rows": n + p}

    def reference(self, ctx, inp):
        # The pyramid has no independent oracle at this size: ``None`` makes
        # the cold job pin its per-level (tile count, checksum sum) for this
        # seed, so warm jobs are checked for drift, not for absolute truth.
        per_tile: dict[tuple[int, int], int] = {}
        for pid, tx, ty, burned in scanline_counts(inp["pack"], Z_BURN):
            per_tile[(tx, ty)] = per_tile.get((tx, ty), 0) + pid * burned
        path = ctx.path("reference_tiles.parquet")
        keys = list(per_tile)
        pq.write_table(pa.table({"tx": pa.array([k[0] for k in keys], pa.int64()),
                                 "ty": pa.array([k[1] for k in keys], pa.int64()),
                                 "s": pa.array(list(per_tile.values()), pa.int64())}), path)
        return (None, tuple(tile_sig(ctx.spark.read.parquet(path)).collect()[0]))

    def job(self, ctx, inp, rec):
        return (self.pyramid(ctx, inp, rec), self.burn(ctx, inp, rec))

    def pyramid(self, ctx, inp, rec):
        base = raster.cut_base_tiles(inp["images"], z=Z_BASE, resampling="bilinear")
        levels = raster.build_pyramid(base, Z_BASE, Z_MIN)
        out = ctx.path("pyramid")
        zs = sorted(levels, reverse=True)
        if ctx.tracer.enabled:
            # materialise each stage prefix on its own: base, overviews, write
            step(ctx, rec, "raster.cut_base_tiles", levels[Z_BASE], "MapInPandasExec",
                 into_cache=True, action=levels[Z_BASE].count)
            with ctx.tracer.span("raster.build_pyramid"):
                for z in zs[1:]:
                    step(ctx, rec, f"raster.overview_z{z}", levels[z], "FlatMapGroupsInPandasExec",
                         into_cache=True, action=levels[z].count)
        with ctx.tracer.span("raster.write"):
            t = time.perf_counter()
            for z in zs:
                levels[z].write.mode("overwrite").parquet(os.path.join(out, f"z={z}"))
            rec["walls"]["raster.write"] = time.perf_counter() - t
        sig = tuple(
            (z, *levels[z].agg(F.count(F.lit(1)), F.coalesce(F.sum("checksum"), F.lit(0))).collect()[0])
            for z in zs)
        if ctx.tracer.enabled:
            rec["bytes_written"] = sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs
                if f.endswith(".parquet"))
            if "tile_sample" not in inp:
                inp["tile_sample"] = [bytes(r[0]) for r in
                                      levels[Z_BASE].select("tile_bytes").limit(16).collect()]
        for df in levels.values():
            df.unpersist()
        return sig

    def burn(self, ctx, inp, rec):
        tiles = rasterize.rasterize_tiles(inp["pack"], ctx.spark, z=Z_BURN, merge_alg="add")
        sums = tiles.select("tx", "ty", "tile_bytes").mapInArrow(
            tile_sums, schema="tx long, ty long, s long")
        return step(ctx, rec, "rasterize.rasterize_tiles", tile_sig(sums), "FlatMapGroupsInPandasExec")

    def layers(self, ctx, inp, recs):
        return self.pyramid_layers(ctx, inp, recs) | self.burn_layers(ctx, inp, recs)

    def pyramid_layers(self, ctx, inp, recs):
        base = [r["plans"]["raster.cut_base_tiles"] for r in recs]
        ovw = [[v for k, v in r["plans"].items() if k.startswith("raster.overview")] for r in recs]
        imgs = [(bytes(b), f) for b, f in inp["images"].select("bytes", "fmt").limit(64).collect()]
        with ctx.tracer.span("codecs.decode"):
            t_dec, _ = timed(lambda: [codecs.decode(b, f) for _ in range(3) for b, f in imgs])
        arrays = [codecs.decode_png(b) for b in inp["tile_sample"]]
        with ctx.tracer.span("codecs.encode_png"):
            t_enc, _ = timed(lambda: [codecs.encode_png(a) for _ in range(3) for a in arrays])
        return {
            "raster.fragments": median([p.get("py_rows_out", 0) for p in base]),
            "raster.base_s": median([r["walls"]["raster.cut_base_tiles"] for r in recs]),
            "raster.overview_s": median([sum(v for k, v in r["walls"].items()
                                             if k.startswith("raster.overview")) for r in recs]),
            "raster.shuffle_bytes": median([b.get("shuffle_bytes", 0) + sum(p.get("shuffle_bytes", 0) for p in o)
                                            for b, o in zip(base, ovw)]),
            "raster.write_s": median([r["walls"]["raster.write"] for r in recs]),
            "raster.bytes_written": median([r["bytes_written"] for r in recs]),
            "codecs.decode_us": t_dec / (3 * len(imgs)) * 1e6,
            "codecs.encode_png_us": t_enc / (3 * len(arrays)) * 1e6 if arrays else 0.0,
        }

    def burn_layers(self, ctx, inp, recs):
        pack = inp["pack"]
        with ctx.tracer.span("joins.polygon_cover_cells"):
            t_cover, cover = timed(lambda: joins.polygon_cover_cells(pack, Z_BURN))

        def burn_only():
            # the same per-fragment even-odd burn, without the overlay
            df = rasterize.rasterize_counts(pack, ctx.spark, z=Z_BURN)
            return df.agg(F.count(F.lit(1))).collect()[0][0]

        with ctx.tracer.span("rasterize.rasterize_counts"):
            t_burn = median([timed(burn_only)[0] for _ in range(2)])
        pid, cell = cover[0]
        _, tx, ty_xyz = (int(v) for v in cells.np_cell_to_tile(int(cell)))
        lon, lat = rasterize._tile_pixel_lonlat(tx, (1 << Z_BURN) - 1 - ty_xyz, Z_BURN)
        glon = np.repeat(lon[None, :], rasterize.TILE, axis=0).ravel()
        glat = np.repeat(lat[:, None], rasterize.TILE, axis=1).ravel()
        rings = pack.rings_of(int(np.nonzero(pack.poly_ids == pid)[0][0]))
        with ctx.tracer.span("geom.pip_even_odd"):
            t_kernel = median([timed(lambda: geom.pip_even_odd(glon, glat, rings))[0] for _ in range(5)])
        job = median([r["walls"]["rasterize.rasterize_tiles"] for r in recs])
        return {
            "rasterize.cover_s": t_cover,
            "rasterize.fragments": len(cover),
            "rasterize.pixel_tests": len(cover) * rasterize.TILE * rasterize.TILE,
            "rasterize.burn_s": t_burn,
            "rasterize.overlay_s": max(job - t_burn, 0.0),
            "rasterize.shuffle_bytes": median([r["plans"]["rasterize.rasterize_tiles"].get("shuffle_bytes", 0)
                                               for r in recs]),
            "rasterize.kernel_us": t_kernel * 1e6,
        }


WORKLOADS = {w.name: w for w in (FlagshipDense, RasterTiles)}
