#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about two minutes).

Run from the repository root:

    python3 perfbench/selftest.py

Checks that BENCHMARK.json agrees with the metric tables in ``run.py``,
that the vectorised scanline oracle equals ``rasterize.np_rasterize_counts``,
that every workload prints every named metric with its unit in both
modes, and that a wrong reference signature shows up as failed checks
(``error_rate`` > 0, ``correct`` false).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.getcwd(), HERE]

import run  # noqa: E402

SCALE = 0.02
WRONG = {"flagship_dense": ((0, 0, ""), (0, 0)), "raster_tiles": (None, (0, 0, 0))}


def fail(msg: str) -> None:
    print(f"SELFTEST FAILED: {msg}")
    sys.exit(1)


def check_benchmark_json() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    if e2e != run.END_TO_END:
        fail(f"end_to_end in BENCHMARK.json {e2e} != run.END_TO_END")
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    if layer != {k: v[:2] for k, v in run.PER_LAYER.items()}:
        fail("per_layer in BENCHMARK.json != run.PER_LAYER")
    if [w["name"] for w in bench["workloads"]] != list(run.ALL):
        fail("workloads in BENCHMARK.json != run.ALL")


def check_scanline_oracle() -> None:
    import numpy as np

    from gdal_scripts_spark import fixtures, geom, rasterize
    from workloads import scanline_counts

    for seed, z in ((1, 7), (2, 8)):
        d = np.random.default_rng(seed).uniform(0, 1, 2)
        pack = geom.PolygonPack.from_rings(
            [(r["poly_id"], [ring + d for ring in r["rings_np"]])
             for r in fixtures.make_polygons_records(4)])
        if scanline_counts(pack, z) != rasterize.np_rasterize_counts(pack, z):
            fail(f"scanline_counts != np_rasterize_counts (seed {seed}, z {z})")


def printed(res: dict, trace: bool) -> tuple[str, dict]:
    units = {k: v[0] for k, v in run.END_TO_END.items()} | {k: v[0] for k, v in run.PER_LAYER.items()}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.print_result(res, trace, units)
    text = buf.getvalue()
    return text, json.loads(text.strip().splitlines()[-1])


def check_output(wl: str, res: dict, trace: bool) -> None:
    text, last = printed(res, trace)
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{wl}: last line keys {sorted(last)}")
    table = run.PER_LAYER if trace else run.END_TO_END
    if set(last["metrics"]) != set(table):
        fail(f"{wl} trace={trace}: metrics {sorted(last['metrics'])}")
    for name, spec in table.items():
        if last["metrics"][name]["unit"] != spec[0]:
            fail(f"{wl}: unit of {name}")
    names = ["error_rate"] + ([] if trace else list(table))
    for name in names:
        if name not in text:
            fail(f"{wl}: {name} not printed by name")
    if not last["correct"] or last["failed"]:
        fail(f"{wl} trace={trace}: correct output reported as wrong: {last}")


def main() -> int:
    check_benchmark_json()
    check_scanline_oracle()
    work = run.prepare_env()
    try:
        for wl in run.ALL:
            for trace in (False, True):
                res = run.measure(wl, seed=1, seconds=0.1, trace=trace, workdir=work, scale=SCALE)
                check_output(wl, res, trace)
                print(f"ok  {wl} trace={int(trace)}: every metric printed with its unit", flush=True)
            res = run.measure(wl, seed=1, seconds=0.1, trace=False, workdir=work, scale=SCALE,
                              reference=WRONG[wl])
            _, last = printed(res, False)
            if res["context"]["error_rate"] <= 0 or last["correct"] or last["failed"] != last["attempted"]:
                fail(f"{wl}: a wrong reference was not counted: {last}")
            print(f"ok  {wl}: wrong reference -> error_rate {res['context']['error_rate']:.2f}", flush=True)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print("SELFTEST PASSED")
    return 0


if __name__ == "__main__":
    sys.exit(main())
