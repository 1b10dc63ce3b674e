"""solar_etl — the paper's three batch pipelines, end to end.

One pass = ``run_ingest`` (1-min expert CSV → 10-min means, one CSV per
(station, sky type)) → ``compile_solar`` + ``write_netcdf`` → ``run_compare``
(incl. ``regression_stats``). Many small per-file Spark jobs, CSV
parsing and file writes; almost no shuffle.

Oracles (precomputed from the raw inputs with pandas/numpy, as
tests/test_pipelines.py does): pandas ``resample('10min').mean()`` per
file, the dense NetCDF grid read back with ``read_netcdf3``, and
``np.polyfit`` per (station, component).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

import gen
from harness import PKG

SHAPE = gen.SolarShape(stations=2, days=1)
COMPONENTS = (("GHI", "GHI"), ("DHI", "DHI"), ("DNI", "BNI"))


def _read_raw(path: str) -> pd.DataFrame:
    header = None
    with open(path) as fh:
        for line in fh:
            if not line.startswith("#"):
                break
            header = line.lstrip("#").strip()
    names = [c.strip() for c in header.split(";")]
    pdf = pd.read_csv(path, comment="#", sep=";", header=None, names=names)
    pdf["time"] = pd.to_datetime(pdf["Observation period"].str.split("/").str[0])
    return pdf


class SolarEtl:
    name = "solar_etl"
    unit_op = None  # the unit op is the whole pass
    warmup_passes = 3
    # imported inside set-up time
    modules = (
        "session", "pipelines.ingest", "pipelines.compile", "pipelines.compare",
        "sinks.netcdf", "sinks.netcdf3",
    )

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    # ---------------- inputs + oracles (not part of set-up time) ------
    def generate(self) -> dict:
        p = gen.solar_inputs(self.seed, os.path.join(self.work, "inputs"), SHAPE)
        self.p = p
        self.expect_10min = {}
        for st in p["stations"]:
            for sky in ("clear", "observed_cloud"):
                raw = _read_raw(os.path.join(p["raw_dir"], f"raw_1min_{st}_{sky}.csv"))
                self.expect_10min[(st, sky)] = (
                    raw.set_index("time").select_dtypes(include="number")
                    .resample("10min").mean()
                )
        self.expect_stats = self._compare_oracle()
        self.input_rows = p["rows"]
        return {
            "files": p["files"], "days_per_file": p["days_per_file"],
            "rows_per_file": SHAPE.rows_per_file, "stations": len(p["stations"]),
            "input_rows": p["rows"],
        }

    def _compare_oracle(self) -> dict:
        out = {}
        for st in self.p["stations"]:
            g = pd.read_csv(os.path.join(self.p["qc_dir"], f"QC_{st}_2024_flagged.csv"))
            flags = [c for c in gen.GROUND_FLAGS if c in g.columns]
            g = g[g[flags].fillna(0).sum(axis=1) == 0].copy()
            g["timestamp"] = pd.to_datetime(g["Datetime (UTC)"])
            c = self.expect_10min[(st, "observed_cloud")].reset_index()
            c = c.rename(columns={"time": "timestamp"})
            cams = pd.DataFrame({"timestamp": c["timestamp"]})
            for comp, src in COMPONENTS:
                cams[f"{comp}_cams"] = c[src] * 60.0
            cams["cloud_cover"] = c["Cloud coverage"]
            ground = g[["timestamp"]].copy()
            for comp, _ in COMPONENTS:
                ground[f"{comp}_ground"] = g[comp]
            m = ground.merge(cams, on="timestamp", how="inner").dropna()
            for comp, _ in COMPONENTS:
                x, y = m[f"{comp}_ground"].to_numpy(), m[f"{comp}_cams"].to_numpy()
                slope, intercept = np.polyfit(x, y, 1)
                out[(st, comp)] = {
                    "slope": slope, "intercept": intercept,
                    "r2": np.corrcoef(x, y)[0, 1] ** 2, "n": len(m),
                }
        return out

    # ---------------- traced run --------------------------------------
    def trace_targets(self):
        import importlib

        ing = importlib.import_module(f"{PKG}.pipelines.ingest")
        comp = importlib.import_module(f"{PKG}.pipelines.compile")
        cmpr = importlib.import_module(f"{PKG}.pipelines.compare")
        nc = importlib.import_module(f"{PKG}.sinks.netcdf")
        nc3 = importlib.import_module(f"{PKG}.sinks.netcdf3")
        return [
            (ing, "run_ingest", "pipelines.ingest.run_ingest", "eager"),
            (ing, "aggregate_to_10min", "pipelines.ingest.aggregate_to_10min", "lazy"),
            (ing, "read_expert_csv", "sources.expert_csv.read_expert_csv", "lazy"),
            (comp, "read_locations", "pipelines.compile.read_locations", "eager"),
            (comp, "compile_solar", "pipelines.compile.compile_solar", "lazy"),
            (nc, "write_netcdf", "sinks.netcdf.write_netcdf", "eager"),
            (nc3, "write_netcdf3", "sinks.netcdf3.write_netcdf3", "eager"),
            (cmpr, "run_compare", "pipelines.compare.run_compare", "eager"),
            (cmpr, "regression_stats", "pipelines.compare.regression_stats", "eager"),
        ]

    # ---------------- one pass ----------------------------------------
    def run_pass(self, spark, timer, pass_dir: str) -> None:
        import importlib

        from pyspark.sql import functions as F

        ing = importlib.import_module(f"{PKG}.pipelines.ingest")
        comp = importlib.import_module(f"{PKG}.pipelines.compile")
        cmpr = importlib.import_module(f"{PKG}.pipelines.compare")
        nc = importlib.import_module(f"{PKG}.sinks.netcdf")

        out = os.path.join(pass_dir, "processed")
        os.makedirs(out, exist_ok=True)
        raw_dir = self.p["raw_dir"]

        def fetch(task: dict) -> str:
            import os as _os
            import shutil as _shutil

            name = f"raw_1min_{task['station']}_{task['sky_type']}.csv"
            dst = _os.path.join(out, name)
            _shutil.copyfile(_os.path.join(raw_dir, name), dst)
            return dst

        def ingest():
            res = ing.run_ingest(spark, self.p["locations"], fetch, out)
            rows = [r.asDict() for r in res.collect()]
            timer.extra["tasks"] = len(rows)
            timer.extra["tasks_failed"] = sum(1 for r in rows if not r["ok"])
            return rows

        timer.run("ingest", ingest, lambda rows: self._check_ingest(rows, out), unit=False)

        nc_path = os.path.join(pass_dir, "solar.nc")
        glob_ = os.path.join(out, "processed_10min_*_observed_cloud.csv")

        def compile_and_write():
            compiled = comp.compile_solar(spark, glob_, self.p["locations"])
            return nc.write_netcdf(compiled, nc_path)

        timer.run("compile_netcdf", compile_and_write,
                  lambda s: self._check_netcdf(s, nc_path), unit=False)

        def compare():
            ground = self._ground_df(spark)
            cams = (
                spark.read.option("header", True).schema(comp.PROCESSED_SCHEMA)
                .csv(glob_)
                .withColumn(
                    "station",
                    F.regexp_extract(F.input_file_name(), comp.PROCESSED_PATTERN, 1),
                )
            )
            _, stats = cmpr.run_compare(ground, cams)
            return stats

        timer.run("compare", compare, self._check_stats, unit=False)
        timer.extra["bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(pass_dir) for f in fs
            if not f.startswith("raw_1min_")
        )

    def _ground_df(self, spark):
        from functools import reduce

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        frames = []
        for st in self.p["stations"]:
            path = os.path.join(self.p["qc_dir"], f"QC_{st}_2024_flagged.csv")
            with open(path) as fh:
                cols = fh.readline().strip().split(",")
            schema = T.StructType(
                [
                    T.StructField(
                        c,
                        T.StringType() if c == "Datetime (UTC)"
                        else T.IntegerType() if c.startswith("flag_")
                        else T.DoubleType(),
                    )
                    for c in cols
                ]
            )
            frames.append(
                spark.read.option("header", True).schema(schema).csv(path)
                .withColumn("station", F.lit(st))
            )
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)

    # ---------------- checks (untimed) --------------------------------
    def _check_ingest(self, rows, out) -> str | None:
        bad = [r for r in rows if not r["ok"]]
        if bad or len(rows) != self.p["files"]:
            return f"ingest: {len(bad)} failed tasks of {len(rows)}: {bad[:1]}"
        for (st, sky), exp in self.expect_10min.items():
            got = pd.read_csv(os.path.join(out, f"processed_10min_{st}_{sky}.csv"))
            if list(pd.to_datetime(got["time"])) != list(exp.index):
                return f"ingest {st}/{sky}: 10-min grid differs"
            for c in exp.columns:
                if not np.allclose(got[c].to_numpy(float), exp[c].to_numpy(float),
                                   rtol=1e-9, atol=0, equal_nan=True):
                    return f"ingest {st}/{sky}: column {c} differs"
        return None

    def _check_netcdf(self, summary, path) -> str | None:
        kept = [s for s in self.p["stations"] if s != "Sleman"]
        if summary["n_stations"] != len(kept):
            return f"netcdf: {summary['n_stations']} stations, expected {len(kept)}"
        if summary.get("format") != "NETCDF3_CLASSIC":
            return None  # NETCDF4 via xarray: no classic read-back
        from importlib import import_module

        back = import_module(f"{PKG}.sinks.netcdf3").read_netcdf3(path)
        n_t = back["dims"]["time"]
        if n_t != SHAPE.days * 144:
            return f"netcdf: {n_t} times, expected {SHAPE.days * 144}"
        strlen = back["dims"]["name_strlen"]
        raw = back["vars"]["station"]["values"]
        names = [
            raw[i * strlen : (i + 1) * strlen].rstrip(b"\x00").decode()
            for i in range(back["dims"]["station"])
        ]
        if sorted(names) != sorted(kept):
            return f"netcdf: stations {names}"
        ghi = np.array(back["vars"]["GHI"]["values"]).reshape(n_t, len(names))
        for j, st in enumerate(names):
            exp = self.expect_10min[(st, "observed_cloud")]["GHI"].to_numpy()
            if not np.allclose(ghi[:, j], exp, rtol=1e-9, atol=0, equal_nan=True):
                return f"netcdf: GHI grid differs for {st}"
        return None

    def _check_stats(self, stats) -> str | None:
        by = {(s["station"], s["component"]): s for s in stats}
        if set(by) != set(self.expect_stats):
            return f"compare: groups {sorted(by)[:3]}…"
        for key, exp in self.expect_stats.items():
            got = by[key]
            if got["n"] != exp["n"]:
                return f"compare {key}: n {got['n']} != {exp['n']}"
            for f in ("slope", "intercept", "r2"):
                if not math.isclose(got[f], exp[f], rel_tol=1e-7, abs_tol=1e-9):
                    return f"compare {key}: {f} {got[f]} != {exp[f]}"
        return None

    # ---------------- per-layer counts (traced run) -------------------
    def layer_metrics(self, p, spans, selfs, progress) -> dict:
        return {
            "sinks.bytes_written_mb": p.extra.get("bytes_written", 0) / 2**20,
            "pipelines.ingest.tasks": p.extra.get("tasks", 0),
            "pipelines.ingest.tasks_failed": p.extra.get("tasks_failed", 0),
        }
