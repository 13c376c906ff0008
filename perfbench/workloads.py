"""The three workloads: inputs, the pipeline each iteration runs, its output
check, and the isolation jobs of the traced run.

Every pipeline goes through the engine's public API only
(``functions.geo``, ``functions.cells_sql``, ``operators.cover``) and ends in
a small collected result that is compared with the numpy oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from co_new_spark.functions import cells_sql, geo
from co_new_spark.grid import cells, grids, proj
from co_new_spark.operators.cover import cover_lookup_best

import inputs
import oracle
from tracing import NullTracer, ns_per_row

N_FILES = 8  # parquet files per stored table


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared input handling; subclasses define the pipeline."""

    name = ""
    cover_kind = None        # "real", "deep" or None

    def __init__(self, seed: int, n_pages: int, workdir: str):
        self.seed = seed
        pages, lat_s, lon_s = inputs.make_pages(seed, n_pages)
        self.point_cells = inputs.expected_cells(lat_s, lon_s)
        valid = self.point_cells >= 0
        self.pages_path = inputs.write_parquet(
            pages, os.path.join(workdir, "pages"), N_FILES)
        self.cells_path = inputs.write_parquet(
            pd.DataFrame({"url": pages["url"][valid].to_numpy(),
                          "cell": self.point_cells[valid]}),
            os.path.join(workdir, "cells"), N_FILES)
        has = pd.notna(lat_s) & valid
        self.lat = pd.to_numeric(lat_s[has]).astype(np.float64)
        self.lon = pd.to_numeric(lon_s[has]).astype(np.float64)
        self.n_pages = n_pages
        self.n_cells = int(valid.sum())
        self.cover_pdf = None
        if self.cover_kind == "real":
            self.cover_pdf = inputs.real_cover(seed, self.point_cells)
        elif self.cover_kind == "deep":
            self.cover_pdf = inputs.deep_cover(seed, self.point_cells)
        self.cover_df = None

    # -- set-up -------------------------------------------------------------
    def build_cover(self, spark) -> None:
        if self.cover_pdf is not None:
            self.cover_df = spark.createDataFrame(self.cover_pdf)

    def sizes(self) -> dict:
        out = {"pages": self.n_pages, "cells": self.n_cells,
               "input_rows": self.input_rows}
        if self.cover_pdf is not None:
            out.update(cover_source="synthetic", cover_kind=self.cover_kind,
                       cover_rows=len(self.cover_pdf),
                       cover_labels=int(self.cover_pdf["isolabel_ext"].nunique()),
                       cover_depths=self.cover_depths)
        return out

    @property
    def cover_depths(self) -> int:
        return 0 if self.cover_pdf is None else int(self.cover_pdf["depth"].nunique())

    # -- isolation jobs (traced run only) ----------------------------------
    def scan_job(self, spark) -> None:
        _noop(spark.read.parquet(self.scan_path).select(*self.scan_cols))

    geocode_job = None  # geocode-only isolation job, where the workload geocodes

    def cover_job(self, spark, tr) -> None:
        """Cover lookup on the pre-encoded cells alone (a one-column scan),
        then the per-label count."""
        pts = spark.read.parquet(self.cells_path).select("cell")
        with tr.span("operators.cover_lookup_best"):
            hit = cover_lookup_best(pts, self.cover_df, keep=["cell"], dedup=False)
        hit.groupBy("isolabel_ext").agg(F.count("*").alias("n")).collect()

    def kernel_timers(self) -> dict[str, float]:
        """Single-thread ns/row of the grid kernels on this input's points."""
        x, y = proj.forward(self.lat, self.lon)
        bits, _ = grids.grid_b_encode_xy(x, y, inputs.RBITS)
        nb = np.full(bits.shape, inputs.LEAF_DEPTH, dtype=np.int64)
        leaf = self.point_cells[self.point_cells >= 0]
        n, m = len(self.lat), len(leaf)
        return {
            "grid.proj_forward_ns": ns_per_row(lambda: proj.forward(self.lat, self.lon), n),
            "grid.grid_b_encode_ns": ns_per_row(
                lambda: grids.grid_b_encode_xy(x, y, inputs.RBITS), n),
            "grid.pack_ns": ns_per_row(lambda: cells.pack(bits, nb), n),
            "grid.cell_to_code_ns": ns_per_row(lambda: cells.cell_b_to_code(leaf), m),
            "grid.cell_box_ns": ns_per_row(lambda: cells.cell_b_box(leaf), m),
            "grid.parent_ns": ns_per_row(lambda: cells.parent(leaf, 8), m),
        }


class _CoverCount(Workload):
    """Stored rows -> cells -> ``cover_lookup_best`` -> per-label count."""

    def __init__(self, *a):
        super().__init__(*a)
        self.expected = oracle.CoverIndex(self.cover_pdf).counts(self.point_cells)
        self.expected_matched = sum(self.expected.values())

    def points(self, spark, tr):
        raise NotImplementedError

    def iteration(self, spark, tr):
        pts = self.points(spark, tr)
        with tr.span("operators.cover_lookup_best"):
            hit = cover_lookup_best(pts, self.cover_df, keep=["url", "cell"], dedup=False)
        agg = hit.groupBy("isolabel_ext").agg(F.count("*").alias("n"))
        with tr.span("plans.collect"):
            rows = agg.collect()
        return agg, {r["isolabel_ext"]: r["n"] for r in rows}

    def check(self, result) -> bool:
        return result == self.expected

    def match_ratio(self) -> float:
        return self.expected_matched / max(self.n_cells, 1)


class Flagship(_CoverCount):
    """Stored pages -> fused geocode UDF -> filter -> cover join -> count."""

    name = "flagship"
    cover_kind = "real"
    scan_cols = ("text",)

    @property
    def input_rows(self) -> int:
        return self.n_pages

    @property
    def scan_path(self) -> str:
        return self.pages_path

    def _geocoded(self, spark, tr):
        with tr.span("sources.read_parquet"):
            src = spark.read.parquet(self.pages_path)
        with tr.span("functions.encode_b_cell_from_text"):
            return src.select(
                "url", geo.encode_b_cell_from_text(F.col("text"), inputs.RBITS).alias("cell")
            ).filter(F.col("cell") >= 0)

    points = _geocoded

    def geocode_job(self, spark) -> None:
        _noop(self._geocoded(spark, NullTracer()))


class CoverDeep(_CoverCount):
    """Pre-encoded (url, cell) rows -> cover join at >= 14 depths -> count."""

    name = "cover_deep"
    cover_kind = "deep"
    scan_cols = ("cell",)

    @property
    def input_rows(self) -> int:
        return self.n_cells

    @property
    def scan_path(self) -> str:
        return self.cells_path

    def points(self, spark, tr):
        with tr.span("sources.read_parquet"):
            return spark.read.parquet(self.cells_path)


class Pyramid(Workload):
    """Pre-encoded cells -> per-leaf counts -> five rollup levels -> decode
    of every output cell to its base16h code and EPSG:9377 box."""

    name = "pyramid"
    scan_cols = ("cell",)

    def __init__(self, *a):
        super().__init__(*a)
        self.expected = oracle.pyramid_digest(self.point_cells)

    @property
    def input_rows(self) -> int:
        return self.n_cells

    @property
    def scan_path(self) -> str:
        return self.cells_path

    def iteration(self, spark, tr):
        with tr.span("sources.read_parquet"):
            pts = spark.read.parquet(self.cells_path).select("cell")
        leaf = pts.groupBy("cell").agg(F.count("*").alias("n"))
        levels = [leaf.withColumn("level", F.lit(0))]
        with tr.span("functions.cell_ancestor_at"):
            for k, d in enumerate(oracle.PYRAMID_LEVELS, start=1):
                up = cells_sql.cell_ancestor_at(F.col("cell"), d).alias("cell")
                levels.append(leaf.groupBy(up).agg(F.sum("n").alias("n"))
                              .withColumn("level", F.lit(k)))
        out = levels[0]
        for lv in levels[1:]:
            out = out.unionByName(lv)
        with tr.span("functions.cell_b_code_box"):
            dec = out.select("level", "cell", "n",
                             geo.cell_b_code(F.col("cell")).alias("code"),
                             geo.cell_b_box(F.col("cell")).alias("box"))
        digest = dec.groupBy("level").agg(
            F.count("*"), F.sum("n"), F.sum("cell"),
            F.sum(F.crc32(F.col("code").cast("binary"))),
            F.sum("box.xmin"), F.sum("box.ymin"), F.sum("box.xmax"), F.sum("box.ymax"))
        with tr.span("plans.collect"):
            rows = digest.collect()
        return digest, {r[0]: (int(r[1]), int(r[2]), int(r[3]), int(r[4]),
                               float(r[5]), float(r[6]), float(r[7]), float(r[8]))
                        for r in rows}

    def check(self, result) -> bool:
        return result == self.expected

    def match_ratio(self) -> float:
        return 0.0


WORKLOADS = {w.name: w for w in (Flagship, CoverDeep, Pyramid)}
