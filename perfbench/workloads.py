"""The benchmark's workloads.

Each makes its inputs from the seed (``prepare``, untimed), runs one pass
of user-facing calls on a live session (``run_pass``) and checks what the
passes returned (``check``). A pass returns a list of operations as
``(key, result)`` pairs; ``result`` is the exception if the call raised.
``warm_passes`` is the number of warm passes ``pass_s`` is taken over.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from layers import CATALOG_ROWS

HERE = os.path.dirname(os.path.abspath(__file__))

# one entry per Calculator call, in chain order: (method, keyword arguments)
EXPOSURE_CHAIN = [
    ("calculate_coordinate", {}),
    ("calculate_airport_distance", {"years": [2000, 2005]}),
    ("calculate_coastline_distance", {"years": [2000]}),
    ("calculate_landuse_area_ratio", {"years": [2000], "buffer_sizes": [100.0, 500.0, 1000.0]}),
    ("calculate_relative_elevation", {"elev_types": ["dem"], "buffer_sizes": [500.0, 1000.0]}),
    ("calculate_road_distance", {"years": [2005, 2010]}),
    ("calculate_road_llw", {"buffer_sizes": [500.0, 2000.0], "years": [2005]}),
    ("calculate_main_road_llw", {"mr_types": "mr1", "buffer_sizes": [2000.0], "years": [2005]}),
]
# coordinates and elevation carry no year
EXPOSURE_YEARS = {None} | {y for _, kw in EXPOSURE_CHAIN for y in kw.get("years", [])}


class Exposure:
    """Pandas points through the full exposure-variable chain of
    ``examples/geo_pipeline.py``: driver-side centroid clustering, the Python
    geometry kernels and result assembly do the work."""

    name = "exposure"
    n_points = 400
    half_side = 4000.0  # metres; points fill an 8 km square study area
    warm_passes = 3
    required_columns = {
        "id", "year", "pid", "longitude", "latitude", "TM_X", "TM_Y", "WGS_X", "WGS_Y",
        "D_Airport", "D_Road", "Road_L_0500", "Road_LL_0500", "Road_LLW_0500", "Altitude_k",
        "D_Coast", "Road_L_2000", "MR1_L_2000", "MR1_LL_2000", "MR1_LLW_2000",
        *(f"LS{c}_{b:04d}_{k}" for c in (110, 210, 310) for b in (100, 500, 1000) for k in "ap"),
    }

    def __init__(self, work_dir: str, seed: int, n_points: int | None = None):
        self.work_dir = work_dir
        self.seed = seed
        self.n_points = n_points or self.n_points

    def prepare(self) -> None:
        from duckpipe_spark.geo.crs import tm_to_lonlat
        from tests.geo_fixtures import X0, X1, Y0, Y1, make_fixtures

        self.data_dir = os.path.join(self.work_dir, "geo")
        os.makedirs(self.data_dir)
        self.info = make_fixtures(self.data_dir)
        rng = np.random.default_rng(self.seed)
        cx, cy, h = (X0 + X1) / 2, (Y0 + Y1) / 2, self.half_side
        self.px = rng.uniform(cx - h, cx + h, self.n_points)
        self.py = rng.uniform(cy - h, cy + h, self.n_points)
        lon, lat = tm_to_lonlat(self.px, self.py)
        self.points = pd.DataFrame(
            {"pid": np.arange(self.n_points), "longitude": lon, "latitude": lat}
        )

    def run_pass(self, spark, tr) -> list:
        from duckpipe_spark.calculator import Calculator

        try:
            calc = Calculator(data_dir=self.data_dir, spark=spark, verbose=False)
            with tr.step("calculator.add_point_with_table_s"), tr.transform_on_driver():
                calc.add_point_with_table(self.points, x_col="longitude", y_col="latitude", epsg=4326)
            with tr.step("calculator.chunk_s"):
                calc.chunk_by_centroid(max_cluster_size=100, distance_threshold=10000)
            tr.note("calculator.partitions", calc.get_chunks())
            for method, kwargs in EXPOSURE_CHAIN:
                with tr.step("calculator.calculate_s", group=method):
                    getattr(calc, method)(**kwargs)
            with tr.step("calculator.get_result_s"):
                out = calc.get_result(pivot=True)
        except Exception as e:  # noqa: BLE001 - a failed pass is a failed operation
            out = e
        return [(self.name, out)]

    def check(self, spark, ops) -> int:
        return sum(1 for _, out in ops if isinstance(out, Exception) or self.problems(out))

    def problems(self, wide) -> list[str]:
        """Shape, column set, coordinates and ``D_Airport`` against
        brute-force numpy over the fixture airports."""
        found = []
        if len(wide) != self.n_points * len(EXPOSURE_YEARS):
            found.append(f"rows {len(wide)} != {self.n_points} x {len(EXPOSURE_YEARS)} years")
        missing = self.required_columns - set(wide.columns)
        if missing:
            return found + [f"missing columns {sorted(missing)}"]
        no_year = wide[wide["year"].isna()].sort_values("pid")
        if not (
            np.allclose(no_year["TM_X"], self.px, rtol=0, atol=1e-6)
            and np.allclose(no_year["TM_Y"], self.py, rtol=0, atol=1e-6)
            and np.allclose(no_year["WGS_X"], self.points["longitude"], rtol=1e-12)
            and np.allclose(no_year["WGS_Y"], self.points["latitude"], rtol=1e-12)
        ):
            found.append("coordinates differ from the input points")
        for year in (2000, 2005):
            ax, ay = self.info["airport"][year]
            want = np.sqrt((ax[None, :] - self.px[:, None]) ** 2 + (ay[None, :] - self.py[:, None]) ** 2).min(axis=1)
            got = wide[wide["year"] == year].sort_values("pid")["D_Airport"].to_numpy()
            if len(got) != self.n_points or not np.allclose(got, want, rtol=1e-12):
                found.append(f"D_Airport {year} differs from brute force")
        return found


class Catalog:
    """Registered catalog queries over the sf 0.01 TPC-H-ish test corpus in
    ``corpus/``, collected the way ``bench.py`` collects them. The seed
    permutes the rows of every table and the order of the queries."""

    name = "catalog"
    warm_passes = 6
    rows = CATALOG_ROWS

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        source = os.path.join(HERE, "corpus")
        self.sf_dir = os.path.join(self.work_dir, "corpus")
        os.makedirs(self.sf_dir)
        for name in sorted(os.listdir(source)):
            table = pq.read_table(os.path.join(source, name))
            pq.write_table(table.take(rng.permutation(table.num_rows)), os.path.join(self.sf_dir, name))
        self.order = list(rng.permutation(self.rows))

    def run_pass(self, spark, tr) -> list:
        from duckpipe_spark.queries import REGISTRY

        ops = []
        self.built = []
        for row in self.order:
            try:
                with tr.step(f"queries.{row}.s", group=row):
                    with tr.timed("queries.build_s"), tr.py4j():
                        df = REGISTRY[row].fn(spark, self.sf_dir)
                    with tr.timed("queries.collect_s"):
                        got = df.collect()
                self.built.append(df)
                ops.append((row, got))
            except Exception as e:  # noqa: BLE001 - a failed row is a failed operation
                ops.append((row, e))
        return ops

    def check(self, spark, ops) -> int:
        """The rows every timed pass collected are hash-compared with the
        row's DuckDB oracle, canonicalized like ``tests/oracle_harness.py``
        (column names, row count and every value)."""
        from duckpipe_spark.queries import REGISTRY
        from tests.oracle_harness import canonicalize, run_oracle

        def canonical(frame):
            return sorted(frame.columns), canonicalize(frame)

        want = {row: canonical(run_oracle(REGISTRY[row].oracle, self.sf_dir)) for row in self.rows}
        failed = 0
        for row, got in ops:
            if not isinstance(got, Exception):
                fields = got[0].__fields__ if got else []
                got = canonical(pd.DataFrame.from_records(got, columns=fields))
            failed += got != want[row]
        return failed


WORKLOADS = {w.name: w for w in (Exposure, Catalog)}
