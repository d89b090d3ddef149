"""The benchmark workloads.

Each workload generates its inputs from the seed and computes the expected
outputs in ``setup`` (untimed), exposes one fixed cycle of operations, runs
one operation in ``run`` (the timed region: build the DataFrame from its
builder, then run the action), and checks that operation's output in
``check`` (untimed). Every engine function is looked up through its module
at call time, so the traced window sees the tracer's wrappers.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import check, inputs

REGISTRY_TABLES = ["events", "documents", "embeddings"]


def _entry():
    import __spark_entry__

    return __spark_entry__


class Workload:
    name = ""
    # the fewest operations one measured window runs (it ends on a whole
    # cycle, so a query mix always runs complete passes)
    min_ops = 1
    # image formats the workload decodes, warmed in each Python worker
    image_formats: tuple[str, ...] = ()

    def __init__(self, cores: int, self_test: bool = False):
        self.cores = cores
        self.self_test = self_test
        self.synth_s = 0.0  # seeded input generation, within set-up
        self.sizes: dict[str, int] = {}

    def cycle(self) -> list[str]:
        raise NotImplementedError

    def items(self, op: str) -> int:
        return 1

    def setup(self, spark, seed: int, work: str) -> None:
        raise NotImplementedError

    def run(self, spark, op: str):
        raise NotImplementedError

    def check(self, op: str, result, expected=None) -> bool:
        raise NotImplementedError

    def corrupted(self, op: str):
        """An expectation no correct output meets (proves the check fires)."""
        raise NotImplementedError

    def bytes_per_item(self, result) -> float:
        """Bytes one operation commits per item (0 where it writes nothing)."""
        return 0.0

    def cleanup(self, op: str, result) -> None:
        pass


# ------------------------------------------------------ registry queries
class RegistryQueries(Workload):
    """A fixed mix of registry queries over a seed-sampled sf0.1-shaped copy,
    each checked against the digest of its DuckDB ``oracle_sql()``. One
    operation is one query, built from its registry function and collected.

    The mix holds the two query families the roadmap targets: a codec
    query, whose time is Python-worker time (Ogg/FLAC decode), and
    driver-bound queries that leave cores idle or run their jobs while the
    query function builds its DataFrame (iterative DBSCAN and Bellman-Ford,
    and an availableNow streaming run). Latencies are printed per query."""

    name = "registry_queries"
    mix = ("audio_ogg_flac_features", "dbscan_events", "shortest_path_cells",
           "stream_sessionize_users")
    user_frac = 0.01
    doc_frac = 0.03

    def cycle(self) -> list[str]:
        return list(self.mix)

    def setup(self, spark, seed: int, work: str) -> None:
        import time

        self.sf_dir = os.path.join(work, "sf")
        t0 = time.perf_counter()
        self.sizes = inputs.write_tables(seed, self.sf_dir, self.user_frac, self.doc_frac)
        self.synth_s = time.perf_counter() - t0
        sqls = _entry().oracle_sql()
        self.expected = check.oracle_digests(
            self.sf_dir, REGISTRY_TABLES, {q: sqls[q] for q in self.mix}, self.cores)
        if self.self_test:
            self.expected[self.mix[0]] = self.corrupted(self.mix[0])

    def run(self, spark, op: str):
        df = _entry().queries()[op](spark, self.sf_dir)
        return df.columns, df.collect()

    def check(self, op: str, result, expected=None) -> bool:
        cols, rows = result
        return check.spark_digest(rows, cols) == (expected or self.expected[op])

    def corrupted(self, op: str):
        return check.corrupt(self.expected.get(op, ""))


# ------------------------------------------------------- image pipeline
class TilePipImages(Workload):
    """validate_images -> rect_pip_join label -> tile_assign 8/10/12 ->
    rollup, committed through Manifest.run_stage, over a seeded image table."""

    name = "tile_pip_images"
    n_images = 48
    # a fixed operation count, so the slower first pass (its plan's first
    # run in this JVM) weighs the same in every run
    min_ops = 6
    image_formats = ("png", "bmp", "jpeg")
    resolutions = (8, 10, 12)

    def cycle(self) -> list[str]:
        return ["tile_pass"]

    def items(self, op: str) -> int:
        return self.n_images

    def setup(self, spark, seed: int, work: str) -> None:
        import time

        from activity_files_spark.data import images

        self.path = os.path.join(work, "images.parquet")
        off = inputs.image_offset(seed)
        dims = inputs.IMAGE_DIMS

        def gen(batches):
            for pdf in batches:
                yield pd.DataFrame([images.make_image_row(int(i), dims=dims) for i in pdf["id"]])

        self.sizes = {"images": self.n_images, "first_image": off}
        t0 = time.perf_counter()
        (spark.range(off, off + self.n_images, numPartitions=self.cores * 2)
         .mapInPandas(gen, images.IMAGE_SCHEMA).write.parquet(self.path))
        self.synth_s = time.perf_counter() - t0
        self.manifest_dir = os.path.join(work, "manifest")
        self.n_stage = 0
        # every image is valid, and left_outer labelling keeps unlabelled
        # images once: the rollup sums to ladder size x label multiplicity
        rects = _entry().GEOFENCES
        mult = 0
        for i in range(off, off + self.n_images):
            _, _, _, lat, lon = images.image_meta(i)
            hits = sum(1 for _, w, e, s, n in rects if w <= lon <= e and s <= lat <= n)
            mult += max(1, hits)
        self.expected = len(self.resolutions) * mult
        if self.self_test:
            self.expected = self.corrupted("tile_pass")

    def _pipeline(self, spark):
        from activity_files_spark.operators import spatial, tiling

        imgs = spark.read.parquet(self.path)
        v = tiling.validate_images(imgs, passthrough=("lat", "lon"))
        labeled = spatial.rect_pip_join(v, _entry().GEOFENCES, how="left_outer",
                                        expr_max_rects=16)
        tiles = tiling.tile_assign(labeled, resolutions=list(self.resolutions),
                                   with_quadkey=False, extra_cols=("geofence_id", "ok"))
        return tiles.groupBy("geofence_id", "zoom", "cell_id").agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
        )

    def run(self, spark, op: str):
        from activity_files_spark.plans.manifest import Manifest

        self.n_stage += 1
        stage = f"tiles_{self.n_stage}"
        m = Manifest(spark, self.manifest_dir)
        m.run_stage(stage, lambda: self._pipeline(spark), inputs=[self.path],
                    config={"resolutions": list(self.resolutions)})
        return m, stage

    def check(self, op: str, result, expected=None) -> bool:
        m, stage = result
        info = m.stage_info(stage)
        t = pq.read_table(info["output"], columns=["n_images", "n_ok"])
        n_images = int(t.column("n_images").to_numpy().sum())
        n_ok = int(t.column("n_ok").to_numpy().sum())
        want = expected if expected is not None else self.expected
        return info["metrics"]["rows"] == t.num_rows and n_images == want and n_ok == want

    def corrupted(self, op: str):
        return -1

    def bytes_per_item(self, result) -> float:
        m, stage = result
        return m.stage_info(stage)["metrics"]["bytes"] / self.n_images

    def cleanup(self, op: str, result) -> None:
        m, stage = result
        shutil.rmtree(os.path.join(self.manifest_dir, f"{stage}.parquet"), ignore_errors=True)


WORKLOADS = {w.name: w for w in (TilePipImages, RegistryQueries)}
