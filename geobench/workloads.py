"""Workloads of the geotile benchmark: their seeded inputs, the timed
iteration, the small-size oracle check and the traced layer passes.

The engine sees only generated inputs: a ``documents`` table shaped like
the sf0.1 one (5000 rows of doc_id, text, lang), written from the seed,
and DataFrames built from it through the engine's public sources.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from harness import consume, per_group_median, plan_metrics

DOCS = 5000  # rows of the sf0.1 documents table
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector join customer"
).split()
DOC_LANGS = ("en", "es", "de", "fr", "zh")
DOC_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


def write_documents(sf_dir: str, seed: int) -> None:
    """sf0.1-shaped ``documents`` parquet: 8-95 words per text drawn from
    a small vocabulary, so texts run 40-600 characters."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_words = rng.integers(8, 96, DOCS)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n : e]) for n, e in zip(n_words, ends)]
    langs = rng.choice(DOC_LANGS, DOCS, p=DOC_LANG_P)
    table = pa.table(
        {
            "doc_id": np.arange(DOCS, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, tiny: bool, work: str):
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(work, "inputs", f"seed-{seed}")

    def write_inputs(self) -> None:
        write_documents(self.sf_dir, self.seed)

    def build_inputs(self, spark) -> None:
        """Seeded inputs that need a session; runs once, before warm-up."""

    def bind(self, spark) -> None:
        """Create this session's input DataFrames."""

    def count_inputs(self, spark) -> int:
        """Input rows of one full-size job."""
        raise NotImplementedError

    def warmup(self, spark):
        """The job at warm-up size; returns its result for the oracle."""
        raise NotImplementedError

    def check(self, spark, result) -> bool:
        """Does a warm-up result match the oracle for this seed?"""
        raise NotImplementedError

    def iteration(self, spark) -> int:
        """One timed run of the job; returns its output checksum."""
        raise NotImplementedError

    def layers(self, spark, tracer, groups) -> tuple[dict, dict, bool]:
        """Layer metrics from the traced iterations' job ``groups`` and from
        traced passes over single layers: (metrics, side-file detail,
        whether the passes' own output check held)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# flagship: jobs_api.flagship, the headline pipeline
# ---------------------------------------------------------------------------


class Flagship(Workload):
    name = "flagship"
    why = (
        "jobs_api.flagship at x40 (~300k pages), 50 boundaries at res 7: the "
        "headline pipeline with mega-cell skew, where every flagship layer works"
    )
    N_BOUNDARIES = 50  # jobs_api.flagship builds them with the fixed seed 42
    RES = 7

    def __init__(self, seed: int, tiny: bool, work: str):
        super().__init__(seed, tiny, work)
        # x40 is the size jobs/flagship.py runs at
        self.multiplier = 2 if tiny else 40

    def _flagship(self, spark, multiplier: int):
        from osm_data_classification_spark.jobs_api import flagship

        return flagship(
            spark, self.sf_dir, multiplier=multiplier,
            n_boundaries=self.N_BOUNDARIES, res=self.RES,
        )

    def count_inputs(self, spark) -> int:
        from osm_data_classification_spark.sources.pages import synth_pages

        return synth_pages(spark, self.sf_dir, self.multiplier).count()

    def warmup(self, spark):
        return self._flagship(spark, 1).toPandas().sort_values("cell").reset_index(drop=True)

    def iteration(self, spark) -> int:
        from osm_data_classification_spark.io import table_checksum

        return table_checksum(self._flagship(spark, self.multiplier))

    def oracle(self, spark) -> pd.DataFrame:
        """numpy twin of the flagship at x1: brute-force ray-cast of every
        page against every boundary, then pandas tile aggregation."""
        from osm_data_classification_spark.operators.geo_ops import LANGS
        from osm_data_classification_spark.sources.boundaries import packed_boundaries
        from osm_data_classification_spark.sources.pages import geocoded_pages

        pages = (
            geocoded_pages(spark, self.sf_dir, 1, res=self.RES)
            .select("url", "warc_ts", "lang", "lon", "lat", "cell")
            .toPandas()
        )
        packed = packed_boundaries(self.N_BOUNDARIES)
        lon, lat = pages["lon"].to_numpy(), pages["lat"].to_numpy()
        rows, bids = [], []
        for b in range(packed.n_boundaries):
            hit = np.flatnonzero(packed.contains(np.full(len(lon), b), lon, lat))
            rows.append(hit)
            bids.append(np.full(len(hit), packed.boundary_id[b]))
        m = pages.iloc[np.concatenate(rows)].reset_index(drop=True)
        m["boundary_id"] = np.concatenate(bids)
        m["contributor"] = m["url"].str.extract(r"site(\d+)")[0].astype("int64")
        m["dow"] = (m["warc_ts"].dt.dayofweek + 1) % 7 + 1  # 1 = Sunday
        for lg in LANGS:
            m[f"n_{lg}"] = (m["lang"] == lg).astype("int64")
        for d in range(1, 8):
            m[f"d{d}"] = (m["dow"] == d).astype("int64")
        g = m.groupby("cell")
        out = pd.DataFrame(
            {
                "n_edits": g.size(),
                "n_contributors": g["contributor"].nunique(),
                "n_urls": g["url"].nunique(),
                **{f"n_{lg}": g[f"n_{lg}"].sum() for lg in LANGS},
                "n_boundaries": g["boundary_id"].nunique(),
            }
        )
        hist = g[[f"d{d}" for d in range(1, 8)]].sum()
        out["activity_hist"] = [list(map(int, r)) for r in hist.to_numpy()]
        return out.reset_index().sort_values("cell").reset_index(drop=True)

    def check(self, spark, result) -> bool:
        want = self.oracle(spark)
        if list(result["cell"]) != list(want["cell"]):
            return False
        for c in want.columns:
            if c == "activity_hist":
                if [list(map(int, h)) for h in result[c]] != list(want[c]):
                    return False
            elif not np.array_equal(result[c].to_numpy(np.int64), want[c].to_numpy(np.int64)):
                return False
        return True

    def layers(self, spark, tracer, groups) -> tuple[dict, dict, bool]:
        """Cumulative noop-sink prefixes of the flagship, each run once (a
        layer's self time is its prefix minus the previous one; the traced
        full iterations close the chain), the eager cover build, plan node
        counts, and the staged write/read path of jobs/flagship.py."""
        from pyspark.sql import functions as F

        from osm_data_classification_spark.io import (
            checkpoint_read,
            run_stage,
            table_checksum,
        )
        from osm_data_classification_spark.operators.geo_ops import pip_join, tile_aggregate
        from osm_data_classification_spark.plans import audit
        from osm_data_classification_spark.sources.boundaries import packed_boundaries
        from osm_data_classification_spark.sources.pages import geocoded_pages, synth_pages

        mult, res = self.multiplier, self.RES
        packed = packed_boundaries(self.N_BOUNDARIES)
        t0 = time.perf_counter()
        cover_cells, _ = packed.cell_cover(res)
        cover_s = time.perf_counter() - t0

        def pages(m=mult):
            return geocoded_pages(spark, self.sf_dir, m, res=res).withColumn(
                "contributor", F.regexp_extract("url", r"site(\d+)", 1).try_cast("long")
            )

        def tiles(matched):
            return tile_aggregate(matched, res=res, cell_col="cell", contributor_col="contributor")

        # the tiles prefix ends in the same checksum action as a timed iteration
        prefixes = [
            ("synth", lambda m: consume(synth_pages(spark, self.sf_dir, m))),
            ("geocoded", lambda m: consume(geocoded_pages(spark, self.sf_dir, m, res=res))),
            ("coarse", lambda m: consume(pip_join(pages(m), packed, res=res, refine=False))),
            ("refined", lambda m: consume(pip_join(pages(m), packed, res=res))),
            ("tiles", lambda m: (table_checksum(tiles(pip_join(pages(m), packed, res=res))), None)),
        ]
        for _, action in prefixes:  # compile each new plan shape untimed
            action(1)
        p = {}
        for label, action in prefixes:
            (n, qe), g = tracer.run(label, lambda: action(mult))
            p[label] = {"n": n, "qe": qe, "g": g}
        t = {k: v["g"].wall_s for k, v in p.items()}
        sw = {k: v["g"].total("shuffle_write_bytes") for k, v in p.items()}

        py_rows = py_ms = 0
        for node, ms in plan_metrics(p["refined"]["qe"]):
            if node == "ArrowEvalPython":
                py_rows += ms.get("pythonNumRowsReceived", 0)
                py_ms += ms.get("pythonTotalTime", 0)
        # the cascade's first stage reads the largest shuffle of the tiles prefix
        cascade = max(p["tiles"]["g"].stages, key=lambda s: s["shuffle_read_bytes"])
        nodes = audit.plan_nodes(self._flagship(spark, mult))
        python_nodes = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"}

        # staged: the three stages of jobs/flagship.py through io.run_stage
        stage_dir = os.path.join(self.work, "stages")
        shutil.rmtree(stage_dir, ignore_errors=True)
        t0 = time.perf_counter()
        pages_ck = run_stage(spark, os.path.join(stage_dir, "pages"), pages, cell_col="cell", force=True)
        matched_ck = run_stage(
            spark, os.path.join(stage_dir, "matched"),
            lambda: pip_join(pages_ck, packed, res=res), cell_col="cell", force=True,
        )
        run_stage(
            spark, os.path.join(stage_dir, "tiles"), lambda: tiles(matched_ck),
            cell_col="cell", force=True,
        )
        write_s = time.perf_counter() - t0
        bytes_written = _dir_bytes(stage_dir)
        t0 = time.perf_counter()
        staged_tiles = checkpoint_read(spark, os.path.join(stage_dir, "tiles"))
        staged_checksum = table_checksum(staged_tiles)
        read_s = time.perf_counter() - t0
        n_tiles = staged_tiles.count()
        shutil.rmtree(stage_dir, ignore_errors=True)

        metrics = {
            "sources.pages.synth_s": t["synth"],
            "sources.pages.rows": p["synth"]["n"],
            "geo.cells.geocode_encode_s": t["geocoded"] - t["synth"],
            "geo.pip.cover_s": cover_s,
            "geo.pip.cover_pairs": len(cover_cells),
            "geo_ops.pip_join.coarse_s": t["coarse"] - t["geocoded"],
            "geo_ops.pip_join.candidate_rows": p["coarse"]["n"],
            "geo_ops.pip_join.refine_s": t["refined"] - t["coarse"],
            "geo_ops.pip_join.python_rows": py_rows,
            "geo_ops.pip_join.python_total_s": py_ms / 1000.0,
            "geo_ops.pip_join.match_ratio": p["refined"]["n"] / max(1, p["coarse"]["n"]),
            "geo_ops.tile_aggregate.s": t["tiles"] - t["refined"],
            "geo_ops.tile_aggregate.shuffle_write_bytes": sw["tiles"] - sw["refined"],
            "geo_ops.tile_aggregate.tiles": n_tiles,
            "geo_ops.tile_aggregate.task_skew": tracer.task_skew(cascade),
            "jobs_api.flagship.bhits_s": per_group_median(groups, lambda g: g.wall_s) - t["tiles"],
            "jobs_api.flagship.scans": sum(1 for n in nodes if n == "Scan"),
            "jobs_api.flagship.python_stages": sum(1 for n in nodes if n in python_nodes),
            "jobs_api.flagship.exchanges": sum(1 for n in nodes if n == "Exchange"),
            "io.checkpoint_write_s": write_s,
            "io.bytes_written": bytes_written,
            "io.checkpoint_read_s": read_s,
        }
        detail = {
            "prefix_s": t,
            "prefix_executor_cpu_s": {k: v["g"].total("cpu_s") for k, v in p.items()},
            "prefix_rows": {k: v["n"] for k, v in p.items() if k != "tiles"},
            "prefix_shuffle_write_bytes": sw,
            "tiles_checksum": p["tiles"]["n"],
            "staged_tiles_checksum": staged_checksum,
            "plan_nodes": nodes,
        }
        # the staged tiles must read back identical to the in-memory ones
        return metrics, detail, staged_checksum == p["tiles"]["n"]


# ---------------------------------------------------------------------------
# knn: geo_ops.knn_join, driver-bound
# ---------------------------------------------------------------------------


class Knn(Workload):
    name = "knn"
    why = (
        "knn_join k=5 at knn_auto_res over 5000 seeded points from deduplicated "
        "pages: many small driver jobs, no PIP and no tiles"
    )
    K = 5
    POOL_MULTIPLIER = 2  # 10000 distinct urls to draw from
    WARM_POINTS = 800

    def __init__(self, seed: int, tiny: bool, work: str):
        super().__init__(seed, tiny, work)
        self.n_points = 600 if tiny else 5000

    def build_inputs(self, spark) -> None:
        from osm_data_classification_spark.sources.pages import geocoded_pages

        pool = (
            geocoded_pages(spark, self.sf_dir, self.POOL_MULTIPLIER)
            .select("url", "lon", "lat")
            .dropDuplicates(["url"])
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True)
        )
        rng = np.random.default_rng([self.seed, 1])
        self.points = self._sample(pool, rng, self.n_points)
        self.warm_points = self._sample(pool, rng, self.WARM_POINTS)

    @staticmethod
    def _sample(pool: pd.DataFrame, rng, n: int) -> pd.DataFrame:
        s = pool.iloc[np.sort(rng.choice(len(pool), n, replace=False))]
        return pd.DataFrame(
            {"qid": np.arange(n, dtype=np.int64), "lon": s["lon"].to_numpy(), "lat": s["lat"].to_numpy()}
        )

    def count_inputs(self, spark) -> int:
        return self.n_points

    def bind(self, spark) -> None:
        self.pts = spark.createDataFrame(self.points)
        self.warm_pts = spark.createDataFrame(self.warm_points)

    def _knn(self, spark, pts, n: int):
        from osm_data_classification_spark.operators.geo_ops import knn_auto_res, knn_join

        return knn_join(
            pts, pts.withColumnRenamed("qid", "cid"), k=self.K,
            res=knn_auto_res(n, self.K), n_candidates=n, n_probes=n,
        )

    def warmup(self, spark):
        out = self._knn(spark, self.warm_pts, self.WARM_POINTS).toPandas()
        spark.catalog.clearCache()  # knn_join leaves its stage tables persisted
        return out.sort_values(["qid", "rank"]).reset_index(drop=True)

    def iteration(self, spark) -> int:
        from osm_data_classification_spark.io import table_checksum

        c = table_checksum(self._knn(spark, self.pts, self.n_points))
        spark.catalog.clearCache()
        return c

    def layers(self, spark, tracer, groups) -> tuple[dict, dict, bool]:
        """Driver-side cost of the traced knn_join iterations: jobs, wall
        time no job covered, executor time and shuffle bytes."""
        return {
            "geo_ops.knn_join.spark_jobs": per_group_median(groups, lambda g: g.jobs),
            "geo_ops.knn_join.driver_gap_s": per_group_median(groups, lambda g: g.wall_s - g.busy_s),
            "geo_ops.knn_join.executor_run_s": per_group_median(groups, lambda g: g.total("run_s")),
            "geo_ops.knn_join.shuffle_write_bytes": per_group_median(
                groups, lambda g: g.total("shuffle_write_bytes")
            ),
        }, {}, True

    def check(self, spark, result) -> bool:
        from osm_data_classification_spark.geo.knn import knn_bruteforce

        p = self.warm_points
        lon, lat, q = p["lon"].to_numpy(), p["lat"].to_numpy(), p["qid"].to_numpy()
        want = (
            pd.DataFrame(knn_bruteforce(lon, lat, q, lon, lat, q, k=self.K))
            .sort_values(["qid", "rank"])
            .reset_index(drop=True)
        )
        return (
            len(result) == len(want)
            and all(np.array_equal(result[c].to_numpy(), want[c].to_numpy()) for c in ("qid", "cid", "rank"))
            and np.allclose(result["dist_sq"].to_numpy(), want["dist_sq"].to_numpy())
        )


WORKLOADS = {w.name: w for w in (Knn, Flagship)}
