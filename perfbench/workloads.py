"""The benchmark workloads. Each drives the engine only through its public
functions (``o2g_spark.*`` and ``jobs/run_pipeline.main``). BENCHMARK.json
lists ``spatial_job`` and ``text_neardup``; ``geo_join`` and
``spatial_job_ring`` are run by hand (see README.md, Run budget).

A workload object has:

- ``make_inputs(spark)``: generate and materialise the inputs from the
  seed (once in set-up, and again after the traced run restarts the
  Spark context);
- ``job(spark)``: one closed-loop job, returning its output summary;
- ``check(spark, out)``: problems with that output ([] when correct);
- ``traced_job(spark, tracer)``: the same job with one span per layer,
  each layer's input materialised before its span opens;
- ``layers(spans, root, folded, group)``: per-layer metrics of one
  traced job from its spans and the folded event log (``group`` maps a
  span id to its Spark job group).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from o2g_spark.functions import cellfns, geotag
from o2g_spark.operators import dedup, knn, pip, tiles
from o2g_spark.plans import checkpoint
from o2g_spark.sources import synth, synth_dist, tables

import checks
import eventlog
import spans as S

SAMPLE_MOD = 64  # hash sample for the output checks: 1 point in 64
SPAN_FIELDS = tuple(f for f in eventlog.FIELDS if f != "jobs")
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sample(col: str, seed: int):
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(SAMPLE_MOD)) == 0


def _span_totals(spans, sid, folded, tracer_group) -> dict:
    """Event-log totals of a span and its descendants."""
    groups = [tracer_group(i) for i in S.subtree(spans, sid)]
    return eventlog.combine([folded[g] for g in groups if g in folded])


def _layer(out: dict, prefix: str, spans, sid, folded, group, cores) -> dict:
    """Standard per-span metrics: self time plus Spark task totals."""
    t = _span_totals(spans, sid, folded, group)
    wall = S.wall(spans[sid])
    out[f"{prefix}.busy_s"] = S.self_times(spans)[sid]
    for k in SPAN_FIELDS:
        out[f"{prefix}.{k}"] = float(t[k])
    out[f"{prefix}.core_util"] = eventlog.core_util(t, wall, cores)
    return t


def _materialise(df):
    """Cache ``df`` in full. (Inputs held as a localCheckpoint made jobs
    run either at about 2.8 s or at about 3.9 s from run to run.)"""
    df = df.persist()
    df.count()
    return df


def _pip_counts(spark, rings, res, tagged, n_tagged: int, n_zoned: int) -> dict:
    """pip_join's cover and probe counts for ``tagged`` points (lat,
    lon), rebuilt with pip's public helpers outside the job's spans."""
    t0 = time.perf_counter()
    covers, res_list = pip.zone_covers(spark, rings, res)
    cover_build_s = time.perf_counter() - t0
    kinds = dict(covers.groupBy("kind").count().collect())
    # pip_join's own probe: project the per-resolution cell array, then
    # explode it (exploding the expression directly overflows
    # whole-stage codegen)
    probe = tagged.withColumn("__cells", F.array(
        *[cellfns.cell_encode("lat", "lon", r) for r in res_list])
    ).select(F.explode("__cells").alias("cell_id"))
    hits = dict(probe.join(F.broadcast(covers), "cell_id").groupBy("kind").count().collect())
    return {
        "pip.cover_build_s": cover_build_s,
        "pip.cover_cells": float(sum(kinds.values())),
        "pip.boundary_cell_frac": kinds.get("boundary", 0) / max(1, sum(kinds.values())),
        "pip.res_levels": float(len(res_list)),
        "pip.probe_rows": float(n_tagged * len(res_list)),
        "pip.boundary_candidates": float(hits.get("boundary", 0)),
        "pip.refine_accept_ratio": (n_zoned - hits.get("interior", 0))
        / max(1, hits.get("boundary", 0)),
    }


class Workload:
    name = ""
    size = 0  # input rows per job
    warmup = 0  # jobs run in set-up before the timed window
    heap = "1g"  # JVM heap, committed and touched at start (see host.py)
    gen_metric = "synth_dist.gen_s"  # per-layer name of the input generation time

    def __init__(self, seed: int, run_dir, cores: int):
        self.seed = seed
        self.run_dir = run_dir
        self.cores = cores
        self.ref: dict = {}  # reference outputs from the first checked job


# ----------------------------------------------------------- geo_join


class GeoJoin(Workload):
    """geotag → cell encode (res 9) → PIP join (48 zones, cover res 14)
    → tiles (zoom 11) → (zone_id, tile_x, tile_y) count rollup. Not in
    BENCHMARK.json: run by hand, like ``spatial_job_ring``."""

    name = "geo_join"
    size = 500_000
    warmup = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rings = synth.zone_rings(synth.gen_zones())

    def make_inputs(self, spark):
        # one partition per core, so each job is one wave of tasks (with
        # the default two per core jobs warmed up slower and then ran
        # about 12% slower)
        self.pages = _materialise(synth_dist.gen_pages_dist(
            spark, self.size, seed=self.seed, partitions=self.cores))

    def _rollup(self, tiled):
        """The (zone_id, tile_x, tile_y) count rollup. Each group also
        lists its hash-sampled urls, so the output check reads pip_join's
        rows for those points from this same execution."""
        sampled = F.when(_sample("url", self.seed), F.col("url"))
        return tiled.groupBy("zone_id", "tile_x", "tile_y").agg(
            F.count("*").alias("n"), F.collect_list(sampled).alias("sampled")
        ).collect()

    def job(self, spark):
        tagged = geotag.extract_coords(self.pages).select("url", "lat", "lon")
        celled = tagged.withColumn("cell", cellfns.cell_encode("lat", "lon", 9))
        zoned = pip.pip_join(celled, self.rings, res=14)
        return self._rollup(tiles.assign_tiles(zoned, 11))

    def check(self, spark, rollup):
        if "pip_expected" not in self.ref:
            pts = (geotag.extract_coords(self.pages).filter(_sample("url", self.seed))
                   .select("url", "lon", "lat").collect())
            self.ref["pip_expected"] = checks.pip_expected(pts, self.rings)
        got = [(u, r["zone_id"]) for r in rollup for u in r["sampled"]]
        problems = checks.check_pip(self.ref["pip_expected"], got)
        d = checks.digest((r["zone_id"], r["tile_x"], r["tile_y"], r["n"]) for r in rollup)
        problems += checks.check_repeat("rollup digest", self.ref.setdefault("rollup", d), d)
        return problems

    def traced_job(self, spark, tracer):
        ck = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
        with tracer.span("geo_join") as root:
            with tracer.span("geotag"):
                tagged = ck(geotag.extract_coords(self.pages).select("url", "lat", "lon"))
            with tracer.span("cellfns"):
                celled = ck(tagged.withColumn("cell", cellfns.cell_encode("lat", "lon", 9)))
            with tracer.span("pip"):
                zoned = ck(pip.pip_join(celled, self.rings, res=14))
            with tracer.span("tiles"):
                tiled = ck(tiles.assign_tiles(zoned, 11))
            with tracer.span("rollup"):
                rollup = self._rollup(tiled)
        n_tagged, n_zoned = tagged.count(), zoned.count()
        raw = {
            "geotag.rows_in": float(self.size),
            "geotag.rows_out": float(n_tagged),
            "geotag.yield": n_tagged / self.size,
            "pip.rows_out": float(n_zoned),
            "tiles.rollup_rows": float(len(rollup)),
        }
        raw.update(_pip_counts(spark, self.rings, 14, tagged, n_tagged, n_zoned))
        return rollup, root["id"], raw

    def layers(self, spans, root, folded, group):
        m: dict = {}
        ids = {spans[i]["name"]: i for i in S.subtree(spans, root)}
        for name in ("geotag", "cellfns", "pip"):
            _layer(m, name, spans, ids[name], folded, group, self.cores)
        t = eventlog.combine([
            _span_totals(spans, ids["tiles"], folded, group),
            _span_totals(spans, ids["rollup"], folded, group),
        ])
        m["tiles.busy_s"] = S.self_times(spans)[ids["tiles"]]
        m["tiles.rollup_s"] = S.self_times(spans)[ids["rollup"]]
        m["tiles.shuffle_write_bytes"] = float(t["shuffle_write_bytes"])
        return m


# -------------------------------------------------------- spatial_job


def _load_run_pipeline():
    path = os.path.join(CHECKOUT, "jobs", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("run_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class SpatialJob(Workload):
    """The production job: run_pipeline.main once per spatial stage into a
    fresh checkpoint warehouse, over a parquet crawl with one hot cell."""

    name = "spatial_job"
    size = 10_000
    warmup = 1
    stages = ("geotag", "pip", "knn", "tiles")
    knn_k = 3  # run_pipeline's --knn-k default
    res = 9  # run_pipeline's --res default: cell encode and PIP cover

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rp = _load_run_pipeline()
        self.rings = synth.zone_rings(synth.gen_zones())  # run_pipeline's zones
        self.n_jobs = 0
        self.crawl = self.run_dir.sub("data", "crawl")

    def make_inputs(self, spark):
        synth_dist.gen_pages_dist(
            spark, self.size, seed=self.seed, one_hot_frac=0.5
        ).write.mode("overwrite").parquet(self.crawl)

    def _main(self, wh: str, stage: str) -> list[dict]:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.rp.main(["--pages", self.crawl, "--out", wh, "--stage", stage])
        if rc != 0:
            raise RuntimeError(f"run_pipeline --stage {stage} returned {rc}")
        lines = [json.loads(x) for x in buf.getvalue().splitlines() if x.startswith("{")]
        return [m for m in lines if "stage" in m]

    def _fresh_warehouse(self) -> str:
        self.n_jobs += 1
        wh = self.run_dir.sub("data", f"wh-{self.n_jobs}")
        shutil.rmtree(wh, ignore_errors=True)
        return wh

    def job(self, spark):
        wh = self._fresh_warehouse()
        for st in self.stages:
            self._main(wh, st)
        return wh

    def _targets(self, spark):
        # the same public calls run_pipeline makes for its kNN targets
        if "targets" not in self.ref:
            gaz = tables.gazetteer_df(spark, synth.gen_gazetteer())
            self.ref["targets"] = [tuple(r) for r in gaz.select(
                F.monotonically_increasing_id().alias("tid"), "lat", "lon").collect()]
        return self.ref["targets"]

    def check(self, spark, wh):
        problems = []
        for st in self.stages:
            with open(os.path.join(wh, st, "manifest.json")) as f:
                man = json.load(f)
            got = (man["row_count"], tuple(
                (r["partition_id"], r["row_count"], r["digest"]) for r in man["lineage"]))
            problems += checks.check_repeat(
                f"{st} manifest", self.ref.setdefault(f"manifest.{st}", got), got)
        if "knn_expected" not in self.ref:
            qs = (spark.read.parquet(os.path.join(wh, "geotag", "data"))
                  .filter(_sample("url", self.seed)).select("url", "lat", "lon").collect())
            self.ref["knn_expected"] = checks.knn_expected(
                [tuple(q) for q in qs], self._targets(spark), self.knn_k)
        got = (spark.read.parquet(os.path.join(wh, "knn", "data"))
               .filter(_sample("qid", self.seed))
               .select("qid", "tid", "dist2", "knn_rank").collect())
        problems += checks.check_knn(self.ref["knn_expected"], [tuple(r) for r in got])
        shutil.rmtree(wh, ignore_errors=True)
        return problems

    def traced_job(self, spark, tracer):
        wh = self._fresh_warehouse()
        lines = []
        with tracer.span("spatial_job") as root:
            for st in self.stages:
                with tracer.span(st):
                    lines += self._main(wh, st)
        bytes_written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(wh) for f in fs)
        with tracer.span("checkpoint.resume") as rs:
            resumed = self._main(wh, "geotag")
        snap = spark.read.parquet(os.path.join(wh, "geotag", "data"))
        with tracer.span("checkpoint.lineage") as ls:
            checkpoint.lineage_rows(snap, "url", 32, "cell")
        # the geotag stage fuses extraction and cell encode; cell encode
        # alone is timed here on the stage's committed points
        pts = snap.select("url", "lat", "lon").localCheckpoint(eager=True)
        with tracer.span("cellfns"):
            pts.withColumn("cell", cellfns.cell_encode("lat", "lon", self.res)
                           ).localCheckpoint(eager=True)
        by_stage = {m["stage"]: m for m in lines}
        use_brute, res = knn.choose_strategy(
            self.knn_k, by_stage["geotag"]["rows"], len(self._targets(spark)))
        raw = {
            "checkpoint.bytes_written": float(bytes_written),
            "checkpoint.resume_s": S.wall(rs),
            "checkpoint.lineage_s": S.wall(ls),
            "checkpoint.resumed": float(all(m["resumed"] for m in resumed)),
            "geotag.rows_in": float(self.size),
            "geotag.rows_out": float(by_stage["geotag"]["rows"]),
            "geotag.yield": by_stage["geotag"]["rows"] / self.size,
            "pip.rows_out": float(by_stage["pip"]["rows"]),
            "knn.ring_path": 0.0 if use_brute else 1.0,
            "knn.res": float(res),
            "knn.rows_out": float(by_stage["knn"]["rows"]),
        }
        for st in self.stages:
            raw[f"run_pipeline.{st}_s"] = float(by_stage[st]["sec"])
        raw.update(_pip_counts(spark, self.rings, self.res, pts,
                               by_stage["geotag"]["rows"], by_stage["pip"]["rows"]))
        return wh, root["id"], raw

    def layers(self, spans, root, folded, group):
        m: dict = {}
        ids = {spans[i]["name"]: i for i in S.subtree(spans, root)}
        g = _layer(m, "geotag", spans, ids["geotag"], folded, group, self.cores)
        m["skew.task_skew"] = eventlog.task_skew(g)
        _layer(m, "pip", spans, ids["pip"], folded, group, self.cores)
        t = _layer(m, "knn", spans, ids["knn"], folded, group, self.cores)
        m["knn.spark_jobs"] = float(t["jobs"])
        m["tiles.busy_s"] = S.self_times(spans)[ids["tiles"]]
        m["tiles.shuffle_write_bytes"] = float(
            _span_totals(spans, ids["tiles"], folded, group)["shuffle_write_bytes"])
        # this job's cell encode span: the first top-level one after it
        cell = next(s["id"] for s in spans[root:]
                    if s["name"] == "cellfns" and s["parent"] is None)
        _layer(m, "cellfns", spans, cell, folded, group, self.cores)
        return m


class SpatialJobRing(SpatialJob):
    """spatial_job at a size where ``knn.choose_strategy`` takes the ring
    path (more than 120M query x target pairs against the 200-place
    gazetteer). Not in BENCHMARK.json: one job takes about a minute, so
    it is run by hand to see ``knn.ring_path`` = 1."""

    name = "spatial_job_ring"
    size = 880_000
    warmup = 0
    heap = "4g"


# ------------------------------------------------------- text_neardup

# the 30-word vocabulary of scripts/gen_sf_replica.py (the documents
# table's shape), so shingle document frequencies match that table's
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def gen_documents(n: int, seed: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """``n`` documents in the shape of scripts/gen_sf_replica.py, from
    ``seed``: U(10,100) words each, 5% near-dup copies of an earlier doc
    with a trailing " dup". Also returns the planted (source, copy) pairs."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    planted = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            texts.append(texts[src] + " dup")
            planted.append((src, i))
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts}), planted


class TextNearDup(Workload):
    """jaccard_pairs(n=3, threshold=0.4, max_df=200) plus
    minhash_lsh_pairs(32 hashes, 16 bands, 0.4) over a documents table."""

    name = "text_neardup"
    size = 3_000
    warmup = 3
    gen_metric = "docs.gen_s"
    max_df = 200

    def make_inputs(self, spark):
        self.pdf, self.planted = gen_documents(self.size, self.seed)
        self.docs = _materialise(spark.createDataFrame(self.pdf))

    def _jaccard(self):
        return dedup.jaccard_pairs(self.docs, "doc_id", "text", n=3,
                                   threshold=0.4, max_df=self.max_df).collect()

    def _minhash(self):
        return dedup.minhash_lsh_pairs(self.docs, "doc_id", "text", 32, 16, 0.4).collect()

    def job(self, spark):
        return {"jaccard": self._jaccard(), "minhash": self._minhash()}

    def _twins(self, spark):
        """DuckDB twins over a fixed doc subset: every 16th doc plus both
        ends of each planted pair whose source is in it. Pairs are a
        pairwise property, so Spark's pairs restricted to the subset must
        equal the twins' pairs over it."""
        import duckdb

        keep = set(range(0, self.size, 16))
        keep |= {d for p in self.planted if p[0] % 16 == 0 for d in p}
        sub = self.pdf[self.pdf["doc_id"].isin(keep)]
        con = duckdb.connect()
        con.register("docs", sub)
        twins = {
            "jaccard": con.execute(dedup.jaccard_pairs_sql(
                "docs", "doc_id", "text", 3, 0.4)).fetchall(),
            "minhash": con.execute(dedup.minhash_lsh_pairs_sql(
                "docs", "doc_id", "text", 32, 16, 0.4)).fetchall(),
        }
        con.close()
        return keep, twins

    def check(self, spark, out):
        if "dropped" not in self.ref:
            self.ref["dropped"] = dedup.jaccard_dropped_shingles(
                self.docs, "doc_id", "text", n=3, max_df=self.max_df)
            if self.ref["dropped"] == 0:
                self.ref["twins"] = self._twins(spark)
        problems = []
        for what in ("jaccard", "minhash"):
            d = checks.digest(out[what])
            problems += checks.check_repeat(f"{what} digest", self.ref.setdefault(what, d), d)
            if "twins" in self.ref:
                keep, twins = self.ref["twins"]
                got = [r for r in out[what] if r[0] in keep and r[1] in keep]
                problems += checks.check_pairs(what, twins[what], got)
        return problems

    def traced_job(self, spark, tracer):
        with tracer.span("text_neardup") as root:
            with tracer.span("jaccard"):
                jac = self._jaccard()
            with tracer.span("minhash"):
                mh = self._minhash()
        raw = {
            "dedup.jaccard_pairs": float(len(jac)),
            "dedup.minhash_pairs": float(len(mh)),
            "dedup.dropped_shingles": float(dedup.jaccard_dropped_shingles(
                self.docs, "doc_id", "text", n=3, max_df=self.max_df)),
        }
        return {"jaccard": jac, "minhash": mh}, root["id"], raw

    def layers(self, spans, root, folded, group):
        m: dict = {}
        ids = {spans[i]["name"]: i for i in S.subtree(spans, root)}
        st = S.self_times(spans)
        m["dedup.jaccard_s"] = st[ids["jaccard"]]
        m["dedup.minhash_s"] = st[ids["minhash"]]
        t = eventlog.combine([
            _span_totals(spans, ids["jaccard"], folded, group),
            _span_totals(spans, ids["minhash"], folded, group),
        ])
        m["dedup.shuffle_write_bytes"] = float(t["shuffle_write_bytes"])
        m["dedup.spill_bytes"] = float(t["spill_bytes"])
        m["dedup.gc_s"] = float(t["gc_s"])
        m["dedup.executor_cpu_s"] = float(t["executor_cpu_s"])
        m["dedup.core_util"] = eventlog.core_util(t, S.wall(spans[root]), self.cores)
        return m


WORKLOADS = {w.name: w for w in (GeoJoin, SpatialJob, SpatialJobRing, TextNearDup)}
