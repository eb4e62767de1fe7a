"""The workloads: inputs from the seed, the jobs, and their checks.

Each workload is a closed-loop client: ``job(k, tracer)`` runs job ``k``
to completion and returns (input rows, output summary); ``check`` compares
the summary with the independent reference from ``reference.py``. Only
``job`` is timed. Every call into the package sits in a span named after
the layer it enters, so the traced run attributes time per layer.

Two job kinds run only in traced runs (``probe_kinds``): near-duplicate
detection on a fresh document batch and tile materialization of a fresh
page batch. They are too slow to repeat inside the timed runs, so their
layers are measured per layer but move no end-to-end metric.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rasterio_spark.grid.affine import Affine
from rasterio_spark.operators.dedup import dedup_groups, lsh_verified_pairs, minhash_lsh_pairs
from rasterio_spark.operators.join import knn_join, pip_join
from rasterio_spark.operators.stats import zonal_stats
from rasterio_spark.operators.tile import tile_counts, tile_pages
from rasterio_spark.operators.warp import build_pyramid
from rasterio_spark.plans.cache import scoped_persist
from rasterio_spark.plans.lineage import checkpointed_write, verify_lineage
from rasterio_spark.sources.documents import synth_documents
from rasterio_spark.sources.pages import synth_pages, with_geocode
from rasterio_spark.sources.polygons import synth_polygons

import reference as ref
from spans import plan_nodes, rows_below

SCAN = "sources.scan"
TILE_PAGES = "operators.tile.tile_pages"
TILE_COUNTS = "operators.tile.tile_counts"
PIP = "operators.join.pip_join"
KNN = "operators.join.knn_join"
LSH = "operators.dedup.minhash_lsh_pairs"
GROUPS = "operators.dedup.dedup_groups"
PYRAMID = "operators.warp.build_pyramid"
ZONAL = "operators.stats.zonal_stats"
WRITE = "plans.lineage.checkpointed_write"
VERIFY = "plans.lineage.verify_lineage"
RELEASE = "plans.cache.release_persisted"
# traced-only counts behind dedup_groups' verified-pair ratio
LSH_CANDIDATES = "operators.dedup.lsh_candidates"
LSH_VERIFIED = "operators.dedup.lsh_verified_pairs"

# the calls the traced run wraps, in report order
LAYER_CALLS = (SCAN, TILE_PAGES, TILE_COUNTS, PIP, KNN, LSH, GROUPS, PYRAMID, ZONAL, WRITE, VERIFY, RELEASE)

TILE_RES = 7  # tile_pages' default working resolution
FILES = 8  # parquet files per generated table
N_POLYGONS = 200  # polygons per synth_polygons layer (plus 8 fixed extras)

# dedup probe: documents per batch and the generator's planting rule
N_DOCS = 2_000
DUP_MOD = 7
# materialize probe: pages per batch, partitions written before the
# simulated crash, tile height in cells (tile_pages' tiles are 8 x 8),
# pyramid factors
N_BATCH = 20_000
CRASH_AFTER = 6
TILE_HEIGHT = 8
FACTORS = [2, 4, 8]


def _offset(seed: int, n: int) -> int:
    """Page id offset: disjoint id ranges for distinct seeds."""
    return (seed % 1_000_000) * n


def _noop(df) -> None:
    """Action that computes every column of ``df`` and keeps nothing."""
    df.write.format("noop").mode("overwrite").save()


def _valid_polygons(polys: list[dict]) -> list[dict]:
    """Drop the empty and too-short rings synth_polygons plants."""
    return [p for p in polys if p["geom"]["coordinates"] and len(p["geom"]["coordinates"][0]) >= 4]


def pip_digest(df):
    """(rows, digest) of a pip_join output: the Spark twin of
    ``reference.pair_digest`` over (page index from the url, polygon_id)."""
    i = F.element_at(F.split("url", "/"), -1).cast("long")
    p = F.lit(ref.DIGEST_P)
    h = ((i % p) * F.lit(1_000_003) + F.col("polygon_id") * F.lit(7_919)) % p
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))


def read_points(path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(page index, url, lon, lat) of a stored pages table, read with
    pyarrow (not Spark) for the references."""
    t = pq.read_table(path, columns=["url", "lon", "lat"])
    url = t.column("url").combine_chunks()
    # urls end in "/p/<page index>"
    idx = pc.cast(pc.list_element(pc.split_pattern(url, "/"), 4), pa.int64())
    urls = np.asarray(url.to_numpy(zero_copy_only=False), dtype=object)
    return idx.to_numpy(), urls, t.column("lon").to_numpy(), t.column("lat").to_numpy()


class Workload:
    """Base: inputs, the shared pip job, and the traced-only probe jobs."""

    name = ""
    KINDS = ("job",)  # job kinds, run in turn; a timed run ends on a whole cycle
    probe_kinds: tuple[str, ...] = ()
    N_PAGES = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.victim = None  # url whose joined rows the self-test drops

    @property
    def cycle(self) -> int:
        return len(self.KINDS)

    def kind(self, k: int) -> str:
        return self.KINDS[k % self.cycle]

    def size(self, n: int) -> int:
        return max(64, int(n * self.ctx.scale))

    def rng(self, tag: int, k: int) -> np.random.Generator:
        """Generator for the fresh inputs of job ``k`` (k >= -1000)."""
        return np.random.default_rng([self.ctx.seed % 2**32, tag, k + 1000])

    def write_pages(self, n: int, out: str, offset: int) -> str:
        """Pages geocoded once at ingest (lon/lat stored, 20% in 3 hot boxes)."""
        df = synth_pages(self.spark, n, partitions=FILES, offset=offset)
        with_geocode(df, skew=True, method="sha2").write.mode("overwrite").parquet(out)
        return out

    def setup(self, r: int, work: str) -> None:
        """Set-up round ``r``: write the page table under ``work``, then open
        a fresh polygon layer with one join on it (``open_layer``)."""
        self.work = work
        self.n = self.size(self.N_PAGES)
        self.path = self.write_pages(self.n, os.path.join(work, "pages"), _offset(self.ctx.seed, self.n))
        self.open_layer(r)

    def open_layer(self, r: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed first job of every kind the set-up rounds did not run."""

    def load_references(self) -> None:
        """Read the generated inputs back for the references (untimed)."""
        self.idx, self.urls, self.lon, self.lat = read_points(self.path)

    def prepare(self, k: int) -> None:
        """Untimed: generate the fresh inputs job ``k`` receives."""

    def job(self, k: int, tr) -> tuple[int, object]:
        raise NotImplementedError

    def check(self, k: int, out) -> bool:
        raise NotImplementedError

    def after(self, k: int) -> None:
        """Untimed clean-up once job ``k`` is checked."""
        for d in ("out", "docs", "batch"):
            shutil.rmtree(os.path.join(self.work, f"{d}-{k}"), ignore_errors=True)

    def scan(self, path: str, tr):
        with tr.span(SCAN, "call"):
            df = self.spark.read.parquet(path)
        tr.probe(SCAN, lambda: _noop(df))
        return df

    def pip_job(self, polys: list[dict], tr) -> tuple[int, int]:
        """pip_join(auto, 8 salt buckets) over the page table, then one
        (rows, digest) aggregate of its output."""
        pages = self.scan(self.path, tr)
        if tr.enabled:
            # pip_join tiles internally; the traced run also times tiling alone
            with tr.span(TILE_PAGES, "call"):
                tiled = tile_pages(pages)
            tr.probe(TILE_PAGES, lambda: _noop(tiled))
        with tr.span(PIP, "call"):
            out = pip_join(pages, polys, strategy="auto", salt_buckets=8)
        if self.ctx.perturb and self.victim is not None:
            out = out.where(F.col("url") != F.lit(self.victim))
        with tr.span(PIP, "action") as rec:
            agg = pip_digest(out)
            row = agg.collect()[0]
            if tr.enabled:
                rec.update(_refine_counts(agg))
        return row["n"], row["h"]

    def pip_expected(self, polys: list[dict]) -> tuple[int, int]:
        hit, pid = ref.pip_pairs(self.lon, self.lat, polys)
        return ref.pair_digest(self.idx[hit], pid)

    # -- traced-only probe jobs ------------------------------------------

    def probe_job(self, kind: str, k: int, tr) -> bool:
        """Generate fresh inputs, run, check and clean up one probe job."""
        rng = self.rng(2, k)
        try:
            if kind == "dedup":
                return self._dedup(k, rng, tr)
            return self._materialize(k, rng, tr)
        finally:
            self.after(k)

    def _dedup(self, k: int, rng, tr) -> bool:
        n, offset = self.size(N_DOCS), int(rng.integers(2**40))
        path = os.path.join(self.work, f"docs-{k}")
        synth_documents(self.spark, n, partitions=FILES, offset=offset).write.parquet(path)
        docs = self.scan(path, tr)
        with tr.span(LSH, "call"):
            cand = minhash_lsh_pairs(docs, num_perm=128, bands=16, max_bucket=50, hash_method="xxh64")
        with tr.span(LSH, "action"):
            pairs = {(r[0], r[1]) for r in cand.collect()}
        # nothing the first call persisted may serve the second
        self.ctx.hygiene(tr)
        with tr.span(GROUPS, "call"):
            groups = dedup_groups(docs, threshold=0.2, max_bucket=50, hash_method="xxh64")
        with tr.span(GROUPS, "action"):
            dropped = {(r[0], r[1]) for r in groups.where(~F.col("keep")).select("doc_id", "group_id").collect()}
        # candidate and verified pair counts at dedup_groups' own LSH
        # settings (16 permutations), from two extra actions
        kw = {"max_bucket": 50, "hash_method": "xxh64"}
        tr.probe(LSH_CANDIDATES, lambda: minhash_lsh_pairs(docs, **kw).count())
        tr.probe(LSH_VERIFIED, lambda: lsh_verified_pairs(docs, threshold=0.2, **kw).count())
        planted = ref.planted_duplicates(offset, n, DUP_MOD)
        # each planted copy is a candidate pair, and the copies are exactly
        # what dedup drops (copy -> its original's group)
        return planted <= pairs and dropped == {(b, a) for a, b in planted}

    def _materialize(self, k: int, rng, tr) -> bool:
        n = self.size(N_BATCH)
        path = self.write_pages(n, os.path.join(self.work, f"batch-{k}"), int(rng.integers(2**40)))
        shapes = [p["geom"] for p in _valid_polygons(synth_polygons(N_POLYGONS, seed=int(rng.integers(2**31))))]
        out_dir = os.path.join(self.work, f"out-{k}")
        pages = self.scan(path, tr)
        with tr.span(TILE_PAGES, "call"):
            tiled = tile_pages(pages)
        crashed = False
        with tr.span(WRITE, "call"):
            try:
                checkpointed_write(tiled, out_dir, "tiles", "tile_i", fail_after_partitions=CRASH_AFTER)
            except RuntimeError:
                crashed = True
        with tr.span(WRITE, "call") as rec:
            resumed = checkpointed_write(tiled, out_dir, "tiles", "tile_i")
            rec["bytes_written"] = float(_dir_bytes(out_dir))
            rec["resume_skipped"] = float(resumed["skipped"])
            rec["resume_partitions"] = float(resumed["skipped"] + resumed["written"])
        with tr.span(TILE_COUNTS, "call"):
            counts = tile_counts(pages)
        cell, low28 = F.col("cell_id"), F.lit((1 << 28) - 1)
        cells = counts.select(
            F.lit(1).alias("band"),
            F.shiftright(cell, 28).bitwiseAND(low28).cast("int").alias("row"),
            cell.bitwiseAND(low28).cast("int").alias("col"),
            F.col("n_pages").cast("double").alias("value"),
            F.lit(True).alias("valid"),
        )
        with tr.span(TILE_COUNTS, "action"):
            cells = scoped_persist(cells)
            cells.count()
        with tr.span(PYRAMID, "call"):
            levels = build_pyramid(cells, FACTORS, out_dir=out_dir, tile_height=TILE_HEIGHT)
        with tr.span(PYRAMID, "action"):
            top = levels[FACTORS[-1]].agg(F.sum("sum_v").alias("s")).collect()[0]["s"]
        ny, nx = 1 << TILE_RES, 1 << (TILE_RES + 1)
        grid = Affine(360.0 / nx, 0.0, -180.0, 0.0, -170.0 / ny, 85.0)
        with tr.span(ZONAL, "call"):
            zs = zonal_stats(cells, shapes, (ny, nx), transform=grid)
        with tr.span(ZONAL, "action"):
            zonal_rows = len(zs.collect())
        bad = 0
        for stage in ["tiles"] + [f"overview_{f}" for f in FACTORS]:
            with tr.span(VERIFY, "call"):
                diff = verify_lineage(self.spark, out_dir, stage, "tile_i")
            with tr.span(VERIFY, "action"):
                bad += len(diff.collect())
        _, _, _, lat = read_points(path)
        n_tiles = len(ref.tile_rows(lat, TILE_RES, TILE_HEIGHT))
        return (
            crashed
            and resumed == {"written": n_tiles - CRASH_AFTER, "skipped": CRASH_AFTER}
            and top == float(n)  # every page lands in the pyramid's top level
            and zonal_rows > 0
            and bad == 0
        )


class SpatialJoin(Workload):
    """Bulk read: the north-star pipeline, repeated against one reused,
    warm polygon layer."""

    name = "spatial_join"
    N_PAGES = 400_000
    probe_kinds = ("dedup",)

    def open_layer(self, r):
        # a fresh layer per round; the timed jobs reuse the last one, warm
        self.polys = synth_polygons(N_POLYGONS, seed=int(self.rng(0, r).integers(2**31)))
        self.pip_job(self.polys, self.ctx.null_tracer)

    def warmup(self):
        # the first jobs after set-up still run slower (JIT), so one more
        self.pip_job(self.polys, self.ctx.null_tracer)

    def load_references(self):
        super().load_references()
        hit, pid = ref.pip_pairs(self.lon, self.lat, self.polys)
        self.expected = ref.pair_digest(self.idx[hit], pid)
        self.victim = self.urls[hit[np.argmin(self.idx[hit])]]

    def job(self, k, tr):
        return self.n, self.pip_job(self.polys, tr)

    def check(self, k, out):
        return tuple(out) == self.expected


class AdhocQueries(Workload):
    """Small queries with fresh inputs, in turn: pip_join against a
    never-seen polygon layer, then knn_join for fresh query points."""

    name = "adhoc_queries"
    KINDS = ("pip", "knn")
    N_PAGES = 100_000
    K = 10
    N_POINTS = 8
    probe_kinds = ("materialize",)

    def open_layer(self, r):
        k = -100 - r * self.cycle  # a pip query on a fresh layer
        self.prepare(k)
        self.job(k, self.ctx.null_tracer)

    def warmup(self):
        self.prepare(-1)  # a knn query
        self.job(-1, self.ctx.null_tracer)

    def prepare(self, k):
        rng = self.rng(1, k)
        if self.kind(k) == "pip":
            self.query = synth_polygons(N_POLYGONS, seed=int(rng.integers(2**31)))
        else:
            lon = rng.uniform(-180.0, 180.0, self.N_POINTS)
            lat = rng.uniform(-85.0, 85.0, self.N_POINTS)
            self.query = [(q, float(x), float(y)) for q, (x, y) in enumerate(zip(lon, lat))]

    def job(self, k, tr):
        if self.kind(k) == "pip":
            return self.n, self.pip_job(self.query, tr)
        pages = self.scan(self.path, tr)
        with tr.span(KNN, "call"):
            out = knn_join(pages, self.query, k=self.K)
        with tr.span(KNN, "action") as rec:
            rows = out.select("query_id", "url", "rank").collect()
            if tr.enabled:
                rec["ranked_rows"] = _rows_ranked(out)
                rec["ranked_capacity"] = float(self.K * len(self.query))
        return self.n, {(r["query_id"], r["url"], r["rank"]) for r in rows}

    def check(self, k, out):
        if self.kind(k) == "pip":
            return tuple(out) == self.pip_expected(self.query)
        return out == ref.knn_rows(self.lon, self.lat, self.urls, self.query, self.K)


def _refine_counts(df) -> dict:
    """Rows into and out of the Arrow point-in-polygon refine, from the
    executed plan of an action over a pip_join output."""
    nodes = plan_nodes(df)
    for k, (name, _) in enumerate(nodes):
        if name.startswith("ArrowEvalPython"):
            rows_out = next(
                (m["numOutputRows"] for nn, m in reversed(nodes[:k]) if nn == "Filter" and "numOutputRows" in m),
                0.0,
            )
            return {"refine_rows_in": rows_below(nodes, k), "refine_rows_out": float(rows_out)}
    return {"refine_rows_in": 0.0, "refine_rows_out": 0.0}


def _rows_ranked(df) -> float:
    """Rows entering the first ranking node (window group limit or
    window) of a knn_join output's executed plan."""
    nodes = plan_nodes(df)
    ranking = [k for k, (name, _) in enumerate(nodes) if name.startswith("Window")]
    return rows_below(nodes, ranking[-1]) if ranking else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


WORKLOADS = {w.name: w for w in (SpatialJoin, AdhocQueries)}
