"""The benchmark's workloads: closed loop, one client, cache-cold calls.

``operator_panel``: the engine's read-side operators, one call after
another from a single driver thread, each followed by
``spark.catalog.clearCache()``.  ``jobs``: the three batch jobs
(``jobs/tile_images.py``, ``jobs/osm_make.py``, ``jobs/corpus_make.py``)
driven through the public calls they make, into fresh output
directories.

Every call's output is reduced to a row count and an order-insensitive
content hash (``digest``), compared with the values recorded for the
seed in ``expected.json``; a mismatch, a broken invariant or an exception
counts the call as failed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import traceback

import gen

ROUNDING = 6  # decimals kept of floating-point columns before hashing
# Lineage buckets (the jobs' --buckets) for inputs of a few hundred to a
# few thousand rows; the jobs' default of 64 is sized for large inputs.
LINEAGE_BUCKETS = 4


# ------------------------------------------------------------------ checks


def _norm(col, dtype):
    """Column normalised for hashing: floats rounded (aggregation order
    may move the last bits), maps turned into sorted entry arrays
    (xxhash64 rejects maps), recursing into arrays and structs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), ROUNDING)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _norm(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_norm(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        return F.array_sort(F.map_entries(col))
    return col


def digest(df) -> list:
    """[rows, hash] of ``df``: one action that reads every column.  The
    hash is the sum of per-row xxhash64 values (a multiset hash:
    order-insensitive, and duplicate rows do not cancel)."""
    from pyspark.sql import functions as F

    cols = [_norm(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return [int(r["n"]), str(r["h"] if r["h"] is not None else 0)]


def decode_geobuf(rows) -> list[dict]:
    """Every feature of the geobuf blobs, decoded on the driver."""
    from lazyosm_spark.sources.geobuf import decode_feature_collection

    return [f for r in rows for f in decode_feature_collection(bytes(r["geobuf"]))]


def sha_lines(lines) -> list:
    lines = sorted(lines)
    return [len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]]


def features_digest(features: list[dict]) -> list:
    """[features, hash] of decoded geobuf features."""
    return sha_lines(json.dumps(f, sort_keys=True, default=str) for f in features)


def polygons_e6(polys) -> list:
    """[polygon][ring][point] lon/lat (the decoded geobuf nesting of
    every geometry type) in integer micro-degrees, the geobuf precision."""
    return [[[[round(x * 1e6), round(y * 1e6)] for x, y in ring] for ring in poly] for poly in polys]


def rings_digest(features: list[dict], relation_ids: set[int]) -> list:
    """[relations, hash] of the assembled multipolygon relations: id,
    geometry type and rings (the ring-assembly output that
    ``crosscheck.py`` recomputes with the scalar oracle)."""
    return sha_lines(
        json.dumps([f["osm_id"], f["geom_type"], polygons_e6(f["coords"])])
        for f in features
        if f["osm_id"] in relation_ids
    )


class Checker:
    """Compares observations with the recorded values and counts
    attempted and failed calls; ``record`` collects them instead."""

    def __init__(self, expected: dict | None, record: bool):
        self.expected = expected or {}
        self.record = record
        self.observed: dict[str, list] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def expect(self, name: str, got) -> bool:
        """True when ``got`` matches the recorded value for ``name``."""
        if self.record:
            prev = self.observed.setdefault(name, got)
            ok = prev == got  # repeated passes must agree with each other
        else:
            ok = self.expected.get(name) == got
        if not ok:
            self.errors.append(f"{name}: got {got}, expected {self.expected.get(name)}")
        return ok

    def invariant(self, what: str, ok: bool) -> bool:
        if not ok:
            self.errors.append(f"invariant broken: {what}")
        return ok


class CacheWatch:
    """Cache-cold discipline: each unit of calls must start with Spark's
    CacheManager empty, so no timed plan can read an earlier unit's
    cache; a unit that does not counts as failed (``dirty_units``).
    After the unit, count the persisted RDDs it left behind, then clear
    Spark's cache."""

    def __init__(self, spark, checker):
        from lazyosm_spark.cache import n_persistent_rdds

        self.spark, self.check = spark, checker
        self._n = n_persistent_rdds
        self.leaked = 0
        self.dirty_units = 0
        self._start = 0

    def begin(self, name: str) -> None:
        self._start = self._n(self.spark)
        if not self.spark._jsparkSession.sharedState().cacheManager().isEmpty():
            self.dirty_units += 1
            self.check.fail(f"{name}: Spark's cache is not empty when the call starts")

    def end(self) -> None:
        self.spark.catalog.clearCache()
        self.leaked += max(self._n(self.spark) - self._start, 0)


# ------------------------------------------------------------------ panel


class Panel:
    """``operator_panel``: nine cache-cold operator calls per pass."""

    def __init__(self, spark, inputs: str, seed: int, tracer, checker):
        from lazyosm_spark.sources.fixtures import gen_tiles

        self.spark, self.dir = spark, inputs
        self.tracer, self.check = tracer, checker
        self.cache = CacheWatch(spark, checker)
        tiles_pdf = gen_tiles()
        self.n_tiles = len(tiles_pdf)
        self.tiles = spark.createDataFrame(tiles_pdf)
        self.points = gen.points(spark, inputs, seed)
        self.skew = spark.read.parquet(os.path.join(inputs, "skew_points.parquet"))
        self.queries = gen.queries(spark, inputs, seed)
        self.rows = gen.n_rows(inputs, "lineitem")
        self.n_queries = gen.n_rows(inputs, "part")

    def _unit(self, name: str, layer: str, phase: str, df_fn) -> list | None:
        """One timed call whose output is digested inside the timing."""
        self.check.attempted += 1
        self.cache.begin(name)
        try:
            with self.tracer.call(layer, phase):
                got = digest(df_fn())
        except Exception:
            self.check.fail(f"{name} raised:\n{traceback.format_exc()}")
            self.cache.end()
            return None
        self.cache.end()
        if not self.check.expect(name, got):
            self.check.failed += 1
        return got

    def run_pass(self) -> None:
        from lazyosm_spark.operators.knn import grid_knn
        from lazyosm_spark.operators.spatial_join import tile_points, tile_points_shuffle
        from lazyosm_spark.plans import driver_queries as dq

        spark, nq = self.spark, self.n_queries
        self._unit(
            "spatial_join", "operators.spatial_join", "tile_points",
            lambda: tile_points(self.points, self.tiles, salt=4, n_tiles=self.n_tiles),
        )
        # bench.py's skew section: AQE partition coalescing off, so the
        # hot tile is not hidden inside a merged task
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            u = self._unit(
                "skew_join", "operators.spatial_join", "tile_points_shuffle",
                lambda: tile_points_shuffle(self.skew, self.tiles),
            )
            s = self._unit(
                "skew_join_salted", "operators.spatial_join", "tile_points_shuffle_salt16",
                lambda: tile_points_shuffle(self.skew, self.tiles, salt=16),
            )
        finally:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        if u is not None and s is not None and not self.check.invariant("salted == unsalted skew join", u == s):
            self.check.failed += 1
        fresh = self._unit(
            "grid_knn", "operators.knn", "grid_knn",
            lambda: grid_knn(self.queries, self.points, k=5, n_points=self.rows, n_queries=nq),
        )
        self._knn_repeat(fresh, nq)
        self._unit(
            "minhash_lsh", "operators.dedup", "minhash_lsh_pairs",
            lambda: dq.FIXTURE_QUERIES["fx_minhash_lsh_pairs"](spark, self.dir),
        )
        self._unit(
            "cosine_topk", "plans.driver_queries", "cosine_topk",
            lambda: dq.QUERIES["cosine_topk"](spark, self.dir),
        )
        self._unit(
            "way_node_assembly", "plans.driver_queries", "way_node_assembly",
            lambda: dq.QUERIES["way_node_assembly"](spark, self.dir),
        )

    def _knn_repeat(self, fresh, nq: int) -> None:
        """prepare_points, then grid_knn on the prepared frame: one cache
        unit, because the prepared frame is a cache the caller passes on
        purpose (its owner unpersists it after the repeat call)."""
        from lazyosm_spark.operators.knn import grid_knn, pick_res, prepare_points

        res = pick_res(self.rows, 5)
        self.check.attempted += 2
        self.cache.begin("knn_prepare")
        prep = None
        try:
            with self.tracer.call("operators.knn", "prepare_points"):
                prep = prepare_points(self.points, res)
                got_p = digest(prep)
            if not self.check.expect("knn_prepare", got_p):
                self.check.failed += 1
            with self.tracer.call("operators.knn", "grid_knn(points_prepared)"):
                df = grid_knn(
                    self.queries, self.points, k=5, n_queries=nq,
                    points_prepared=prep, prepared_res=res,
                )
                got = digest(df)
            ok = self.check.expect("grid_knn_repeat", got)
            ok = self.check.invariant("grid_knn_repeat == grid_knn", got == fresh) and ok
            if not ok:
                self.check.failed += 1
        except Exception:
            self.check.fail(f"knn repeat raised:\n{traceback.format_exc()}")
        finally:
            if prep is not None:
                prep.unpersist()
            self.cache.end()


# ------------------------------------------------------------------- jobs


class Jobs:
    """``jobs``: tile_images, osm_make and corpus_make, each into a fresh
    output directory."""

    def __init__(self, spark, inputs: str, tracer, checker, out_root: str, pbf_entities: int):
        import pyarrow.parquet as pq

        self.spark, self.dir = spark, inputs
        self.tracer, self.check = tracer, checker
        self.cache = CacheWatch(spark, checker)
        self.out_root = out_root
        n_images = pq.ParquetDataset(os.path.join(inputs, "images")).read(columns=["w"]).num_rows
        self.rows = n_images + pbf_entities + gen.n_rows(inputs, "corpus_documents")
        self.pass_no = 0
        self.pbf_bytes = sum(
            os.path.getsize(os.path.join(inputs, "pbf", f)) for f in os.listdir(os.path.join(inputs, "pbf"))
        )
        self.relation_ids = set(gen.pbf_world(0, 0)["relations"]["id"].tolist())
        self.files_written = 0
        self.blob_bytes = 0
        self.features = 0
        self._pending: list[tuple[str, str, object]] = []
        self._installed = False

    def _fresh_dir(self, name: str) -> str:
        d = os.path.join(self.out_root, f"{name}{self.pass_no}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    # -- traced-run instrumentation: probes for layers fused into one action

    def _install_probes(self) -> None:
        """Traced run only: wrap the functions the jobs call so the
        frames they return can be probed, and wrap run_stage so its wall
        splits into its upstream layers and the lineage layer itself."""
        if self._installed or not self.tracer.enabled:
            return
        import time

        from lazyosm_spark.operators import corpus, packing, text, tokenize
        from lazyosm_spark.plans.lineage import CheckpointedPipeline

        jobs = self

        def register(module, fn_name, layer):
            orig = getattr(module, fn_name)

            def wrapped(*a, **k):
                df = orig(*a, **k)
                jobs._pending.append((layer, fn_name, df))
                return df

            setattr(module, fn_name, wrapped)

        register(corpus, "filter_corpus", "operators.corpus")
        register(text, "pii_scrub", "operators.text")
        register(tokenize, "tokenize", "operators.tokenize")
        register(packing, "pack_sequences", "operators.packing")
        orig_run_stage = CheckpointedPipeline.run_stage

        def run_stage(pipe, stage, output_df, key_col):
            tr = jobs.tracer
            span = tr._current
            upstream = 0.0
            for layer, phase, df in jobs._pending:
                t = tr.probe(layer, phase, df)
                tr.attribute(span, layer, t)
                upstream += t
            if not any(df is output_df for _, _, df in jobs._pending):
                t = tr.probe("jobs", f"{stage}_input", output_df)
                tr.attribute(span, "jobs", max(t - upstream, 0.0))
                upstream = max(upstream, t)
            jobs._pending.clear()
            phase = f"run_stage({stage})"
            tr._group(f"plans.lineage:{phase}")
            t0 = time.perf_counter()
            out = orig_run_stage(pipe, stage, output_df, key_col)
            wall = time.perf_counter() - t0
            tr._group(f"{span['layer']}:{span['phase']}")
            tr.attribute(span, "plans.lineage", max(wall - upstream, 0.0))
            span.setdefault("stages", []).append((phase, wall))
            return out

        CheckpointedPipeline.run_stage = run_stage
        self._installed = True

    def _stage(self, pipe, stage, df, key, layer_of_df):
        """run_stage, with ``df``'s layer noted for the traced run."""
        self._pending.append((layer_of_df, stage, df))
        return pipe.run_stage(stage, df, key_col=key)

    # -- the three jobs

    def tile_images(self, out: str) -> dict:
        """jobs/tile_images.py's measured pipeline, stage for stage."""
        with self.tracer.call("jobs", "tile_images"):
            return self._tile_images(out)

    def _tile_images(self, out: str) -> dict:
        from pyspark.sql import functions as F

        from lazyosm_spark.operators.spatial_join import tile_points
        from lazyosm_spark.plans.lineage import CheckpointedPipeline
        from lazyosm_spark.sources.fixtures import gen_tiles
        from lazyosm_spark.sources.images import DECODE_SCHEMA, decode_images_batches

        spark = self.spark
        images = spark.read.parquet(os.path.join(self.dir, "images"))
        decoded = images.mapInPandas(decode_images_batches, DECODE_SCHEMA)
        pipe = CheckpointedPipeline(spark, out, n_buckets=LINEAGE_BUCKETS)
        feats = self._stage(pipe, "decode_features", decoded, "image_id", "sources.images")
        i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long").cast("double")
        phi, phi2 = gen.PHI, gen.PHI2
        pts = feats.select(
            F.col("image_id").alias("point_id"),
            (F.lit(-180.0) + 360.0 * (i * phi - F.floor(i * phi))).alias("lon"),
            (F.lit(-85.0) + 170.0 * (i * phi2 - F.floor(i * phi2))).alias("lat"),
        )
        tiles = spark.createDataFrame(gen_tiles())
        mem = self._stage(pipe, "tile_membership", tile_points(pts, tiles), "point_id",
                          "operators.spatial_join")
        rollup = (
            mem.join(feats.withColumnRenamed("image_id", "point_id"), "point_id")
            .groupBy("tile_id", "resolution")
            .agg(
                F.count("*").alias("n_images"),
                F.approx_count_distinct("phash").alias("n_distinct_phash"),
                F.avg("mean_lum").alias("avg_lum"),
                F.sum(F.when(~F.col("phash_ok"), 1).otherwise(0)).alias("n_phash_bad"),
            )
        )
        roll = self._stage(pipe, "tile_rollup", rollup, "tile_id", "jobs")
        return {"pipe": pipe, "feats": feats, "mem": mem, "roll": roll}

    def osm_make(self, out: str) -> bool:
        """jobs/osm_make.py --format geobuf: read_pbf -> decode_* ->
        all_features -> geobuf_sink -> parquet, one fused action."""
        from lazyosm_spark.operators.osm import all_features, decode_nodes, decode_relations, decode_ways
        from lazyosm_spark.sources.geobuf import geobuf_sink
        from lazyosm_spark.sources.pbf import read_pbf

        tr = self.tracer
        with tr.call("jobs", "osm_make") as span:
            enc = read_pbf(self.spark, os.path.join(self.dir, "pbf", "*.osm.pbf"))
            n, w, r = enc["nodes_encoded"], enc["ways_encoded"], enc["relations_encoded"]
            dn, dw, dr = decode_nodes(n), decode_ways(w), decode_relations(r)
            feats = all_features(dn, dw, dr)
            sink = geobuf_sink(feats)
            tr.probe_chain(span, [
                ("sources.pbf", "read_pbf", (n, w, r)),
                ("operators.osm", "decode", (dn, dw, dr)),
                ("operators.osm", "all_features", (feats,)),
                ("sources.geobuf", "geobuf_sink", (sink,)),
            ])
            sink.write.mode("overwrite").parquet(out)
        return True

    def corpus_make(self, out: str) -> dict:
        from jobs.corpus_make import run_pipeline

        with self.tracer.call("jobs", "corpus_make.run_pipeline"):
            return run_pipeline(self.spark, os.path.join(self.dir, "corpus_documents.parquet"), out,
                                n_buckets=LINEAGE_BUCKETS)

    # -- one pass

    def _guard(self, name: str, fn):
        """Run the call ``fn`` as one cache unit; an exception fails it."""
        self.check.attempted += 1
        self.cache.begin(name)
        try:
            return fn()
        except Exception:
            self.check.fail(f"{name} raised:\n{traceback.format_exc()}")
            return None
        finally:
            self._pending.clear()
            self.cache.end()

    def _checked(self, ok: bool) -> None:
        if not ok:
            self.check.failed += 1

    def run_pass(self) -> None:
        self._install_probes()
        self.pass_no += 1
        self._image_tiling()
        self._osm_features()
        self._corpus_curation()

    def _image_tiling(self) -> None:
        from pyspark.sql import functions as F

        tr, ck = self.tracer, self.check
        tdir = self._fresh_dir("tiles")
        t = self._guard("image_tiling", lambda: self.tile_images(tdir))
        if t is None:
            return
        with tr.checking():
            got = {k: digest(t[k]) for k in ("feats", "mem", "roll")}
            ok = all([ck.expect(f"image_tiling.{k}", v) for k, v in got.items()])
            bad = t["feats"].filter(~F.col("phash_ok")).count()
            ok = ck.invariant("image_tiling integrity failures == 0", bad == 0) and ok
            stages = ("decode_features", "tile_membership", "tile_rollup")
            self._checked(ck.invariant("verify_stage", all(t["pipe"].verify_stage(s) for s in stages)) and ok)
            self.files_written += sum(len(f) for _, _, f in os.walk(tdir))

    def _osm_features(self) -> None:
        tr, ck = self.tracer, self.check
        odir = self._fresh_dir("features")
        if not self._guard("osm_features", lambda: self.osm_make(odir)):
            return
        with tr.checking():
            rows = self.spark.read.parquet(odir).collect()
            feats = decode_geobuf(rows)
            got = features_digest(feats)
            written = sum(int(r["n_features"]) for r in rows)
            ok = ck.expect("osm_features", got)
            ok = ck.expect("osm_features.relations", rings_digest(feats, self.relation_ids)) and ok
            self._checked(ck.invariant("decoded geobuf features == written n_features", got[0] == written) and ok)
            self.blob_bytes += sum(len(r["geobuf"]) for r in rows)
            self.features += written

    def _corpus_curation(self) -> None:
        from lazyosm_spark.plans.lineage import CheckpointedPipeline

        tr, ck = self.tracer, self.check
        cdir = self._fresh_dir("corpus")
        if self._guard("corpus_curation", lambda: self.corpus_make(cdir)) is None:
            return
        stages = ("curate", "tokens", "pack")
        with tr.checking():
            outs = {
                s: digest(self.spark.read.parquet(os.path.join(cdir, "data", s)).drop("bucket"))
                for s in stages
            }
            ok = all([ck.expect(f"corpus_curation.{s}", v) for s, v in outs.items()])
            pipe = CheckpointedPipeline(self.spark, cdir, n_buckets=LINEAGE_BUCKETS)
            self._checked(ck.invariant("verify_stage", all(pipe.verify_stage(s) for s in stages)) and ok)
            self.files_written += sum(len(f) for _, _, f in os.walk(cdir))
