"""Seeded inputs for the benchmark.

Every input is a pure function of the seed's input set (``seed % 8``):
the same set writes the same bytes.  Inputs land under ``<out>/`` as
parquet and ``.osm.pbf`` shards, written with pyarrow and ``sources.pbf``
on the driver, so generation never touches Spark and is not part of any
timed or set-up figure.

Tables come from the repository's sf0.1 test data: ``data/sf0.1/`` holds
its ``lineitem`` keys, ``part`` keys, ``documents`` and ``embeddings``
(rows and values unchanged).  Input set ``k`` takes a contiguous slice:
``SIZES["orders"]`` orders from order-key rank ``k * n_orders // 8``
with all their line items, and likewise ``SIZES["parts"]`` parts and
``SIZES["documents"]`` documents from row ``k * n // 8`` of their
tables (the corpus job takes the first ``SIZES["corpus_documents"]``
of those); ``embeddings`` is used whole.  Images
and ``.osm.pbf`` shards are generated: the engine's image generator, and
its small fixture world plus an R2 node cloud.

Point and query panels use the same R2 low-discrepancy construction as
``bench.py`` (``lineitem_points`` / ``knn_panel``), shifted along the
sequence by ``r2_offset(k)``; set 0 has offset 0, so its panels equal
``bench.py``'s on the same tables row for row (``check_bench_parity``
asserts it).

The warm-up round runs on a smaller set of the same shape (``WARMUP``,
slices of input set 0), written once under its own directory.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
N_INPUT_SETS = 8
PHI, PHI2 = 0.7548776662466927, 0.5698402909980532  # R2 constants, as bench.py

# Input sizes.  Chosen so that a run (session start, warm-up round,
# measured pass, checks) fits the benchmark's per-run time budget on a
# 4-core host.
SIZES = {"orders": 15_000, "parts": 2_000, "documents": 1_000, "corpus_documents": 250,
         "images": 150, "pbf_nodes": 4_000}
WARMUP = {"orders": 500, "parts": 200, "documents": 60, "corpus_documents": 60,
          "images": 40, "pbf_nodes": 600}


def r2_offset(input_set: int) -> int:
    """Shift along the R2 sequence for an input set (0 for set 0)."""
    return int(input_set) * 7919


def label(sizes: dict[str, int] = SIZES) -> str:
    """Canonical input label, e.g. ``sf0.1[orders=15000,parts=2000,
    documents=1000,corpus_documents=250],images=150,pbf_nodes=4000``."""
    tables = ",".join(f"{k}={sizes[k]}" for k in ("orders", "parts", "documents", "corpus_documents"))
    return f"sf0.1[{tables}],images={sizes['images']},pbf_nodes={sizes['pbf_nodes']}"


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(out: str, input_set: int, sizes: dict[str, int]) -> None:
    """This set's slices of sf0.1 lineitem/part/documents (the corpus job
    reads the first ``corpus_documents`` of the documents slice), and the
    whole embeddings table."""
    li = pq.read_table(os.path.join(DATA, "lineitem.parquet"))  # sorted by order key
    keys = np.unique(li["l_orderkey"].to_numpy())
    lo = keys[input_set * (len(keys) // N_INPUT_SETS)]
    hi = keys[input_set * (len(keys) // N_INPUT_SETS) + sizes["orders"] - 1]
    ok = li["l_orderkey"].to_numpy()
    a, b = np.searchsorted(ok, lo, "left"), np.searchsorted(ok, hi, "right")
    _write(os.path.join(out, "lineitem.parquet"), li.slice(a, b - a))
    part = pq.read_table(os.path.join(DATA, "part.parquet"))
    _write(os.path.join(out, "part.parquet"),
           part.slice(input_set * (part.num_rows // N_INPUT_SETS), sizes["parts"]))
    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    docs = docs.slice(input_set * (docs.num_rows // N_INPUT_SETS), sizes["documents"])
    _write(os.path.join(out, "documents.parquet"), docs)
    _write(os.path.join(out, "corpus_documents.parquet"), docs.slice(0, sizes["corpus_documents"]))
    _write(os.path.join(out, "embeddings.parquet"), pq.read_table(os.path.join(DATA, "embeddings.parquet")))


def write_images(out: str, input_set: int, n: int) -> None:
    """Image table (IMAGE_SCHEMA) for ids offset by the set, built with
    the engine's own generator function on the driver."""
    from lazyosm_spark.sources.images import gen_images_batches_fn

    start = r2_offset(input_set)
    ids = pd.DataFrame({"id": np.arange(start, start + n, dtype=np.int64)})
    pdf = pd.concat(list(gen_images_batches_fn(1)(iter([ids]))), ignore_index=True)
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )
    os.makedirs(os.path.join(out, "images"), exist_ok=True)
    # several files so the decode scan fans out to more than one task
    for j, part in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        _write(
            os.path.join(out, "images", f"part-{j}.parquet"),
            pa.Table.from_pandas(pdf.iloc[part], schema=schema, preserve_index=False),
        )


def pbf_world(input_set: int, n_nodes: int) -> dict[str, pd.DataFrame]:
    """The OSM entities of a set: the engine's small fixture world
    (relations with holes, split rings, open and closed ways) translated
    by a seeded whole-degree longitude shift, plus an R2 node cloud."""
    from lazyosm_spark.sources.fixtures import build_world

    rng = np.random.default_rng([input_set, 2])
    world = build_world("small")
    # wrapped; qlon is in 1e-7 degrees, and every way ring lies within
    # |lon| < 171, so no ring crosses +-180
    shift = int(rng.integers(-8, 9)) * 10_000_000
    wn = world["nodes"][["id", "qlon", "qlat", "tags"]].copy()
    wn["qlon"] = (wn["qlon"] + shift + 1_800_000_000) % 3_600_000_000 - 1_800_000_000
    base = int(wn["id"].max()) + 1
    i = np.arange(n_nodes, dtype=np.int64) + r2_offset(input_set)
    f = i.astype(np.float64)
    vol = pd.DataFrame(
        {
            "id": np.arange(base, base + n_nodes, dtype=np.int64),
            "qlon": np.round((-180 + 360 * ((f * PHI) % 1.0)) * 1e7).astype(np.int64),
            "qlat": np.round((-85 + 170 * ((f * PHI2) % 1.0)) * 1e7).astype(np.int64),
            "tags": [
                {"highway": "primary", "name": f"v{k}"} if k % 10 < 6 else {}
                for k in i.tolist()
            ],
        }
    )
    nodes = pd.concat([wn, vol], ignore_index=True).sort_values("id")
    return {"nodes": nodes, "ways": world["ways"], "relations": world["relations"]}


def write_pbf(out: str, input_set: int, n_nodes: int) -> int:
    """``.osm.pbf`` shards of ``pbf_world``; returns the entity count."""
    from lazyosm_spark.sources import pbf

    w = pbf_world(input_set, n_nodes)
    d = os.path.join(out, "pbf")
    os.makedirs(d, exist_ok=True)
    for si, idx in enumerate(np.array_split(np.arange(len(w["nodes"])), 2)):
        pbf.write_pbf_shard(os.path.join(d, f"n{si}.osm.pbf"), nodes=w["nodes"].iloc[idx])
    pbf.write_pbf_shard(os.path.join(d, "w.osm.pbf"), ways=w["ways"])
    pbf.write_pbf_shard(os.path.join(d, "r.osm.pbf"), relations=w["relations"])
    return len(w["nodes"]) + len(w["ways"]) + len(w["relations"])


def write_skew_points(out: str, input_set: int) -> None:
    """bench.py's q8 hot-tile skew world over this set's points: the
    point cloud x4, 35% of the points remapped into the first
    resolution-3 tile of the pyramid."""
    from lazyosm_spark.sources.fixtures import gen_tiles

    li = pq.read_table(os.path.join(out, "lineitem.parquet")).to_pandas()
    pid = li["l_orderkey"].to_numpy() * 8 + li["l_linenumber"].to_numpy()
    i = (pid + r2_offset(input_set)).astype(np.float64)
    pid4 = (pid[:, None] * 4 + np.arange(4)[None, :]).ravel()
    lon = np.repeat(-180.0 + 360.0 * (i * PHI - np.floor(i * PHI)), 4)
    lat = np.repeat(-85.0 + 170.0 * (i * PHI2 - np.floor(i * PHI2)), 4)
    tiles = gen_tiles()
    hot = tiles[tiles["resolution"] == 3].iloc[0]
    nx = 1 << int(hot["resolution"])
    hx = (int(hot["tile_id"]) >> 29) & ((1 << 29) - 1)
    hy = int(hot["tile_id"]) & ((1 << 29) - 1)
    lon0, lat0 = hx / nx * 360.0 - 180.0, hy / nx * 180.0 - 90.0
    dlon, dlat = 360.0 / nx, 180.0 / nx
    j = pid4.astype(np.float64)
    hot_rows = pid4 % 100 < 35
    lon = np.where(hot_rows, lon0 + 0.02 * dlon + (j * PHI - np.floor(j * PHI)) * (0.96 * dlon), lon)
    lat = np.where(hot_rows, lat0 + 0.02 * dlat + (j * PHI2 - np.floor(j * PHI2)) * (0.96 * dlat), lat)
    _write(
        os.path.join(out, "skew_points.parquet"),
        pa.table({"point_id": pid4.astype(np.int64), "lon": lon, "lat": lat}),
    )


def points(spark, sf_dir: str, input_set: int):
    """``bench.lineitem_points`` shifted by ``r2_offset(input_set)``."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    pid = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    i = (pid + F.lit(r2_offset(input_set))).cast("double")
    return li.select(
        pid.alias("point_id"),
        (F.lit(-180.0) + 360.0 * (i * PHI - F.floor(i * PHI))).alias("lon"),
        (F.lit(-85.0) + 170.0 * (i * PHI2 - F.floor(i * PHI2))).alias("lat"),
    )


def queries(spark, sf_dir: str, input_set: int):
    """``bench.knn_panel`` shifted by ``r2_offset(input_set)``."""
    from pyspark.sql import functions as F

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    i = (F.col("p_partkey") + F.lit(r2_offset(input_set))).cast("double")
    return part.select(
        F.col("p_partkey").alias("query_id"),
        (F.lit(-180.0) + 360.0 * (i * PHI - F.floor(i * PHI))).alias("lon"),
        (F.lit(-85.0) + 170.0 * (i * PHI2 - F.floor(i * PHI2))).alias("lat"),
    )


def n_rows(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


def check_bench_parity(spark, sf_dir: str) -> None:
    """Set 0's panels equal bench.py's ``lineitem_points`` and
    ``knn_panel`` row for row on the same tables; raises otherwise."""
    import bench

    for name, ours, theirs in (
        ("lineitem_points", points(spark, sf_dir, 0), bench.lineitem_points(spark, sf_dir)),
        ("knn_panel", queries(spark, sf_dir, 0), bench.knn_panel(spark, sf_dir)),
    ):
        if ours.exceptAll(theirs).count() or theirs.exceptAll(ours).count():
            raise AssertionError(f"input set 0 {name} differs from bench.py's")


def generate(out: str, input_set: int, sizes: dict[str, int] = SIZES) -> int:
    """Write every input of ``input_set`` at ``sizes`` under ``out``
    (idempotent: a ``_DONE`` stamp naming the sizes skips regeneration).
    Returns the PBF entity count."""
    done = os.path.join(out, "_DONE")
    stamp = label(sizes)
    if os.path.exists(done):
        with open(done) as f:
            lines = f.read().splitlines()
        if lines and lines[0] == stamp:
            return int(lines[1])
    os.makedirs(out, exist_ok=True)
    write_tables(out, input_set, sizes)
    write_skew_points(out, input_set)
    write_images(out, input_set, sizes["images"])
    n_entities = write_pbf(out, input_set, sizes["pbf_nodes"])
    with open(done, "w") as f:
        f.write(f"{stamp}\n{n_entities}\n")
    return n_entities
