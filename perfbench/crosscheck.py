"""Cross-check recorded outputs against independent oracles.

    python3 perfbench/crosscheck.py [INPUT_SET ...]     (default: all 8)

Run from the root of a source checkout after ``run.py --record``.  For
each input set, the oracle's rows are reduced with the benchmark's own
digest functions; the result must equal the value recorded in
expected.json.

``operator_panel``:

- ``way_node_assembly``, ``cosine_topk``, ``minhash_lsh``: the DuckDB
  twins in ``plans.driver_queries.ORACLES`` over the input tables;
- ``grid_knn`` (and so ``grid_knn_repeat``): numpy brute force, top 5 by
  (distance, neighbor id) as ``knn_brute`` ranks;
- ``spatial_join`` and ``skew_join`` (and so ``skew_join_salted``): the
  scalar point-in-polygon of ``tests/oracle`` (no engine code) over
  every point in each tile's bounding box.

``jobs``:

- ``osm_features.relations``: every multipolygon relation assembled by
  the scalar ring connect / round / nest of ``tests/oracle`` from the
  entities written to the ``.osm.pbf`` shards;
- ``corpus_curation.tokens``: ``tests/oracle/bpe_ref.encode`` of the
  clean text of the curate stage (whose digest must equal the recorded
  ``corpus_curation.curate``; curation itself has no independent oracle).

Not cross-checked (recorded from the engine alone): ``knn_prepare``, the
image_tiling stages, the full geobuf feature digest ``osm_features``
(node and way features), and ``corpus_curation.curate`` / ``.pack``.

Exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [ROOT, HERE]

from workloads import polygons_e6  # noqa: E402


def pip_members(pip, points, tiles) -> list[tuple]:
    """(point_id, tile_id, resolution) for every point inside a tile's
    ring, by the scalar oracle, over the points in the ring's bbox."""
    import numpy as np

    ids = points["point_id"].to_numpy()
    xy = points[["lon", "lat"]].to_numpy()
    out = []
    for tid, res, ring in tiles[["tile_id", "resolution", "ring"]].itertuples(index=False):
        poly = [tuple(p) for p in ring]
        xs, ys = [p[0] for p in poly], [p[1] for p in poly]
        box = ((xy[:, 0] >= min(xs)) & (xy[:, 0] <= max(xs))
               & (xy[:, 1] >= min(ys)) & (xy[:, 1] <= max(ys)))
        out += [(int(ids[j]), int(tid), int(res)) for j in np.nonzero(box)[0]
                if pip(poly, (xy[j, 0], xy[j, 1]))]
    return out


def panel_oracles(spark, inputs: str, s: int) -> dict[str, tuple]:
    """name -> (output schema, oracle rows as pandas)."""
    import duckdb
    import numpy as np
    import pandas as pd

    import gen
    from lazyosm_spark.operators.knn import grid_knn
    from lazyosm_spark.operators.spatial_join import tile_points
    from lazyosm_spark.plans import driver_queries as dq
    from lazyosm_spark.sources.fixtures import gen_tiles
    from tests.oracle.reference_oracle import pip

    con = duckdb.connect()
    for t in ("lineitem", "part", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    oracles: dict[str, tuple] = {}
    for name, q, key in (("way_node_assembly", dq.QUERIES["way_node_assembly"], "way_node_assembly"),
                         ("cosine_topk", dq.QUERIES["cosine_topk"], "cosine_topk"),
                         ("minhash_lsh", dq.FIXTURE_QUERIES["fx_minhash_lsh_pairs"], "fx_minhash_lsh_pairs")):
        oracles[name] = (q(spark, inputs).schema, con.sql(dq.ORACLES[key]).df())

    pts = gen.points(spark, inputs, s).toPandas()
    qs = gen.queries(spark, inputs, s).toPandas()
    P = pts[["lon", "lat"]].to_numpy()
    rows = []
    for qi, qlon, qlat in qs[["query_id", "lon", "lat"]].itertuples(index=False):
        d2 = (qlon - P[:, 0]) * (qlon - P[:, 0]) + (qlat - P[:, 1]) * (qlat - P[:, 1])
        cand = np.argpartition(d2, 40)[:41]
        order = sorted(cand, key=lambda j: (d2[j], pts["point_id"].iat[j]))[:5]
        rows += [(int(qi), int(pts["point_id"].iat[j]), r + 1, float(np.sqrt(d2[j])))
                 for r, j in enumerate(order)]
    knn_schema = grid_knn(gen.queries(spark, inputs, s), gen.points(spark, inputs, s),
                          k=5, n_points=len(pts), n_queries=len(qs)).schema
    oracles["grid_knn"] = (knn_schema, pd.DataFrame(rows, columns=knn_schema.names))

    tiles = gen_tiles()
    sj_schema = tile_points(gen.points(spark, inputs, s), spark.createDataFrame(tiles)).schema
    skew = pd.read_parquet(os.path.join(inputs, "skew_points.parquet"))
    for name, frame in (("spatial_join", pts), ("skew_join", skew)):
        oracles[name] = (sj_schema, pd.DataFrame(pip_members(pip, frame, tiles), columns=sj_schema.names))
    return oracles


def oracle_relations(world: dict) -> list[tuple]:
    """(osm_id, geom_type, polygons) of every multipolygon relation, by
    the scalar oracle: member ways' node coordinates (osmformat
    ``1e-9 * (offset + granularity * q)``, granularity 100, offset 0),
    ring connect, rounding to 6 places, then nesting."""
    from tests.oracle import reference_oracle as ro

    nodes = {int(i): ((0.0 + 100.0 * x) * 1e-9, (0.0 + 100.0 * y) * 1e-9)
             for i, x, y in world["nodes"][["id", "qlon", "qlat"]].itertuples(index=False)}
    ways = {int(w["id"]): list(w["refs"]) for w in world["ways"].to_dict("records")}
    out = []
    for rel in world["relations"].to_dict("records"):
        if dict(rel["tags"]).get("type") != "multipolygon":
            continue
        members: dict[str, list] = {"outer": [], "inner": []}
        for mid, role in zip(rel["memids"], rel["roles"]):
            if role in members and mid in ways:
                line = [nodes[n] for n in ways[mid] if n in nodes]
                if len(line) >= 2:
                    members[role].append(line)

        def rnd(ring):
            return [(ro.round_ref(x), ro.round_ref(y)) for x, y in ring]

        polys = ro.assemble([rnd(r) for r in ro.connect(members["outer"])],
                            [rnd(r) for r in ro.connect(members["inner"])])
        out.append((int(rel["id"]), "Polygon" if len(polys) == 1 else "MultiPolygon", polys))
    return out


def as_geobuf_decodes(polys) -> list:
    """Oracle polygons as the geobuf round trip returns them: micro-degree
    integers, and every ring closed (the decoder repeats a ring's first
    point; an oracle ring that does not end where it starts gains it)."""
    return [[r if r[0] == r[-1] else r + [r[0]] for r in poly] for poly in polygons_e6(polys)]


def oracle_tokens(spark, curate, schema):
    """The tokens stage rebuilt with the scalar BPE over the curate
    stage's clean text."""
    from tests.oracle import bpe_ref

    spec = bpe_ref.load_spec(os.path.join(ROOT, "lazyosm_spark", "resources", "bpe_merges.json"))
    rows = []
    for r in curate.select("doc_id", "lang", "clean_text").collect():
        ids = bpe_ref.encode(r["clean_text"], spec)
        rows.append({"doc_id": r["doc_id"], "lang": r["lang"], "token_ids": ids, "n_tokens": len(ids)})
    if set(schema.names) != set(rows[0]):
        raise AssertionError(f"tokens stage columns {schema.names} not rebuilt by the oracle")
    return spark.createDataFrame([tuple(r[c] for c in schema.names) for r in rows], schema=schema)


def main() -> int:
    os.environ["PYTHONPATH"] = ROOT

    import gen
    from jobs.corpus_make import run_pipeline
    from run import generate, host, inputs_dir, start_spark, stop_spark
    from workloads import LINEAGE_BUCKETS, digest, sha_lines

    sets = [int(a) for a in sys.argv[1:]] or list(range(gen.N_INPUT_SETS))
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    work = os.path.join(ROOT, ".bench_out", "perfbench", f"crosscheck-{os.getpid()}")
    h = host()
    spark = start_spark(work, h["nproc"], h["driver_memory"], False)
    bad = 0

    def report(s, name, got, rec):
        nonlocal bad
        ok = got == rec
        bad += not ok
        print(f"input set {s} {name}: oracle {got} recorded {rec} {'OK' if ok else 'MISMATCH'}")

    try:
        for s in sets:
            generate(s)
            inputs = inputs_dir(s)
            rec = expected["operator_panel"][str(s)]
            for name, (schema, pdf) in panel_oracles(spark, inputs, s).items():
                df = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None), schema=schema)
                report(s, name, digest(df), rec[name])

            rec = expected["jobs"][str(s)]
            world = gen.pbf_world(s, gen.SIZES["pbf_nodes"])
            rel = sha_lines(json.dumps([i, gt, as_geobuf_decodes(p)]) for i, gt, p in oracle_relations(world))
            report(s, "osm_features.relations", rel, rec["osm_features.relations"])

            out = os.path.join(work, f"corpus{s}")
            run_pipeline(spark, os.path.join(inputs, "corpus_documents.parquet"), out, n_buckets=LINEAGE_BUCKETS)
            curate = spark.read.parquet(os.path.join(out, "data", "curate")).drop("bucket")
            report(s, "corpus_curation.curate (oracle input)", digest(curate), rec["corpus_curation.curate"])
            tokens_schema = spark.read.parquet(os.path.join(out, "data", "tokens")).drop("bucket").schema
            report(s, "corpus_curation.tokens", digest(oracle_tokens(spark, curate, tokens_schema)),
                   rec["corpus_curation.tokens"])
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
