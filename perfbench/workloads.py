"""The benchmark's workloads: inputs made from the seed, the operators
each pass calls, and how each operator's output is checked.

An ``Op`` is one public call into the engine.  ``build`` makes the
call and returns what it returned (a DataFrame, or a writer's input);
the timed action is the ``noop`` sink, which executes every column the
plan produces, or, for writers, ``write`` into a fresh directory.  The
check pass runs ``value`` instead of the timed action and ``check``
compares that value with a reference computed outside the engine.
"""

from __future__ import annotations

import os
import sqlite3
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import checks, datagen

# Page keys wrap modulo 2^31 in the coordinate LCG; every seed gets its
# own disjoint slice of that range.
PAGE_SLICE = 2_000_000


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    value: Callable[..., Any]
    check: Callable[[Any], list[str]]
    write: Callable[[Any, str], Any] | None = None
    # no exact reference exists: the check pass runs twice and both
    # values must agree
    repeat: bool = False


@dataclass
class Workload:
    name: str
    ops: list[Op]
    # units of work per pass (pages, or operator calls): items_per_s,
    # printed with the wall time, is items / iter_s
    items: float


def _expect(problems: list[str], ok: bool, what: str) -> None:
    if not ok:
        problems.append(what)


# --- pages: the read path ---------------------------------------------

PAGES_SIZES = {
    "full": {"geocode": 40_000, "join": 300_000, "knn": 150_000,
             "pyramid": 60_000, "density": 40_000, "points": 20_000},
    "tiny": {"geocode": 2_000, "join": 5_000, "knn": 5_000,
             "pyramid": 5_000, "density": 3_000, "points": 2_000},
}


def read_ops(spark, n: dict, start: int) -> list[Op]:
    """Geocode, spatial join, kNN and pyramid over pages
    [start, start + n[op])."""
    from gdal_spark.operators.knn import knn_cells
    from gdal_spark.operators.spatial_join import (
        spatial_join_points_in_polygons,
    )
    from gdal_spark.operators.tiling import build_pyramid
    from gdal_spark.sources.pages import (
        CITIES, coords_for_index, pages_coords_df, pages_df,
        with_extracted_geo,
    )
    from gdal_spark.sources.polygons import poly_fixture_pdf

    polys = poly_fixture_pdf()
    targets = pd.DataFrame({
        "target_id": np.arange(len(CITIES), dtype=np.int64),
        "t_lon": [c[0] for c in CITIES],
        "t_lat": [c[1] for c in CITIES],
    })

    def coords(k: int):
        return coords_for_index(np.arange(start, start + k))

    def check_geocode(v) -> list[str]:
        lon, lat = coords(n["geocode"])
        p: list[str] = []
        _expect(p, v["n"] == n["geocode"], f"rows {v['n']}")
        _expect(p, v["bad"] == 0, f"{v['bad']} pages decoded wrong")
        _expect(p, abs(v["sum_lat"] - lat.sum()) <= 1e-6 * len(lat),
                "geo_lat sum")
        return p

    def check_join(v) -> list[str]:
        lon, lat = coords(n["join"])
        got = dict(zip(v["fid"], v["count"]))
        want = {}
        for fid, wkb in zip(polys["fid"], polys["geometry"]):
            k = int(checks.points_in_polygon(
                lon, lat, checks.polygon_rings(wkb)).sum())
            if k:
                want[int(fid)] = k
        return [] if got == want else [f"per-polygon counts {got} != {want}"]

    def check_knn(v) -> list[str]:
        lon, lat = coords(n["knn"])
        d = checks.haversine_m(lon[:, None], lat[:, None],
                               targets["t_lon"].to_numpy()[None, :],
                               targets["t_lat"].to_numpy()[None, :])
        ids, cnt = np.unique(d.argmin(axis=1), return_counts=True)
        want = dict(zip(ids.tolist(), cnt.tolist()))
        got = dict(zip(v["target_id"], v["count"]))
        return [] if got == want else [f"nearest-city counts {got} != {want}"]

    def check_pyramid(v) -> list[str]:
        lon, lat = coords(n["pyramid"])
        want = checks.tile_counts(lon, lat, 8, range(4, 9))
        z4 = v["z4"]
        mass = sum(int(checks.tile_array(d, t, s).sum()) for d, t, s in
                   zip(z4["data"], z4["dtype"], z4["tile_size"]))
        p: list[str] = []
        _expect(p, v["tiles"] == want,
                f"tiles per zoom {v['tiles']} != {want}")
        _expect(p, mass == n["pyramid"],
                f"z4 mass {mass} != {n['pyramid']} pages")
        return p

    def geocode_value(df):
        r = df.agg(
            F.count("*").alias("n"),
            F.sum("geo_lat").alias("sum_lat"),
            F.sum((F.col("geo_lat").isNull()
                   | (F.abs(F.col("geo_lat") - F.col("lat")) > 5.000001e-7)
                   | (F.abs(F.col("geo_lon") - F.col("lon")) > 5.000001e-7)
                   ).cast("int")).alias("bad"),
        ).collect()[0]
        return r.asDict()

    def pyramid_value(df):
        per_zoom = df.groupBy("zoom").count().toPandas()
        z4 = df.filter(F.col("zoom") == 4) \
            .select("data", "dtype", "tile_size").toPandas()
        return {"tiles": dict(zip(per_zoom["zoom"].astype(int).tolist(),
                                  per_zoom["count"].astype(int).tolist())),
                "z4": z4}

    def counts(col):
        def value(df):
            pdf = df.groupBy(col).count().toPandas()
            return {col: pdf[col].astype(int).tolist(),
                    "count": pdf["count"].astype(int).tolist()}
        return value

    return [
        Op("sources.pages.geocode",
           lambda: with_extracted_geo(pages_df(spark, n["geocode"],
                                               start=start)),
           geocode_value, check_geocode),
        Op("operators.spatial_join",
           lambda: spatial_join_points_in_polygons(
               spark, pages_coords_df(spark, n["join"], start=start),
               polys, res=7),
           counts("fid"), check_join),
        Op("operators.knn",
           lambda: knn_cells(pages_coords_df(spark, n["knn"], start=start),
                             targets, k=1, res=4),
           counts("target_id"), check_knn),
        Op("operators.tiling.pyramid",
           lambda: build_pyramid(
               pages_coords_df(spark, n["pyramid"], start=start),
               base_zoom=8, min_zoom=4, codec="deflate"),
           pyramid_value, check_pyramid),
    ]


# --- pages: the write path --------------------------------------------


def _point_wkb_frame(spark, n: int, start: int):
    """(fid, geometry) little-endian WKB points of pages
    [start, start + n), encoded on the driver."""
    from gdal_spark.sources.pages import coords_for_index

    lon, lat = coords_for_index(np.arange(start, start + n))
    arr = np.empty(n, dtype=[("hdr", "S5"), ("x", "<f8"), ("y", "<f8")])
    arr["hdr"] = b"\x01\x01\x00\x00\x00"
    arr["x"], arr["y"] = lon, lat
    raw = arr.tobytes()
    pdf = pd.DataFrame({
        "fid": np.arange(start, start + n, dtype=np.int64),
        "geometry": [raw[i * 21:(i + 1) * 21] for i in range(n)],
    })
    return spark.createDataFrame(pdf)


def _files(root: str, suffix: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs if f.endswith(suffix))


def write_ops(spark, n: dict, start: int) -> list[Op]:
    """Density tiles of pages [start, start + n["density"]) through the
    PNG and GeoPackage tile writers; WKB points of the first
    ``n["points"]`` pages through the MVT and FlatGeobuf writers."""
    from gdal_spark.operators.tiling import page_density_tiles, write_tiles
    from gdal_spark.sources.flatgeobuf import (
        read_flatgeobuf, write_flatgeobuf,
    )
    from gdal_spark.sources.geopackage import write_gpkg_tiles
    from gdal_spark.sources.mvt import write_mvt
    from gdal_spark.sources.pages import coords_for_index, pages_coords_df

    state: dict = {}
    points = _point_wkb_frame(spark, n["points"], start)
    fid_sum = int(np.arange(start, start + n["points"]).sum())

    def density_build():
        if "density" in state:
            state["density"].unpersist()
        state["density"] = page_density_tiles(
            pages_coords_df(spark, n["density"], start=start), zoom=4,
            codec="deflate").persist()
        return state["density"]

    def density_value(df):
        return df.select("data", "dtype", "tile_size").toPandas()

    def check_density(pdf) -> list[str]:
        arrs = [checks.tile_array(d, t, s) for d, t, s in
                zip(pdf["data"], pdf["dtype"], pdf["tile_size"])]
        mass = int(sum(a.sum() for a in arrs))
        # the tile writers' reference: Byte-clipped pixels of the input
        state["tiles"] = len(arrs)
        state["png_sum"] = int(sum(np.clip(a, 0, 255).sum() for a in arrs))
        lon, lat = coords_for_index(np.arange(start, start + n["density"]))
        want = checks.tile_counts(lon, lat, 4, [4])[4]
        p: list[str] = []
        _expect(p, len(arrs) == want, f"z4 tiles {len(arrs)} != {want}")
        _expect(p, mass == n["density"],
                f"mass {mass} != {n['density']} pages")
        return p

    def tile_problems(blobs: list[bytes]) -> list[str]:
        total = int(sum(checks.png_pixels(b).sum() for b in blobs))
        p: list[str] = []
        _expect(p, len(blobs) == state["tiles"],
                f"{len(blobs)} tiles written, {state['tiles']} in the input")
        _expect(p, total == state["png_sum"],
                f"decoded sum {total} != {state['png_sum']}")
        return p

    def check_png(v) -> list[str]:
        out, _ = v
        return tile_problems([open(f, "rb").read()
                              for f in _files(out, ".png")])

    def check_gpkg(v) -> list[str]:
        out, returned = v
        con = sqlite3.connect(os.path.join(out, "pyr.gpkg"))
        try:
            blobs = [r[0] for r in con.execute("SELECT tile_data FROM tiles")]
        finally:
            con.close()
        p = tile_problems(blobs)
        _expect(p, returned == len(blobs), f"writer returned {returned}")
        return p

    def check_mvt(v) -> list[str]:
        out, stats = v
        files = _files(out, ".pbf")
        ids = [i for f in files
               for i in checks.mvt_feature_ids(open(f, "rb").read())]
        p: list[str] = []
        _expect(p, len(files) == stats["tiles"],
                f"{len(files)} files, writer reported {stats['tiles']}")
        _expect(p, len(ids) == n["points"],
                f"{len(ids)} features != {n['points']} points")
        _expect(p, sum(ids) == fid_sum, "feature id sum")
        return p

    def check_fgb(v) -> list[str]:
        out, _ = v
        r = read_flatgeobuf(spark, out).agg(
            F.count("*").alias("n"), F.sum("fid").alias("fid_sum")
        ).collect()[0]
        p: list[str] = []
        _expect(p, bool(_files(out, ".fgb")), "no part files")
        _expect(p, r["n"] == n["points"], f"{r['n']} features read back")
        _expect(p, r["fid_sum"] == fid_sum, "fid sum")
        return p

    def written(out, returned):
        return out, returned

    return [
        # its noop action fills the persisted tiles the writers read
        Op("operators.tiling.density", density_build, density_value,
           check_density),
        Op("operators.tiling.png", lambda: state["density"], written,
           check_png,
           write=lambda df, out: write_tiles(df, out, convention="xyz",
                                             format="png")),
        Op("sources.geopackage.tiles", lambda: state["density"],
           written, check_gpkg,
           write=lambda df, out: write_gpkg_tiles(
               df, os.path.join(out, "pyr.gpkg"), format="png")),
        Op("sources.mvt", lambda: points, written, check_mvt,
           write=lambda df, out: write_mvt(df, out, minzoom=6, maxzoom=6,
                                           buffer=0)),
        Op("sources.flatgeobuf", lambda: points, written, check_fgb,
           write=lambda df, out: write_flatgeobuf(df, out, mode="parts")),
    ]


def pages(spark, seed: int, size: str, work: str) -> Workload:
    n = PAGES_SIZES[size]
    start = (seed % 1000) * PAGE_SLICE
    # every op reads pages; the two vector writers share one input
    return Workload("pages",
                    read_ops(spark, n, start) + write_ops(spark, n, start),
                    float(sum(n.values()) + n["points"]))


# --- corpus_query --------------------------------------------------------

def oracle_frame(sf_dir: str, sql: str) -> pd.DataFrame:
    """An oracle query run by DuckDB over the generated tables,
    normalized as the repository's oracle gate does."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import normalize

    con = duckdb.connect()
    try:
        for t in entry.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        return normalize(con.execute(sql).df())
    finally:
        con.close()


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    from tools.check_oracles import normalize

    got = normalize(got)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return [f"{len(got)} rows {list(got.columns)} vs"
                f" {len(want)} rows {list(want.columns)}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=True,
                                      check_exact=True)
    except AssertionError as e:
        return [f"values differ: {str(e)[:200]}"]
    return []


def corpus_ops(spark, sf_dir: str, docs_pdf: pd.DataFrame,
               exact_dup_of: np.ndarray, emb_pdf: pd.DataFrame) -> list[Op]:
    """MinHash, SimHash, embedding-LSH dedup and duplicate-passage stats
    over the generated ``documents`` / ``embeddings`` tables."""
    import __spark_entry__ as entry
    from gdal_spark.functions.text import duplicate_passage_stats
    from gdal_spark.operators.dedup import (
        minhash_lsh_dedup, simhash_candidates, simhash_signatures,
    )
    from gdal_spark.operators.similarity import embedding_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_docs, n_vecs = len(docs_pdf), len(emb_pdf)
    dup_pairs = {(int(s), int(i)) for i, s in enumerate(exact_dup_of)
                 if s >= 0}

    def keys(col):
        return lambda df: sorted(df.select(col).toPandas()[col].tolist())

    def check_minhash(v) -> list[str]:
        kept = set(v)
        missed = sorted(b for _, b in dup_pairs if b in kept)
        p: list[str] = []
        _expect(p, 0 < len(kept) < n_docs, f"{len(kept)} survivors")
        _expect(p, not missed, f"exact copies kept: {missed[:5]}")
        return p

    def simhash_value(df):
        pairs = df.toPandas()
        sigs = simhash_signatures(docs).select("doc_id", "simhash") \
            .toPandas()
        return {"pairs": sorted(zip(pairs["a"].tolist(),
                                    pairs["b"].tolist())),
                "sigs": sigs}

    def check_simhash(v) -> list[str]:
        got = set(v["pairs"])
        want = checks.simhash_band_pairs(v["sigs"]["doc_id"].to_numpy(),
                                         v["sigs"]["simhash"].to_numpy(), 4)
        p: list[str] = []
        _expect(p, got == want,
                f"{len(got)} candidate pairs, {len(want)} expected")
        _expect(p, dup_pairs <= got, "exact copies not paired")
        return p

    def check_embedding(v) -> list[str]:
        vecs = np.stack(emb_pdf["embedding"].to_numpy()).astype(np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        cos = np.triu(vecs @ vecs.T, k=1)
        exact_dropped = set(np.flatnonzero((cos >= 0.95).any(axis=0))
                            .tolist())
        dropped = set(range(n_vecs)) - set(v)
        p: list[str] = []
        _expect(p, bool(dropped), "no near-duplicate dropped")
        _expect(p, dropped <= exact_dropped,
                f"{len(dropped - exact_dropped)} rows dropped without a"
                " near-duplicate")
        return p

    return [
        Op("operators.dedup.minhash", lambda: minhash_lsh_dedup(docs),
           keys("doc_id"), check_minhash, repeat=True),
        Op("operators.dedup.simhash",
           lambda: simhash_candidates(simhash_signatures(docs)),
           simhash_value, check_simhash),
        Op("operators.similarity.embedding_dedup",
           lambda: embedding_dedup(emb, 0.95, method="lsh"),
           keys("vec_id"), check_embedding, repeat=True),
        Op("functions.text.dup_passages",
           lambda: duplicate_passage_stats(docs, window=8),
           lambda df: df.toPandas(),
           lambda v: frame_problems(v, oracle_frame(
               sf_dir, entry._dup_passages_oracle()))),
    ]


# declared query -> the engine module it enters (per-layer roll-up key)
QUERY_MODULES = {
    "q26_ogr_sql_dialect": "sql",
    "q28_pipeline": "plans",
    "q89_stream_density_pyramid": "streaming",
    "q62_gpkg_roundtrip": "sources",
    "q55_ngram_jaccard": "operators",
}


def query_ops(spark, sf_dir: str) -> list[Op]:
    """Declared ``queries()``, each checked against its ``oracle_sql()``
    on DuckDB."""
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    return [Op(f"{module}.{q}", lambda q=q: queries[q](spark, sf_dir),
               lambda df: df.toPandas(),
               lambda v, q=q: frame_problems(
                   v, oracle_frame(sf_dir, oracles[q])))
            for q, module in QUERY_MODULES.items()]


CORPUS_SIZES = {"full": {"scale": 0.005, "docs": 250, "vecs": 1000},
                "tiny": {"scale": 0.001, "docs": 80, "vecs": 150}}


def corpus_query(spark, seed: int, size: str, work: str) -> Workload:
    n = CORPUS_SIZES[size]
    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(work, "sf")
    tables = datagen.relational_tables(rng, n["scale"])
    tables["documents"], exact_dup_of = datagen.documents_pdf(rng,
                                                              n["docs"])
    tables["embeddings"] = datagen.embeddings_pdf(rng, n["vecs"])
    for t, pdf in tables.items():
        datagen.write_parquet(pdf, os.path.join(sf_dir, f"{t}.parquet"))
    ops = query_ops(spark, sf_dir) + corpus_ops(
        spark, sf_dir, tables["documents"], exact_dup_of,
        tables["embeddings"])
    ops = [ops[i] for i in rng.permutation(len(ops))]
    return Workload("corpus_query", ops, float(len(ops)))


WORKLOADS = {"pages": pages, "corpus_query": corpus_query}
