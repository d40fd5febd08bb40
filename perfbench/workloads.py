"""The four workloads: inputs, reference digest, timed iteration and
traced iteration of each.

Every workload calls the library through its public functions with the
library's defaults. Inputs come from the `sources.fixtures` document
generator for the given seed and are cached on disk outside any timed
region; the
reference digest each output is checked against is computed from those
inputs by an independent route (see `reference_ways`).
"""

from __future__ import annotations

import inspect
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from osm_hadoop_spark.config import BUFFER_DEG_Z13, MAX_GEOM_LENGTH_DEG
from osm_hadoop_spark.functions.geometry import format_linestring_wkt
from osm_hadoop_spark.functions.tiles import MAX_MERC_LAT
from osm_hadoop_spark.operators.rasterize import planar_length_col
from osm_hadoop_spark.operators.tile_join import assign_tiles, tile_counts
from osm_hadoop_spark.operators.way_assembly import (
    assemble_ways,
    build_ways_geom,
    join_node_coords,
    with_wkt,
)
from osm_hadoop_spark.plans.pipeline import planet_pipeline
from osm_hadoop_spark.sources import spans as S
from osm_hadoop_spark.sources.catalog import SnapshotCatalog
from osm_hadoop_spark.sources.fixtures import docs_pandas

# Input sizes. Each timed iteration is a full cold run of the chain, so a
# run of a few seconds holds several iterations only at these sizes.
DOCS = 10_000  # the cover workload's input is the ways of these documents
GEN_PARTITIONS = 4  # one parquet file per task slot

COVER_DEFAULT = inspect.signature(assign_tiles).parameters["cover_impl"].default
# The output check runs the cover kernel the library does NOT default to:
# the two kernels are oracle-pinned twins, so a wrong reference cannot
# agree with the timed path by sharing its bug.
COVER_TWIN = {"arrow": "jvm", "jvm": "arrow"}[COVER_DEFAULT]

_MASK = 0xFFFFFFFF  # low 32 bits per row keep the hash-sum inside a bigint


def tile_digest(counts) -> dict:
    """Order-independent digest of a tile_counts frame."""
    r = counts.agg(
        F.count(F.lit(1)),
        F.sum("n_ways"),
        F.sum(F.xxhash64("tile_id", "n_ways").bitwiseAND(_MASK)),
    ).collect()[0]
    return {"n_tiles": r[0], "n_pairs": int(r[1] or 0), "hash": int(r[2] or 0)}


def wkt_digest(ways) -> dict:
    """Order-independent digest of (way_id, geometry_wkt)."""
    r = ways.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64("way_id", "geometry_wkt").bitwiseAND(_MASK)),
    ).collect()[0]
    return {"n_ways": r[0], "hash": int(r[1] or 0)}


_DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


def ensure_documents(data_dir: str, n_docs: int, seed: int, skew: bool) -> str:
    """Write the interleaved-document table for (n_docs, seed, skew) once,
    one parquet file per task slot. Rows come from `docs_pandas`, the
    generator `gen_documents` maps over Spark partitions; called here in
    process it needs no JVM, so it runs while the JVM starts."""
    path = os.path.join(data_dir, f"documents-n{n_docs}-s{seed}{'-skew' if skew else ''}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for part, ids in enumerate(np.array_split(np.arange(n_docs), GEN_PARTITIONS)):
            pdf = docs_pandas(ids, n_docs, seed, skew)
            pq.write_table(
                pa.Table.from_pandas(pdf, schema=_DOCS_ARROW, preserve_index=False),
                os.path.join(tmp, f"part-{part:05d}.parquet"),
            )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def reference_ways(docs_path: str, tag_key: str | None = None) -> pd.DataFrame:
    """(way_id, xs, ys) assembled in plain Python from the documents files:
    json-decode every node and way span, keep ways carrying `tag_key`, and
    resolve each way's node refs in order, dropping ways left with fewer
    than 2 points. It shares no code with the Spark parse, J1 or J2."""
    nodes, ways = {}, []
    for spans in pq.read_table(docs_path, columns=["spans"]).column("spans").to_pylist():
        for s in spans:
            if s["kind"] == "osm.node":
                n = json.loads(s["text"])
                nodes[n["id"]] = (n["lon"], n["lat"])
            elif s["kind"] == "osm.way":
                w = json.loads(s["text"])
                if tag_key is None or tag_key in (w.get("tags") or {}):
                    ways.append((w["id"], w["nds"]))
    rows = []
    for wid, nds in ways:
        pts = [nodes[r] for r in nds if r in nodes]
        if len(pts) >= 2:
            rows.append((wid, [p[0] for p in pts], [p[1] for p in pts]))
    return pd.DataFrame(rows, columns=["way_id", "xs", "ys"])


_WAYS_ARROW = pa.schema([
    ("way_id", pa.int64()), ("xs", pa.list_(pa.float64())), ("ys", pa.list_(pa.float64())),
])


def ways_frame(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema="way_id bigint, xs array<double>, ys array<double>")


def ensure_cold(spark) -> None:
    """Clear Spark's cache and fail if any persisted frame survived it:
    build_ways_geom persists its entity frame on every call."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError("a cached plan survived clearCache()")
    if not jsc.getPersistentRDDs().isEmpty():
        raise RuntimeError("a persisted RDD survived clearCache()")


def entity_chain(docs, tag_keys):
    """build_ways_geom's body, one public call per layer, so the traced run
    can time each layer; its output digest is checked like the timed one."""
    ent = S.parse_entities(docs)
    if tag_keys:
        keys = F.array(*[F.lit(k) for k in tag_keys])
        ent = ent.filter(
            F.col("is_node") | F.exists(F.map_keys("tags"), lambda k: F.array_contains(keys, k))
        )
    ent = ent.persist(StorageLevel.MEMORY_AND_DISK)
    wf = ent.filter(~F.col("is_node")).select("way_id", "tags", "nds")
    nodes = ent.filter(F.col("is_node")).select("node_id", "lon", "lat")
    way_nodes = S.explode_way_nodes(wf)
    referenced = join_node_coords(nodes, way_nodes)
    ways_geom = assemble_ways(wf.select("way_id", "tags"), referenced)
    return {
        "spans": ent,
        "way_nodes": way_nodes,
        "way_assembly.join": referenced,
        "way_assembly.assemble": ways_geom,
    }


def trace_chain(spark, tracer, build, layers, sides=()):
    """Time each layer of a lazy chain from outside.

    For every layer in order: start from a cold cache, build the chain
    fresh, and materialize that layer's output inside its span. The span
    covers the previous layer's span, whose work its action re-executes,
    so self time = this span - the previous one. `sides` are extra
    (name, layer, after, build kwargs) spans timed the same way on top of
    layer `after`: the twin cover kernel (a variant of its layer), or a
    layer the chain itself does not run."""
    spans, prev = {}, None
    for layer in layers:
        ensure_cold(spark)
        with tracer.span(layer, layer, covers=[prev] if prev else []) as sp:
            tracer.materialize(sp, build()[layer])
        spans[layer] = prev = sp
    for name, layer, after, kw in sides:
        ensure_cold(spark)
        covers = [spans[after]] if after else []
        with tracer.span(name, layer, covers=covers, variant=name != layer) as sp:
            tracer.materialize(sp, build(**kw)[layer])
        spans[name] = sp
    ensure_cold(spark)
    return spans


def assign_accounting(ways, **assign_kw) -> dict:
    """Rows the assign layer drops, counted around its public call: ways
    whose envelope cover exceeds the max-cells guard get no candidate tile;
    ways wholly beyond the mercator latitude limit get candidates (clamped
    to the edge row) but no pair."""
    cand = assign_tiles(ways, refine=False, **assign_kw)
    n_in = ways.count()
    return {
        "candidate_rows": cand.count(),
        "dropped_max_cells": n_in - cand.select("way_id").distinct().count(),
        "dropped_out_of_projection": ways.filter(
            F.forall("ys", lambda y: F.abs(y) > F.lit(MAX_MERC_LAT))
        ).count(),
    }


def wkt_bytes(ways) -> int:
    return ways.agg(F.sum(F.octet_length("geometry_wkt"))).collect()[0][0]


def entity_accounting(docs, way_nodes, referenced, ways_geom) -> dict:
    """Rows parse, J1 and J2 drop, counted around their public calls."""
    kinds = S.exploded_spans(docs).filter(F.col("kind").isin("osm.node", "osm.way"))
    entity_spans = kinds.count()
    return {
        "spans.rows_in": entity_spans,
        "spans.dropped_malformed": entity_spans - S.parse_entities(docs).count(),
        "way_assembly.join.unresolved_refs": way_nodes.count() - referenced.count(),
        "way_assembly.assemble.dropped_lt2": (
            referenced.select("way_id").distinct().count() - ways_geom.count()
        ),
    }


class Workload:
    name = ""
    input_kind = "documents"
    chain_layers: tuple[str, ...] = ()
    side_spans: tuple = ()

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.reference = None
        self.input_rows = 0
        self.last_stage_s: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------
    def generate(self) -> None:
        """Write the inputs for this seed, once; needs no Spark session."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Compute the reference digest for this seed, once."""
        ref_path = os.path.join(self.data_dir, f"reference-{self.name}-s{self.seed}-n{DOCS}.json")
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                self.reference = json.load(f)
            return
        self.reference = self._reference(spark)
        with open(ref_path, "w") as f:
            json.dump(self.reference, f)

    def open(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_path)

    def reset(self) -> None:
        """Work done before each iteration, outside the timed region."""

    def env(self) -> dict:
        return {}

    # -- measured ----------------------------------------------------------
    def run(self, spark) -> dict:
        raise NotImplementedError

    def trace(self, spark, tracer) -> dict:
        """One traced iteration; returns its spans by name."""
        return trace_chain(spark, tracer, self._build, self.chain_layers, self.side_spans)


class FlagshipZ14(Workload):
    """documents -> build_ways_geom(highway) -> assign_tiles(z14, xyz) ->
    tile_counts: the reference's road-count chain; every layer works."""

    name = "flagship_z14"
    chain_layers = (
        "spans", "way_assembly.join", "way_assembly.assemble",
        "tile_join.assign", "tile_join.counts",
    )
    # WKT rendering is timed here too, so the wkt layer is measured on a
    # workload listed in BENCHMARK.json
    side_spans = (
        (f"tile_join.assign[{COVER_TWIN}]", "tile_join.assign", "way_assembly.assemble",
         {"cover_impl": COVER_TWIN}),
        ("geometry_sql.wkt", "geometry_sql.wkt", "way_assembly.assemble", {}),
    )

    def generate(self):
        self.docs_path = ensure_documents(self.data_dir, DOCS, self.seed, skew=False)
        self.input_rows = DOCS

    def _reference(self, spark):
        ways = ways_frame(spark, reference_ways(self.docs_path, "highway"))
        return tile_digest(tile_counts(assign_tiles(ways, zoom=14, tms=False, cover_impl=COVER_TWIN)))

    def plan(self, cover_impl=COVER_DEFAULT):
        wg = build_ways_geom(self.docs, tag_keys=["highway"])
        return tile_counts(assign_tiles(wg, zoom=14, tms=False, cover_impl=cover_impl))

    def run(self, spark):
        return tile_digest(self.plan())

    def _build(self, cover_impl=COVER_DEFAULT):
        c = entity_chain(self.docs, ["highway"])
        c["tile_join.assign"] = assign_tiles(
            c["way_assembly.assemble"], zoom=14, tms=False, cover_impl=cover_impl
        )
        c["tile_join.counts"] = tile_counts(c["tile_join.assign"])
        c["geometry_sql.wkt"] = with_wkt(c["way_assembly.assemble"])
        return c

    def accounting(self, spark) -> tuple[dict, dict]:
        c = self._build()
        for k in ("way_nodes", "way_assembly.join", "way_assembly.assemble"):
            c[k] = c[k].persist(StorageLevel.MEMORY_ONLY)
        counts = entity_accounting(
            self.docs, c["way_nodes"], c["way_assembly.join"], c["way_assembly.assemble"]
        )
        counts["geometry_sql.wkt.bytes_out"] = wkt_bytes(c["geometry_sql.wkt"])
        counts.update(
            {f"tile_join.assign.{k}": v for k, v in assign_accounting(
                c["way_assembly.assemble"], zoom=14, tms=False).items()}
        )
        digest = tile_digest(c["tile_join.counts"])
        ensure_cold(spark)
        return counts, digest


class AssembleWkt(Workload):
    """documents -> build_ways_geom() -> with_wkt: the reference's
    NodeJoiner->WayBuilder output. Parse, J1 and J2 do the work; no cover."""

    name = "assemble_wkt"
    chain_layers = ("spans", "way_assembly.join", "way_assembly.assemble", "geometry_sql.wkt")

    def generate(self):
        self.docs_path = ensure_documents(self.data_dir, DOCS, self.seed, skew=False)
        self.input_rows = DOCS

    def _reference(self, spark):
        pdf = reference_ways(self.docs_path)
        pdf["geometry_wkt"] = [format_linestring_wkt(x, y) for x, y in zip(pdf["xs"], pdf["ys"])]
        ref = spark.createDataFrame(
            pdf[["way_id", "geometry_wkt"]], schema="way_id bigint, geometry_wkt string"
        )
        return wkt_digest(ref)

    def run(self, spark):
        return wkt_digest(with_wkt(build_ways_geom(self.docs)))

    def _build(self):
        c = entity_chain(self.docs, None)
        c["geometry_sql.wkt"] = with_wkt(c["way_assembly.assemble"])
        return c

    def accounting(self, spark):
        c = self._build()
        for k in ("way_nodes", "way_assembly.join", "way_assembly.assemble", "geometry_sql.wkt"):
            c[k] = c[k].persist(StorageLevel.MEMORY_ONLY)
        counts = entity_accounting(
            self.docs, c["way_nodes"], c["way_assembly.join"], c["way_assembly.assemble"]
        )
        counts["geometry_sql.wkt.bytes_out"] = wkt_bytes(c["geometry_sql.wkt"])
        digest = wkt_digest(c["geometry_sql.wkt"])
        ensure_cold(spark)
        return counts, digest


class CoverZ13Buffered(Workload):
    """pre-assembled ways -> assign_tiles(z13, tms, buffered) -> tile_counts:
    the reference's z13 buffered path. The cover does nearly all the work."""

    name = "cover_z13_buffered"
    input_kind = "ways"
    chain_layers = ("tile_join.assign", "tile_join.counts")
    side_spans = (
        (f"tile_join.assign[{COVER_TWIN}]", "tile_join.assign", None, {"cover_impl": COVER_TWIN}),
    )

    def generate(self):
        self.ways_path = os.path.join(self.data_dir, f"ways-n{DOCS}-s{self.seed}")
        if not os.path.exists(os.path.join(self.ways_path, "_SUCCESS")):
            docs = ensure_documents(self.data_dir, DOCS, self.seed, skew=False)
            os.makedirs(self.ways_path, exist_ok=True)
            ways = pa.Table.from_pandas(reference_ways(docs), schema=_WAYS_ARROW, preserve_index=False)
            pq.write_table(ways, os.path.join(self.ways_path, "part-00000.parquet"))
            open(os.path.join(self.ways_path, "_SUCCESS"), "w").close()
        self.input_rows = pq.read_table(self.ways_path, columns=["way_id"]).num_rows

    def _reference(self, spark):
        ways = spark.read.parquet(self.ways_path)
        return tile_digest(tile_counts(self._assign(ways, COVER_TWIN)))

    @staticmethod
    def _assign(ways, cover_impl=COVER_DEFAULT):
        return assign_tiles(ways, zoom=13, tms=True, buffer_deg=BUFFER_DEG_Z13, cover_impl=cover_impl)

    def open(self, spark):
        self.ways = spark.read.parquet(self.ways_path)

    def plan(self, cover_impl=COVER_DEFAULT):
        return tile_counts(self._assign(self.ways, cover_impl))

    def run(self, spark):
        return tile_digest(self.plan())

    def _build(self, cover_impl=COVER_DEFAULT):
        assigned = self._assign(self.ways, cover_impl)
        return {"tile_join.assign": assigned, "tile_join.counts": tile_counts(assigned)}

    def accounting(self, spark):
        counts = {
            f"tile_join.assign.{k}": v
            for k, v in assign_accounting(
                self.ways, zoom=13, tms=True, buffer_deg=BUFFER_DEG_Z13).items()
        }
        return counts, tile_digest(self.plan())


# pipeline stage -> the layer whose public call builds it
STAGE_LAYER = {
    "nodes": "spans",
    "ways": "spans",
    "way_nodes": "way_assembly.join",
    "referenced": "way_assembly.join",
    "ways_geom": "way_assembly.assemble",
    "tile_assignments": "tile_join.assign",
    "tile_counts": "tile_join.counts",
}


class TracedCatalog(SnapshotCatalog):
    """SnapshotCatalog whose write is spanned from outside: the span of
    each write covers a child span that first materializes the stage's
    frame, so the write's self time is the snapshot I/O alone."""

    def __init__(self, spark, root, tracer, docs_path):
        super().__init__(spark, root)
        self.tracer = tracer
        self.docs_path = docs_path
        self.records = []
        self.documents_scans = 0

    def write(self, df, table, partition_by=None, bucket_by=None):
        if any(self.docs_path in f for f in df.inputFiles()):
            self.documents_scans += 1
        with self.tracer.span(f"catalog.write[{table}]", "catalog", output=False) as w:
            # way_nodes feeds J1 but is not its output
            with self.tracer.span(table, STAGE_LAYER[table], output=table != "way_nodes") as c:
                self.tracer.materialize(c, df)
            w.covers.append(c.id)
            rec = super().write(df, table, partition_by, bucket_by)
        self.records.append(rec)
        return rec


class CheckpointedSkew(Workload):
    """planet_pipeline(highway, z14, F6 guard).run(resume=False) into a
    fresh SnapshotCatalog per iteration, on the skewed fixture (a viral
    node in ~30% of ways, half the geometry in one dense cell). The only
    workload that writes, has hot keys, or scans documents twice."""

    name = "checkpointed_skew"

    def generate(self):
        self.docs_path = ensure_documents(self.data_dir, DOCS, self.seed, skew=True)
        self.input_rows = DOCS
        self.docs_bytes = parquet_bytes(self.docs_path)
        self.catalog_root = os.path.join(self.work_dir, "catalog")

    def _reference(self, spark):
        ways = ways_frame(spark, reference_ways(self.docs_path, "highway"))
        ways = ways.filter(planar_length_col() <= MAX_GEOM_LENGTH_DEG)
        return tile_digest(tile_counts(assign_tiles(ways, zoom=14, tms=False, cover_impl=COVER_TWIN)))

    def reset(self):
        shutil.rmtree(self.catalog_root, ignore_errors=True)

    def _pipeline(self, spark, catalog):
        return planet_pipeline(
            spark, catalog, self.docs, tag_keys=["highway"], zoom=14,
            max_length_deg=MAX_GEOM_LENGTH_DEG,
        )

    def run(self, spark):
        catalog = SnapshotCatalog(spark, self.catalog_root)
        results = self._pipeline(spark, catalog).run(resume=False)
        self.last_stage_s = {r.name: r.seconds for r in results}
        self.stored_bytes = sum(r.snapshot["bytes"] for r in results if r.snapshot)
        return tile_digest(catalog.read("tile_counts"))

    def env(self):
        return {"catalog_root": self.catalog_root, "documents_bytes": self.docs_bytes}

    def plan(self):
        """The tile_assignments stage's call, on the last run's snapshot."""
        ways = SnapshotCatalog(self.docs.sparkSession, self.catalog_root).read("ways_geom")
        return assign_tiles(ways, zoom=14, tms=False)

    def trace(self, spark, tracer):
        self.reset()
        ensure_cold(spark)
        catalog = TracedCatalog(spark, self.catalog_root, tracer, self.docs_path)
        with tracer.span("pipeline", "pipeline", output=False) as p:
            self._pipeline(spark, catalog).run(resume=False)
        p.covers = [s.id for s in tracer.spans if s.parent == p.id]
        self.traced_catalog = catalog
        return {s.name: s for s in tracer.spans if s.run_id == tracer.run_id}

    def accounting(self, spark):
        catalog = SnapshotCatalog(spark, self.catalog_root)
        t = catalog.read
        counts = entity_accounting(self.docs, t("way_nodes"), t("referenced"), t("ways_geom"))
        counts.update(
            {f"tile_join.assign.{k}": v for k, v in assign_accounting(
                t("ways_geom").filter(planar_length_col() <= MAX_GEOM_LENGTH_DEG),
                zoom=14, tms=False).items()}
        )
        return counts, tile_digest(t("tile_counts"))


WORKLOADS = {
    w.name: w for w in (FlagshipZ14, AssembleWkt, CoverZ13Buffered, CheckpointedSkew)
}
