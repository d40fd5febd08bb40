"""Checkpoint/resume pipeline, skew fixture correctness, streaming smoke."""

import os

import pytest
from pyspark.sql import functions as F

from osm_hadoop_spark.operators.tile_join import assign_tiles, tile_counts
from osm_hadoop_spark.operators.way_assembly import build_ways_geom
from osm_hadoop_spark.plans.pipeline import planet_pipeline
from osm_hadoop_spark.sources.catalog import SnapshotCatalog
from osm_hadoop_spark.sources.fixtures import gen_documents


def test_pipeline_checkpoint_and_resume(spark, db_snapshot_docs, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "warehouse"), use_iceberg=False)
    p = planet_pipeline(spark, cat, db_snapshot_docs, tag_keys=["highway"], zoom=14)
    r1 = p.run(resume=True)
    assert all(not s.skipped for s in r1)
    assert cat.read("ways_geom").count() == 3
    # lineage metrics recorded
    log = cat.snapshot_log("ways_geom")
    assert log[-1]["rows"] == 3
    assert log[-1]["bytes"] > 0
    assert sum(pl["rows"] for pl in log[-1]["partition_lineage"]) == 3
    # resume: everything skips, outputs unchanged
    p2 = planet_pipeline(spark, cat, db_snapshot_docs, tag_keys=["highway"], zoom=14)
    r2 = p2.run(resume=True)
    assert all(s.skipped for s in r2)
    assert cat.read("tile_counts").count() == cat.read("tile_assignments").select("tile_id").distinct().count()


def test_pipeline_relation_stages(spark, db_snapshot_docs, tmp_path):
    """relations=True appends two resumable stages whose output matches the
    direct build_relations_geom path, and a partial resume (relation
    snapshots deleted) recomputes ONLY them from the ways_geom snapshot."""
    from osm_hadoop_spark.operators.relation_assembly import (
        build_relations_geom,
        with_multilinestring_wkt,
    )

    cat = SnapshotCatalog(spark, str(tmp_path / "wrel"), use_iceberg=False)
    p = planet_pipeline(spark, cat, db_snapshot_docs, zoom=14, relations=True)
    r1 = p.run(resume=True)
    assert [s.name for s in r1][-2:] == ["relations", "relations_geom"]
    got = {r["rel_id"]: r["geometry_wkt"]
           for r in cat.read("relations_geom").collect()}
    direct = with_multilinestring_wkt(build_relations_geom(db_snapshot_docs))
    want = {r["rel_id"]: r["geometry_wkt"] for r in direct.collect()}
    assert got == want and len(got) == 1
    # partial resume: drop only the relation snapshots
    cat.drop("relations")
    cat.drop("relations_geom")
    r2 = planet_pipeline(spark, cat, db_snapshot_docs, zoom=14,
                         relations=True).run(resume=True)
    skipped = {s.name: s.skipped for s in r2}
    assert not skipped["relations"] and not skipped["relations_geom"]
    assert all(v for k, v in skipped.items()
               if k not in ("relations", "relations_geom"))


def test_pipeline_relations_ignore_tag_filter(spark, tmp_path):
    """With an F1 tag filter active, relation members must still resolve
    against the UNfiltered way assembly (OSM multipolygon member ways are
    typically untagged) — the relation branch builds ways_geom_all."""
    from osm_hadoop_spark.operators.relation_assembly import (
        build_relations_geom,
        with_multilinestring_wkt,
    )

    docs = gen_documents(spark, 400, seed=11).cache()
    cat = SnapshotCatalog(spark, str(tmp_path / "wreltag"), use_iceberg=False)
    p = planet_pipeline(spark, cat, docs, tag_keys=["highway"], zoom=14,
                        relations=True)
    names = [n for n, _ in p.stages]
    assert {"ways_all", "referenced_all", "ways_geom_all"} <= set(names)
    p.run(resume=True)
    got = {r["rel_id"]: r["geometry_wkt"]
           for r in cat.read("relations_geom").collect()}
    want = {r["rel_id"]: r["geometry_wkt"]
            for r in with_multilinestring_wkt(build_relations_geom(docs)).collect()}
    assert got == want and len(got) > 0
    # the filtered extract itself remains filtered
    filtered_ways = cat.read("ways_geom").count()
    all_ways = cat.read("ways_geom_all").count()
    assert filtered_ways < all_ways


def test_snapshot_time_travel(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "w2"), use_iceberg=False)
    df1 = spark.range(5).withColumnRenamed("id", "v")
    df2 = spark.range(9).withColumnRenamed("id", "v")
    s1 = cat.write(df1, "t")
    s2 = cat.write(df2, "t")
    assert s2["parent_id"] == s1["snapshot_id"]
    assert cat.read("t").count() == 9
    assert cat.read("t", snapshot_id=s1["snapshot_id"]).count() == 5


def test_snapshot_log_survives_crash_mid_write(spark, tmp_path, monkeypatch):
    """A metadata write that dies half-way leaves the previous snapshot log
    and its data readable."""
    import json

    cat = SnapshotCatalog(spark, str(tmp_path / "w3"), use_iceberg=False)
    s1 = cat.write(spark.range(5).withColumnRenamed("id", "v"), "t")

    def dump_then_crash(obj, f, **kw):
        f.write('[{"snapshot_id"')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", dump_then_crash)
    with pytest.raises(OSError, match="disk full"):
        cat.write(spark.range(9).withColumnRenamed("id", "v"), "t")
    monkeypatch.undo()
    assert [s["snapshot_id"] for s in cat.snapshot_log("t")] == [s1["snapshot_id"]]
    assert cat.read("t").count() == 5
    assert not [n for n in os.listdir(tmp_path / "w3" / "t") if n.endswith(".tmp")]


@pytest.fixture(scope="module")
def skew_docs(spark):
    return gen_documents(spark, 3000, seed=42, skew=True).cache()


def test_skew_fixture_shape(spark, skew_docs):
    """Viral node 1 must appear in ~30% of ways (FIXTURES.md section 7)."""
    from osm_hadoop_spark.sources import spans as S

    wn = S.parse_way_nodes(skew_docs)
    n_ways = wn.select("way_id").distinct().count()
    viral_ways = wn.filter(F.col("node_id") == 1).select("way_id").distinct().count()
    assert 0.2 <= viral_ways / n_ways <= 0.4


def test_skew_join_correct_and_salting_invariant(spark, skew_docs):
    """J1+J3 outputs identical with salting on and off over the skewed table."""
    ways_geom = build_ways_geom(skew_docs, tag_keys=["highway"]).cache()
    assert ways_geom.count() > 0
    assigned = assign_tiles(ways_geom, zoom=13, tms=False).cache()
    plain = {(r["tile_id"], r["n_ways"]) for r in tile_counts(assigned, salted=False).collect()}
    salted = {(r["tile_id"], r["n_ways"]) for r in tile_counts(assigned, salted=True, salt_buckets=7).collect()}
    assert plain == salted
    # dense cell exists: max tile count should swallow a large share of ways
    # (~50% of cells relocate to a ~0.05-deg area spanning 1-4 z13 tiles)
    top = max(n for _, n in plain)
    assert top > ways_geom.count() * 0.1


def test_knn_adversarial_scale(spark):
    """kNN with a feature table >> points (200k segments, 160 points) and a
    skewed cell (60% of features in a 0.2-degree box), broadcast_features on
    (round-2 verdict item 8).

    Pins: (a) the radius-round count stays within the O(log) bound
    ceil(log4(WORLD_DIAG/r0)) + 1 — it cannot degrade to per-point linear
    probing however skewed the data; (b) results stay EXACT vs an
    independent closed-form brute force over all 200k features.
    """
    import math
    import time

    import numpy as np
    import pandas as pd

    from osm_hadoop_spark.operators.knn import WORLD_DIAG, knn_join

    rng = np.random.default_rng(11)
    n_feat, n_clustered = 200_000, 120_000
    # skewed cell: 60% of segments inside a 0.2 x 0.2 degree box
    cx = np.concatenate([
        rng.uniform(10.0, 10.2, n_clustered),
        rng.uniform(-170, 170, n_feat - n_clustered),
    ])
    cy = np.concatenate([
        rng.uniform(50.0, 50.2, n_clustered),
        rng.uniform(-80, 80, n_feat - n_clustered),
    ])
    dx = rng.uniform(0.001, 0.01, n_feat) * rng.choice([-1, 1], n_feat)
    dy = rng.uniform(0.001, 0.01, n_feat) * rng.choice([-1, 1], n_feat)
    fid = np.arange(n_feat, dtype=np.int64)
    features = spark.createDataFrame(pd.DataFrame({
        "feature_id": fid,
        "xs": [[float(a), float(b)] for a, b in zip(cx, cx + dx)],
        "ys": [[float(a), float(b)] for a, b in zip(cy, cy + dy)],
    }))
    # 120 points inside the hot box, 40 in the sparse region (these force
    # multiple radius rounds: sparse density ~1.5 features/deg^2 needs
    # r ~ 0.8 deg before k=3 candidates exist)
    px = np.concatenate([rng.uniform(10.0, 10.2, 120), rng.uniform(-170, 170, 40)])
    py = np.concatenate([rng.uniform(50.0, 50.2, 120), rng.uniform(-80, 80, 40)])
    points = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(160, dtype=np.int64), "lon": px, "lat": py,
    }))

    r0, k = 0.05, 3
    stats: dict = {}
    t0 = time.monotonic()
    got = knn_join(points, features, k=k, r0=r0,
                   broadcast_features=True, stats=stats)
    rows = got.collect()
    elapsed = time.monotonic() - t0

    # O(log) round bound — the termination guarantee, independent of skew
    bound = math.ceil(math.log(WORLD_DIAG / r0, 4)) + 1
    assert 2 <= stats["rounds"] <= bound, (stats, bound)
    print(f"knn adversarial: {stats['rounds']} rounds "
          f"(bound {bound}), {elapsed:.1f}s for {n_feat} features")

    # every point resolved with exactly k ranked neighbors
    by_pt: dict = {}
    for r in rows:
        by_pt.setdefault(r["point_id"], []).append(r)
    assert len(by_pt) == 160
    assert all(sorted(x["rank"] for x in v) == [1, 2, 3] for v in by_pt.values())

    # exactness vs an independent closed-form point-to-segment distance
    # (NOT the library kernel) over ALL features, for a sample of points
    ax, ay, bx, by_ = cx, cy, cx + dx, cy + dy
    sdx, sdy = bx - ax, by_ - ay
    ss = sdx * sdx + sdy * sdy
    for pid in range(0, 160, 7):
        t = np.clip(((px[pid] - ax) * sdx + (py[pid] - ay) * sdy) / ss, 0.0, 1.0)
        d = np.hypot(px[pid] - (ax + t * sdx), py[pid] - (ay + t * sdy))
        order = np.lexsort((fid, d))[:k]
        mine = sorted(by_pt[pid], key=lambda x: x["rank"])
        assert [x["feature_id"] for x in mine] == fid[order].tolist(), pid
        np.testing.assert_allclose(
            [x["dist"] for x in mine], d[order], rtol=0, atol=1e-9
        )


def test_streaming_tile_counts(spark, tmp_path):
    """Structured Streaming surface: file source -> windowed tile counts
    equals the batch computation of the same expression."""
    import pandas as pd

    from osm_hadoop_spark.sources.fixtures import gen_documents
    from osm_hadoop_spark.streaming.tiles import (
        sql_xtile,
        sql_ytile,
        streaming_tile_counts,
    )

    docs = gen_documents(spark, 300, seed=7).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000) + (F.crc32("doc_id") % 120))
    )
    src = str(tmp_path / "stream_src")
    docs.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = streaming_tile_counts(stream, zoom=10, window="1 minute", watermark="5 minutes")
    q = (
        out.writeStream.format("memory").queryName("tile_counts_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT tx, ty, CAST(sum(n_nodes) AS BIGINT) n FROM tile_counts_stream GROUP BY tx, ty"
    ).collect()
    got_map = {(r["tx"], r["ty"]): r["n"] for r in got}

    from osm_hadoop_spark.sources import spans as S

    nodes = S.parse_nodes(spark.read.parquet(src))
    batch = nodes.groupBy(
        sql_xtile(F.col("lon"), 10).alias("tx"), sql_ytile(F.col("lat"), 10).alias("ty")
    ).agg(F.count(F.lit(1)).alias("n"))
    batch_map = {(r["tx"], r["ty"]): r["n"] for r in batch.collect()}
    assert got_map == batch_map


def test_streaming_sql_tile_matches_numpy_kernel(spark):
    """The streaming SQL slippy expression must agree with the NumPy kernel."""
    import numpy as np

    from osm_hadoop_spark.functions.tiles import tile_for_point, unpack_tile

    rng = np.random.default_rng(5)
    lon = rng.uniform(-179, 179, 300)
    lat = rng.uniform(-84, 84, 300)
    pdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    from osm_hadoop_spark.streaming.tiles import sql_xtile, sql_ytile

    rows = pdf.select(sql_xtile(F.col("lon"), 12).alias("tx"),
                      sql_ytile(F.col("lat"), 12).alias("ty")).collect()
    _z, ex, ey = unpack_tile(tile_for_point(lon, lat, 12))
    assert [r["tx"] for r in rows] == ex.tolist()
    assert [r["ty"] for r in rows] == ey.tolist()


def test_streaming_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState exact dedup: first occurrence per fingerprint
    survives; duplicate count matches the batch groupBy answer."""
    from osm_hadoop_spark.streaming.dedup import streaming_dedup_exact

    # 120 docs over 40 distinct fingerprints -> exactly 40 survivors
    rows = [(f"d{i:03d}", i % 40) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id string, fingerprint bigint")
    src = str(tmp_path / "dedup_src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id string, fingerprint bigint").parquet(src)
    out = streaming_dedup_exact(stream)
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT fingerprint, doc_id, n_dupes_dropped FROM dedup_stream"
    ).collect()
    assert len(got) == 40
    by_fp = {r["fingerprint"]: r for r in got}
    assert set(by_fp) == set(range(40))
    # per-fingerprint duplicates: fingerprints 0..39 each appear 3 times
    assert all(r["n_dupes_dropped"] == 2 for r in got)
    # survivor is the MIN doc_id of its group (deterministic, not
    # arrival-order: Spark does not guarantee intra-batch row order)
    assert by_fp[0]["doc_id"] == "d000" and by_fp[39]["doc_id"] == "d039"


def test_streaming_dedup_state_ttl_evicts(spark, tmp_path):
    """state_ttl_ms bounds state: a key idle past the TTL is evicted and its
    next occurrence re-emitted (the bounded-state contract)."""
    import time as _time

    from osm_hadoop_spark.streaming.dedup import streaming_dedup_exact

    src = str(tmp_path / "ttl_src")
    ckpt = str(tmp_path / "ttl_ckpt")
    schema = "doc_id string, fingerprint bigint"
    # 2 state-store partitions: the shuffle partition count is baked into
    # the checkpoint at first start, and 32 stores x 3 restarts dominates
    # this tiny test's wall time
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.createDataFrame([("a1", 7)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run_once(expect: int, grace: float = 0.0):
        # foreachBatch (not the memory sink): the memory sink cannot
        # recover from a checkpoint, and resuming with the SAME state
        # store across restarts is exactly what this test exercises.
        # A query with processing-time timers never terminates under
        # availableNow (it keeps scheduling timeout-check batches), so
        # poll for the expected output and stop() explicitly; `grace`
        # leaves the query running long enough for pending timeout
        # batches to evict expired state before the next restart.
        rows: list = []
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_dedup_exact(stream, state_ttl_ms=500)
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update").trigger(availableNow=True).start()
        )
        deadline = _time.time() + 90
        while _time.time() < deadline and len(rows) < expect:
            _time.sleep(0.5)
        if grace:
            _time.sleep(grace)
        q.stop()
        q.awaitTermination(60)
        return rows

    assert [r["doc_id"] for r in run_once(1)] == ["a1"]
    _time.sleep(2)  # let the 500 ms TTL lapse in processing time
    # a batch WITHOUT key 7 fires its timeout (Spark only times out keys
    # absent from the batch) -> state for 7 is removed; the grace window
    # lets that timeout batch run before we stop the query
    spark.createDataFrame([("b1", 8)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert [r["doc_id"] for r in run_once(1, grace=6.0)] == ["b1"]
    # key 7 reappears: state was evicted, so it re-emits as a first sight
    spark.createDataFrame([("a2", 7)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    try:
        assert [r["doc_id"] for r in run_once(1)] == ["a2"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_streaming_s2_counts(spark, tmp_path):
    """Streaming S2 surface: file source -> Arrow cell assignment ->
    windowed counts equals the batch computation with the same kernel."""
    from osm_hadoop_spark.sources import spans as S
    from osm_hadoop_spark.sources.fixtures import gen_documents
    from osm_hadoop_spark.streaming.s2 import streaming_s2_counts

    docs = gen_documents(spark, 300, seed=9).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000) + (F.crc32("doc_id") % 120))
    )
    src = str(tmp_path / "s2_stream_src")
    docs.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = streaming_s2_counts(stream, level=9, window="1 minute", watermark="5 minutes")
    q = (
        out.writeStream.format("memory").queryName("s2_counts_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT s2_cell, CAST(sum(n_nodes) AS BIGINT) n FROM s2_counts_stream GROUP BY s2_cell"
    ).collect()
    got_map = {r["s2_cell"]: r["n"] for r in got}

    import pandas as pd

    from osm_hadoop_spark.functions.s2 import cell_for_lonlat

    nodes = S.parse_nodes(spark.read.parquet(src)).toPandas()
    cells = cell_for_lonlat(nodes["lon"].to_numpy(), nodes["lat"].to_numpy(), 9)
    batch_map = dict(pd.Series(cells).value_counts().items())
    assert got_map == {int(k): int(v) for k, v in batch_map.items()}


def test_streaming_apply_diff(spark, tmp_path):
    """Stateful streaming changeset fold: across two micro-batches the final
    per-entity state matches the batch apply_diff answer; stale rows are
    ignored and deletes surface with visible=false."""
    from osm_hadoop_spark.streaming.upsert import streaming_apply_diff

    schema = "entity_id bigint, version bigint, visible boolean, tag string"
    src = str(tmp_path / "diff_src")
    ckpt = str(tmp_path / "diff_ckpt")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        # batch 1: initial snapshot rows
        spark.createDataFrame(
            [(1, 1, True, "a"), (2, 3, True, "b"), (3, 1, True, "c")], schema
        ).coalesce(1).write.mode("append").parquet(src)

        rows: list = []

        def run_batch():
            # foreachBatch: the memory sink cannot recover from a
            # checkpoint, and resuming the SAME state store across
            # restarts is the thing under test
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                streaming_apply_diff(stream)
                .writeStream.foreachBatch(
                    lambda df, _bid: rows.extend(df.collect())
                )
                .outputMode("update").option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        run_batch()
        # batch 2: update e1, delete e2, stale row for e3, create e5
        spark.createDataFrame(
            [(1, 2, True, "a2"), (2, 4, False, "b2"),
             (3, 0, True, "stale"), (5, 1, True, "new")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        run_batch()

        latest = {}
        for r in rows:  # update mode: keep the highest version per entity
            if r["entity_id"] not in latest or r["version"] > latest[r["entity_id"]]["version"]:
                latest[r["entity_id"]] = r
        visible = {k: (v["version"], v["tag"]) for k, v in latest.items() if v["visible"]}
        deleted = {k for k, v in latest.items() if not v["visible"]}
        assert visible == {1: (2, "a2"), 3: (1, "c"), 5: (1, "new")}
        assert deleted == {2}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_streaming_asof_matches_batch(spark, tmp_path):
    """Streaming as-of enrichment across two time-ordered micro-batches
    equals the batch asof_join over the full event set (state carries the
    latest reference row across the batch boundary)."""
    import datetime as dt

    import numpy as np

    from osm_hadoop_spark.operators.asof import asof_join
    from osm_hadoop_spark.streaming.asof import streaming_asof_enrich

    rng = np.random.default_rng(13)
    n = 400
    user = rng.integers(0, 8, n)
    ts = np.sort(rng.integers(0, 10_000_000, n))  # time-ordered stream
    side = rng.integers(0, 2, n)
    events = [
        (int(user[i]), i, int(ts[i]), int(side[i])) for i in range(n)
    ]
    schema = "user_id bigint, event_id bigint, ts_us bigint, side int"

    src = str(tmp_path / "asof_src")
    ckpt = str(tmp_path / "asof_ckpt")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    rows: list = []
    try:
        def run_batch():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                streaming_asof_enrich(stream)
                .writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
                .outputMode("append").option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        half = n // 2
        spark.createDataFrame(events[:half], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_batch()
        spark.createDataFrame(events[half:], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_batch()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    got = {
        r["event_id"]: (r["match_id"], r["gap_us"]) for r in rows
    }

    # batch ground truth over the same full event set
    t0 = dt.datetime(2024, 1, 1)
    full = spark.createDataFrame(
        [(u, e, t0 + dt.timedelta(microseconds=t), s) for u, e, t, s in events],
        "user_id bigint, event_id bigint, ts timestamp, side int",
    )
    from pyspark.sql import functions as F

    left = full.filter(F.col("side") == 1).select("user_id", "event_id", "ts")
    right = full.filter(F.col("side") == 0).select(
        "user_id", F.col("event_id").alias("r_id"), "ts"
    )
    want_rows = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts",
        right_payload=["r_id"], seq="r_id",
    ).collect()
    want = {
        r["event_id"]: (
            r["asof_r_id"] if r["asof_r_id"] is not None else -1,
            (
                int(r["ts"].timestamp() * 1_000_000) - r["asof_ts_us"]
                if r["asof_ts_us"] is not None
                else -1
            ),
        )
        for r in want_rows
    }
    assert len(got) == len(want)
    mism = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mism, list(mism.items())[:5]


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Native session_window streaming sessionization: final per-user
    session counts equal the batch lag-gap rule on the same events."""
    import datetime as dt

    import numpy as np

    from osm_hadoop_spark.streaming.sessions import streaming_user_sessions

    rng = np.random.default_rng(17)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(6):
        t = 0
        for _ in range(40):
            # mix of intra-session gaps (< 30 min) and session breaks
            t += int(rng.choice([60, 300, 900, 2_700, 7_200]))
            rows.append((uid, t0 + dt.timedelta(seconds=t), float(uid + 1)))
    schema = "user_id bigint, ts timestamp, value double"

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    got_rows: list = []
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_user_sessions(stream, gap="30 minutes")
            .writeStream.foreachBatch(lambda df, _b: got_rows.extend(df.collect()))
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    got = {}
    for r in got_rows:
        got.setdefault(r["user_id"], []).append(
            (r["session_start"], r["n_events"], r["sum_value"])
        )

    # batch twin: lag-gap rule, 30 min == 1_800_000 ms
    by_user = {}
    for uid, ts, val in rows:
        by_user.setdefault(uid, []).append(ts)
    for uid, tss in by_user.items():
        tss.sort()
        n_sessions = 1 + sum(
            1
            for a, b in zip(tss, tss[1:])
            if (b - a).total_seconds() > 1800
        )
        assert len(got[uid]) == n_sessions, uid
        assert sum(n for _, n, _ in got[uid]) == 40
        # per-user value is constant -> sum_value checks event attribution
        assert sum(v for _, _, v in got[uid]) == 40.0 * (uid + 1)


def test_streaming_trips_match_batch(spark, tmp_path):
    """Streaming trip segmentation across two time-ordered micro-batches:
    the latest emitted row per (user, trip) equals the batch
    segment_trips rollup over the full ping set (state carries the open
    trip across the batch boundary)."""
    import numpy as np

    from osm_hadoop_spark.operators.trajectory import segment_trips
    from osm_hadoop_spark.streaming.trips import streaming_trip_segments

    rng = np.random.default_rng(29)
    n = 600
    ts = np.sort(rng.integers(0, 3_000_000_000, n))
    pings = []
    pos = {}
    for i in range(n):
        u = int(rng.integers(0, 6))
        x, y = pos.get(u, (0, 0))
        if rng.integers(0, 10) == 0:  # teleport
            x += int(rng.integers(-900, 901))
            y += int(rng.integers(-900, 901))
        else:
            x += int(rng.integers(-9, 10))
            y += int(rng.integers(-9, 10))
        pos[u] = (x, y)
        pings.append((u, i, int(ts[i]), x, y))
    schema = "user_id bigint, ping_id bigint, ts_us bigint, x bigint, y bigint"
    gap_us, jump = 300_000_000, 200

    src = str(tmp_path / "trip_src")
    ckpt = str(tmp_path / "trip_ckpt")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    latest: dict = {}
    try:
        def run_batch():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                streaming_trip_segments(stream, gap_us, jump)
                .writeStream.foreachBatch(
                    lambda df, _b: latest.update(
                        {
                            (r["user_id"], r["trip"]): (
                                r["n_pings"], r["start_us"],
                                r["end_us"], r["manhattan_len"],
                            )
                            for r in df.collect()
                        }
                    )
                )
                .outputMode("update").option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        half = n // 2
        for chunk in (pings[:half], pings[half:]):
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            run_batch()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    batch = {
        (r["user_id"], r["trip"]): (
            r["n_pings"], r["start_us"], r["end_us"], r["manhattan_len"]
        )
        for r in segment_trips(
            spark.createDataFrame(pings, schema), gap_us, jump
        ).collect()
    }
    assert latest == batch
    assert len(batch) > 20  # fixture produces real trip structure


def test_streaming_kde_matches_batch(spark, tmp_path):
    """Streaming single-pass KDE (stateless kernel fan-out -> one
    watermarked window sum) equals the batch separable kde_grid applied
    per window — two different evaluation strategies, same integers."""
    import datetime as dt

    import numpy as np
    from pyspark.sql import functions as F

    from osm_hadoop_spark.operators.kde import kde_grid
    from osm_hadoop_spark.streaming.kde import streaming_kde

    rng = np.random.default_rng(31)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        rows.append(
            (
                t0 + dt.timedelta(seconds=int(rng.integers(0, 240))),
                int(rng.integers(-50, 400)),
                int(rng.integers(-50, 400)),
            )
        )
    rows.sort()  # time-ordered stream
    schema = "ts timestamp, x long, y long"

    src = str(tmp_path / "kde_src")
    ckpt = str(tmp_path / "kde_ckpt")
    got = []
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_kde(stream, cell_size=25, radius=3)
            .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
            .outputMode("complete").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    got_map = {
        (r["win"]["start"], r["cx"], r["cy"]): r["density"] for r in got
    }

    batch = spark.createDataFrame(rows, schema).withColumn(
        "win", F.window("ts", "1 minute")
    )
    want = {}
    for wstart in {r["win"]["start"] for r in batch.select("win").collect()}:
        sub = batch.filter(F.col("win.start") == wstart).select("x", "y")
        for r in kde_grid(sub, cell_size=25, radius=3).collect():
            want[(wstart, r["cx"], r["cy"])] = r["density"]
    assert got_map == want
    assert len({k[0] for k in want}) >= 3  # several windows exercised


def test_streaming_count_min_matches_batch(spark, tmp_path):
    """Streaming CM sketch (stateless cell fan-out -> one watermarked
    window sum) equals the batch count_min_cells applied per window, and
    its state is bounded: <= d*w rows per window whatever the key count."""
    import datetime as dt

    import numpy as np
    from pyspark.sql import functions as F

    from osm_hadoop_spark.operators.sketch import count_min_cells
    from osm_hadoop_spark.streaming.cm import streaming_count_min

    d, w = 4, 16
    rng = np.random.default_rng(7)
    t0 = dt.datetime(2024, 1, 1)
    rows = sorted(
        (
            t0 + dt.timedelta(seconds=int(rng.integers(0, 240))),
            int(rng.integers(0, 200)),
        )
        for _ in range(500)
    )
    schema = "ts timestamp, uid long"

    src = str(tmp_path / "cm_src")
    ckpt = str(tmp_path / "cm_ckpt")
    got = []
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_count_min(stream, "uid", d=d, w=w)
            .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
            .outputMode("complete").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    got_map = {(r["win"]["start"], r["r"], r["c"]): r["cnt"] for r in got}

    batch = spark.createDataFrame(rows, schema).withColumn(
        "win", F.window("ts", "1 minute")
    )
    want = {}
    starts = {r["win"]["start"] for r in batch.select("win").collect()}
    for wstart in starts:
        sub = batch.filter(F.col("win.start") == wstart).select("uid")
        for r in count_min_cells(sub, "uid", d=d, w=w).collect():
            want[(wstart, r["r"], r["c"])] = r["cnt"]
    assert got_map == want
    assert len(starts) >= 3
    # bounded state: never more than d*w cells per window
    per_win = {}
    for (ws, _, _), _v in got_map.items():
        per_win[ws] = per_win.get(ws, 0) + 1
    assert all(n <= d * w for n in per_win.values())


def test_streaming_kmins_matches_batch(spark, tmp_path):
    """Streaming k-mins sketch (one watermarked windowed MIN) equals the
    batch per-window groupBy min, holds <= k rows of state per window,
    and its driver-side estimate lands within the k-mins error envelope."""
    import datetime as dt

    import numpy as np
    from pyspark.sql import functions as F

    from osm_hadoop_spark.operators.textstats import h60
    from osm_hadoop_spark.streaming.kmins import kmins_estimate, streaming_kmins

    k = 32
    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 1, 1)
    rows = sorted(
        (
            t0 + dt.timedelta(seconds=int(rng.integers(0, 180))),
            int(rng.integers(0, 400)),
        )
        for _ in range(1200)
    )
    schema = "ts timestamp, uid long"

    src = str(tmp_path / "km_src")
    ckpt = str(tmp_path / "km_ckpt")
    got = []
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_kmins(stream, "uid", k=k)
            .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
            .outputMode("complete").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    got_map = {(r["win"]["start"], r["bucket"]): r["min_h"] for r in got}

    batch = spark.createDataFrame(rows, schema).select(
        F.window("ts", "1 minute").alias("win"),
        (h60(F.concat(F.lit("kmv:"), F.col("uid").cast("string"))) % k)
        .alias("bucket"),
        h60(F.concat(F.lit("kmv:"), F.col("uid").cast("string"))).alias("hv"),
    ).groupBy("win", "bucket").agg(F.min("hv").alias("min_h"))
    want = {(r["win"]["start"], r["bucket"]): r["min_h"] for r in batch.collect()}
    assert got_map == want

    # bounded state: <= k rows per window
    import collections
    per_win = collections.Counter(w for (w, _b) in got_map)
    assert all(v <= k for v in per_win.values())

    # estimator accuracy on the busiest window vs exact distinct
    busiest = max(per_win, key=per_win.get)
    rows_w = [
        {"bucket": b, "min_h": mh}
        for (w, b), mh in got_map.items() if w == busiest
    ]
    exact = spark.createDataFrame(rows, schema).select(
        F.window("ts", "1 minute").alias("win"), "uid"
    ).filter(F.col("win.start") == busiest).select("uid").distinct().count()
    est = kmins_estimate(rows_w, k=k)
    assert abs(est - exact) / exact < 0.45  # k=32 sketch envelope
