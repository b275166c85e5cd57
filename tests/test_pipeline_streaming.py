"""End-to-end pipeline invariants, checkpoint/resume byte-equality, and
the streaming twin."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from osm_inertial_flow_partitioner_spark.config import PartitionConfig
from osm_inertial_flow_partitioner_spark.operators.partitioner import (
    ASSIGN_SCHEMA,
    METRICS_SCHEMA,
)
from osm_inertial_flow_partitioner_spark.plans.checkpoint import RoundCheckpoint
from osm_inertial_flow_partitioner_spark.plans.pipeline import run_pipeline
from osm_inertial_flow_partitioner_spark.sources.extract import (
    extract_entities,
    text_invariant_check,
)
from osm_inertial_flow_partitioner_spark.sources.pages import generate_pages
from osm_inertial_flow_partitioner_spark.streaming.incremental import (
    streaming_entities,
    windowed_cell_counts,
)


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 200).cache()


def test_pages_deterministic_and_partition_independent(spark):
    a = generate_pages(spark, 100, num_partitions=1).orderBy("url").collect()
    b = generate_pages(spark, 100, num_partitions=7).orderBy("url").collect()
    assert [r["text"] for r in a] == [r["text"] for r in b]
    assert [r["html"] for r in a] == [r["html"] for r in b]


def test_extraction_text_invariant(spark, pages):
    ents = extract_entities(pages, res=5)
    assert ents.count() > 0
    # extraction never mutates text
    assert text_invariant_check(pages, pages) == 0
    # every entity's coordinates appear verbatim in its page text
    joined = ents.join(pages, "url")
    bad = joined.filter(
        ~F.col("text").contains(
            F.concat(F.lit("geo:"), F.format_number(F.col("lat"), 5))
        )
    )
    # format_number uses grouping separators — fall back to a regex check
    bad2 = joined.filter(~F.col("text").rlike("geo:"))
    assert bad2.count() == 0


def test_knn_adjacency_gate_parity(spark, pages):
    # the adaptive physical strategy (partial top-k reduction vs plain
    # ranking window, chosen from the occupancy estimate) must be
    # invisible in the result: force each path and compare edge lists
    from osm_inertial_flow_partitioner_spark.sources.extract import knn_adjacency

    ents = extract_entities(pages, res=5).cache()
    via_window = knn_adjacency(ents, k=3, topk_threshold=1 << 60)
    via_reduce = knn_adjacency(ents, k=3, topk_threshold=0)
    a = sorted(map(tuple, via_window.collect()))
    b = sorted(map(tuple, via_reduce.collect()))
    assert a == b and len(a) > 0


def test_pipeline_properties(spark, pages):
    res = run_pipeline(spark, pages, PartitionConfig(cell_sizes=[16, 64]), res=5, k=3)
    n = res.n_entities
    # exactly one cell per (vertex, level)
    per = res.assignment.groupBy("vertex_id", "level").count()
    assert per.filter(F.col("count") != 1).count() == 0
    assert res.assignment.filter(F.col("level") == 0).count() == n
    # cell sizes respected
    sizes = (
        res.assignment.groupBy("level", "cell_id").count().collect()
    )
    for r in sizes:
        cap = [16, 64][r["level"]]
        assert r["count"] <= cap or (r["level"] == 1 and n <= 64)
    # nesting
    l0 = res.assignment.filter(F.col("level") == 0).select("vertex_id", F.col("cell_id").alias("c0"))
    l1 = res.assignment.filter(F.col("level") == 1).select("vertex_id", F.col("cell_id").alias("c1"))
    pairs = l0.join(l1, "vertex_id").select("c0", "c1").distinct()
    dup = pairs.groupBy("c0").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_checkpoint_resume_byte_identical(spark, pages, tmp_path):
    cfg = PartitionConfig(cell_sizes=[16, 64])
    r1 = run_pipeline(spark, pages, cfg, res=5, k=3)
    ck = RoundCheckpoint(spark, str(tmp_path / "ck"), config_token="t1")
    r2 = run_pipeline(spark, pages, cfg, res=5, k=3, checkpoint=ck)
    a = sorted(map(tuple, r1.assignment.collect()))
    b = sorted(map(tuple, r2.assignment.collect()))
    assert a == b
    # snapshots + lineage exist and are loadable
    latest = ck.latest()
    assert latest is not None
    schemas = {"assign": ASSIGN_SCHEMA, "metrics": METRICS_SCHEMA}
    reloaded, _, state = ck.load_round_dfs(*latest, schemas)
    assert reloaded.count() > 0
    assert set(state) == {"sizes", "live", "finished"}
    assert os.path.exists(str(tmp_path / "ck" / "final_manifest.json"))
    # final assignment persisted durably == in-memory result
    persisted = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "ck" / "assignment")).collect())
    )
    assert persisted == b

    # kill/restart simulation: drop the LAST completed round's manifest,
    # resume with the same checkpoint -> earlier rounds replay from disk,
    # the dropped round recomputes live; final assignment byte-identical
    lvl, rnd = ck.latest()
    os.remove(str(tmp_path / "ck" / f"level={lvl}" / f"round={rnd}" / "manifest.json"))
    ck2 = RoundCheckpoint(spark, str(tmp_path / "ck"), config_token="t1")
    r3 = run_pipeline(spark, pages, cfg, res=5, k=3, checkpoint=ck2)
    c = sorted(map(tuple, r3.assignment.collect()))
    assert c == b
    # a stale config token must NOT resume from foreign snapshots
    ck3 = RoundCheckpoint(spark, str(tmp_path / "ck"), config_token="OTHER")
    assert not ck3.has_round(lvl, 0) or lvl != ck.latest()[0]

    # kill/restart THROUGH the finishing round: the round whose finish
    # kernel also completed the level below snapshots that level's
    # metrics rows too — drop its manifest, resume, byte-identical again
    finishing = [
        m
        for m in glob.glob(str(tmp_path / "ck" / "level=*" / "round=*" / "manifest.json"))
        if spark.read.parquet(os.path.join(os.path.dirname(m), "metrics"))
        .filter(f"level < {json.load(open(m))['level']}")
        .count()
    ]
    assert finishing, "no round pre-finished a lower level"
    os.remove(finishing[0])
    ck4 = RoundCheckpoint(spark, str(tmp_path / "ck"), config_token="t1")
    r4 = run_pipeline(spark, pages, cfg, res=5, k=3, checkpoint=ck4)
    assert sorted(map(tuple, r4.assignment.collect())) == b
    # and a pure replay (all snapshots present) still matches
    ck5 = RoundCheckpoint(spark, str(tmp_path / "ck"), config_token="t1")
    r5 = run_pipeline(spark, pages, cfg, res=5, k=3, checkpoint=ck5)
    assert sorted(map(tuple, r5.assignment.collect())) == b


def test_streaming_entities_match_batch(spark, pages, tmp_path):
    src = str(tmp_path / "pages_stream")
    pages.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    ents = streaming_entities(stream, res=5)
    counts = windowed_cell_counts(ents, watermark="1 hour", window="10 minutes")
    # complete mode: append would hold rows back until the watermark
    # passes the window end, which a single availableNow batch never does
    q = (
        counts.writeStream.format("memory")
        .queryName("cell_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select sum(n_entities) as n from cell_counts").collect()[0]["n"]
    batch_n = extract_entities(pages, res=5).count()
    assert got == batch_n


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Replaying a static events table through the stateful streaming
    sessionizer (one availableNow batch) must emit exactly the batch
    sessions that CLOSE inside the data — i.e. all but each user's last
    (still-open) session."""
    import pandas as pd

    from osm_inertial_flow_partitioner_spark.operators.sessionize import sessionize
    from osm_inertial_flow_partitioner_spark.streaming.incremental import (
        streaming_sessionize,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    eid = 0
    for user in (1, 2, 3):
        # 3 sessions per user: gaps of 2h between bursts of 3 events
        for s in range(3):
            for k in range(3):
                ts = (base + pd.Timedelta(hours=2 * s + user, minutes=5 * k)).to_pydatetime()
                rows.append((eid, ts, user))
                eid += 1
    # sub-second gaps: 1799.75 s stays in the session; 1800.5 s opens a
    # new one, although both ends lie 1800 whole seconds apart
    for sec in (0.25, 1800.0, 3600.5, 3900.5):
        rows.append((eid, (base + pd.Timedelta(hours=4, seconds=sec)).to_pydatetime(), 4))
        eid += 1
    events = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    src = str(tmp_path / "events_src")
    events.repartition(3).write.parquet(src)

    stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(src)
    out = streaming_sessionize(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_id"]): (r["start_ts"], r["end_ts"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }

    batch = sessionize(events, gap_minutes=30).collect()
    agg = {}
    for r in batch:
        key = (r["user_id"], r["session_id"])
        t = int(r["ts"].timestamp())
        lo, hi, n = agg.get(key, (t, t, 0))
        agg[key] = (min(lo, t), max(hi, t), n + 1)
    # watermark-complete contract: exactly the batch sessions the final
    # watermark (max event time - 1h) proves complete — end + gap
    # STRICTLY below it (Spark's own event-time-timeout predicate)
    watermark = max(hi for (_, hi, _) in agg.values()) - 3600
    expected = {k: v for k, v in agg.items() if v[1] + 30 * 60 < watermark}
    assert [expected[(4, s)][2] for s in (0, 1)] == [2, 2]

    assert got == expected


def test_streaming_sessionize_out_of_order_batches(spark, tmp_path):
    """Replay parity must be independent of micro-batch arrival order:
    events are split into consecutive time blocks written as separate
    files, replayed one file per trigger in a SHUFFLED order whose
    disorder stays inside the watermark delay. Output must equal the
    batch twin restricted to watermark-complete sessions — same rows,
    same session numbering — exactly what the in-order replay yields."""
    import random

    import pandas as pd

    from osm_inertial_flow_partitioner_spark.operators.sessionize import sessionize
    from osm_inertial_flow_partitioner_spark.streaming.incremental import (
        streaming_sessionize,
    )

    rng = random.Random(11)
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    eid = 0
    for user in (1, 2, 3, 4):
        t = 0
        while t < 10 * 3600:
            # bursts with occasional > gap jumps
            for _ in range(rng.randint(1, 4)):
                rows.append(
                    (eid, (base + pd.Timedelta(seconds=t + user)).to_pydatetime(), user)
                )
                eid += 1
                t += rng.randint(60, 900)
            t += rng.choice([120, 300, 2400, 4000])
    rows.sort(key=lambda r: r[1])
    # consecutive ~1h time blocks; adjacent-block swaps keep cross-batch
    # disorder under the 2h watermark delay
    blocks = [[] for _ in range(10)]
    for r in rows:
        blocks[min(int((r[1] - base.to_pydatetime()).total_seconds() // 3600), 9)].append(r)
    order = list(range(10))
    for i in range(0, 9, 2):
        order[i], order[i + 1] = order[i + 1], order[i]
    src = str(tmp_path / "ooo_src")
    import os as _os

    _os.makedirs(src, exist_ok=True)
    schema = "event_id long, ts timestamp, user_id long"
    for seq, bi in enumerate(order):
        if blocks[bi]:
            spark.createDataFrame(blocks[bi], schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{src}/b{seq:02d}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    out = streaming_sessionize(stream, gap_minutes=30, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_id"]): (r["start_ts"], r["end_ts"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_ooo").collect()
    }

    events = spark.createDataFrame(rows, schema)
    agg = {}
    for r in sessionize(events, gap_minutes=30).collect():
        key = (r["user_id"], r["session_id"])
        t = int(r["ts"].timestamp())
        lo, hi, n = agg.get(key, (t, t, 0))
        agg[key] = (min(lo, t), max(hi, t), n + 1)
    watermark = max(hi for (_, hi, _) in agg.values()) - 2 * 3600
    expected = {k: v for k, v in agg.items() if v[1] + 30 * 60 < watermark}
    assert expected, "fixture must close at least one session"
    assert got == expected
