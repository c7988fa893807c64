"""Source connectors (wire→model conversion, fan-out fetch, error policy)
and Structured Streaming windows — hermetic fixtures, no network."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from eve_graph_spark import schemas
from eve_graph_spark.sources import esi, eve_scout

# Jita-shaped fixture — same canonical row as the reference's conversion
# test (reference: src/sync.rs:358-386).
JITA = {
    "system_id": 30000142,
    "name": "Jita",
    "constellation_id": 20000020,
    "planets": [
        {"planet_id": 40009077, "asteroid_belts": [40009078], "moons": [40009080]},
        {"planet_id": 40009087, "asteroid_belts": None, "moons": None},
    ],
    "position": {"x": -129064e12, "y": 60755e12, "z": -117469e12},
    "security_class": "B",
    "security_status": 0.9459,
    "star_id": 40009076,
    "stargates": [50001248, 50001249],
}
BARE = {"system_id": 30009999}  # all-nullable wire row → defaults

# Stargate fixture mirrors reference src/sync.rs:389-413 (50011905 → 30000144).
GATE = {
    "stargate_id": 50011905,
    "system_id": 30000142,
    "destination": {"stargate_id": 50011906, "system_id": 30000144},
    "name": "Stargate (Perimeter)",
    "position": {"x": 1.0, "y": 2.0, "z": 3.0},
    "type_id": 29624,
}


def test_systems_from_wire(spark, tmp_path):
    p = tmp_path / "systems.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in [JITA, BARE]))
    wire = esi.read_systems_json(spark, str(p))
    rows = {r["system_id"]: r for r in esi.systems_from_wire(wire).collect()}
    jita = rows[30000142]
    assert jita["name"] == "Jita"
    assert jita["planets"] == [40009077, 40009087]  # F4 nested flatten
    assert jita["stargates"] == [50001248, 50001249]
    assert jita["kills"] == 0 and jita["jumps"] == 0
    bare = rows[30009999]
    assert bare["name"] == "undefined"  # F3 defaults (sync.rs:29)
    assert bare["constellation_id"] == -1 and bare["star_id"] == -1
    assert bare["planets"] == [] and bare["stargates"] == []


def test_stargates_from_wire(spark, tmp_path):
    p = tmp_path / "gates.jsonl"
    p.write_text(json.dumps(GATE))
    wire = esi.read_stargates_json(spark, str(p))
    r = esi.stargates_from_wire(wire).collect()[0]
    assert r["stargate_id"] == 50011905
    assert r["destination_stargate_id"] == 50011906  # F5 struct flatten
    assert r["destination_system_id"] == 30000144
    assert r["x"] == 1.0 and r["type_id"] == 29624


def test_fanout_fetch_and_parse(spark):
    data = {1: JITA, 2: BARE}
    ids = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    fetched = esi.fetch_details(ids, esi.make_dict_fetcher(data), concurrency=2)
    by_status = {r["id"]: r["status"] for r in fetched.collect()}
    assert by_status == {1: "ok", 2: "ok", 3: "not_found"}  # 404 → skip
    parsed = esi.parse_payloads(fetched, schemas.ESI_SYSTEM_RESPONSE)
    assert {r["system_id"] for r in parsed.collect()} == {30000142, 30009999}


def test_fanout_retry_then_success(spark):
    # Transient failures retry with backoff INSIDE the task (the
    # reference's bounded connect budget, main.rs:25); the flaky-twice
    # fetcher must still produce 'ok' without a task failure. Attempt
    # state lives in the worker process — retries happen in-call.
    def flaky(i: int, _attempts={}) -> str:
        n = _attempts.get(i, 0)
        _attempts[i] = n + 1
        if n < 2:
            raise esi.TransientFetchError(f"503 for {i}")
        return json.dumps(JITA)

    naps = []
    ids = spark.createDataFrame([(1,)], "id long")
    fetched = esi.fetch_details(
        ids, flaky, concurrency=1, retries=3, backoff_sec=0.01,
        sleeper=naps.append,
    )
    assert [r["status"] for r in fetched.collect()] == ["ok"]

    # Budget exhausted -> the error propagates (no silent 'error' rows).
    def always_down(i: int) -> str:
        raise esi.TransientFetchError("503 forever")

    import pytest as _pytest

    with _pytest.raises(Exception, match="503 forever"):
        esi.fetch_details(
            ids, always_down, concurrency=1, retries=2, backoff_sec=0.0,
            sleeper=lambda s: None,
        ).collect()


def test_fanout_rate_limit_aborts_batch(spark):
    # 420/429 aborts the WHOLE batch (sync.rs:323-350): no retry, the
    # stage fails fast — and 404-skip still applies to other ids first.
    def limited(i: int) -> str:
        if i == 2:
            raise esi.RateLimitError("429 too many requests")
        return json.dumps(JITA)

    ids = spark.createDataFrame([(1,), (2,)], "id long")
    import pytest as _pytest

    with _pytest.raises(Exception, match="429"):
        esi.fetch_details(ids, limited, concurrency=1).collect()


def test_signatures_filter_and_expiry(spark, tmp_path):
    sigs = [
        {"id": "a", "signature_type": "wormhole", "in_system_id": 1, "out_system_id": 2,
         "created_at": "2026-01-01T00:00:00Z", "expires_at": "2026-01-01T16:00:00Z"},
        {"id": "b", "signature_type": "data", "in_system_id": 3, "out_system_id": 4,
         "created_at": "2026-01-01T00:00:00Z", "expires_at": "2026-01-02T00:00:00Z"},
        {"id": "c", "signature_type": "wormhole", "in_system_id": 5, "out_system_id": 6,
         "created_at": "2026-01-01T00:00:00Z", "expires_at": "2026-01-01T02:00:00Z"},
    ]
    p = tmp_path / "sigs.jsonl"
    p.write_text("\n".join(json.dumps(s) for s in sigs))
    parsed = eve_scout.parse_signatures(eve_scout.read_signatures_json(spark, str(p)))
    active = eve_scout.active_wormholes(parsed, now="2026-01-01 08:00:00")
    assert {r["id"] for r in active.collect()} == {"a"}  # b: not wormhole; c: expired


def test_permissive_corrupt_records(spark, tmp_path):
    # S7 decode-error policy: PERMISSIVE mode captures undecodable rows in
    # _corrupt_record instead of failing the batch (esi.rs:109-138's
    # JSON-decode arm, batch form)
    p = tmp_path / "dirty.jsonl"
    p.write_text('{"system_id": 1}\nNOT JSON AT ALL\n{"system_id": 2}')
    df = (
        spark.read.schema("system_id long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {r["system_id"] for r in rows if r["_corrupt_record"] is None}
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == {1, 2}
    assert len(bad) == 1 and "NOT JSON" in bad[0]["_corrupt_record"]


def test_foreachbatch_wormhole_refresh_updates_engine(spark, tmp_path):
    # streaming -> engine integration: each micro-batch of signatures
    # drives GraphEngine.refresh_wormholes (the A6 dataflow) via
    # foreachBatch — the streaming analogue of POST /wormholes/refresh
    import json as _json

    from eve_graph_spark import schemas
    from eve_graph_spark.api import GraphEngine

    eng = GraphEngine(
        spark.createDataFrame(
            [(1, "Sys1", -1, 0.5, "B", -1, 0.0, 0.0, 0.0, [], [], 0, 0),
             (2, "Sys2", -1, 0.5, "B", -1, 0.0, 0.0, 0.0, [], [], 0, 0)],
            schemas.SYSTEM,
        ),
        spark.createDataFrame([], schemas.JUMP),
    )
    p = tmp_path / "sigstream2"
    p.mkdir()
    (p / "b0.jsonl").write_text(_json.dumps(
        {"id": "w", "signature_type": "wormhole", "in_system_id": 1, "out_system_id": 2}))
    raw = spark.readStream.schema(
        "id string, signature_type string, in_system_id long, out_system_id long"
    ).json(str(p))
    q = (
        raw.writeStream.foreachBatch(lambda batch, _bid: eng.refresh_wormholes(batch))
        .option("checkpointLocation", str(tmp_path / "ckpt_wh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {(r["src_system_id"], r["dst_system_id"]) for r in eng.jumps.collect()}
    assert pairs == {(1, 2), (2, 1)}


@pytest.fixture()
def event_stream(spark, tmp_path):
    """File-based micro-batch stream of events with event-time column."""
    rows = []
    base = 1_700_000_000
    for u in (1, 2):
        for i in range(6):
            rows.append({"event_id": u * 100 + i, "user_id": u,
                         "ts": base + u * 40 + i * 60, "event_type": "click", "value": 1.5})
    # duplicate delivery of one event (for dedup test)
    rows.append(dict(rows[0]))
    p = tmp_path / "stream"
    p.mkdir()
    (p / "part1.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    raw = (
        spark.readStream.schema("event_id long, user_id long, ts long, event_type string, value double")
        .json(str(p))
        .withColumn("ts", F.timestamp_seconds("ts"))
    )
    return raw


def _run_to_memory(stream_df, name: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_tumbling_window(spark, event_stream):
    from eve_graph_spark.streaming.windows import tumbling_counts

    # events span ~6 min, so the watermark delay must be shorter than the
    # span for append mode to close any window within this finite stream
    _run_to_memory(
        tumbling_counts(event_stream, window="5 minutes", watermark="1 minute"),
        "tumb", "append")
    rows = spark.sql("SELECT * FROM tumb").collect()
    # append mode emits only watermark-closed windows; the no-data final
    # micro-batch flushes windows whose end <= max_ts - 1 minute
    assert sum(r["n_events"] for r in rows) >= 1
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_streaming_session_window(spark, event_stream):
    from eve_graph_spark.streaming.windows import session_counts

    # a session closes at last_event+gap, which is always past the finite
    # stream's max ts, so append mode would emit nothing — use complete
    _run_to_memory(session_counts(event_stream, gap="2 minutes"), "sess", "complete")
    rows = spark.sql("SELECT * FROM sess").collect()
    got = {(r["user_id"]): r["n_events"] for r in rows}
    # each user's 6 events are 60s apart → one session of 6 (plus the dup)
    assert got.get(1, 0) >= 6


def test_streaming_dedup(spark, event_stream):
    from eve_graph_spark.streaming.windows import dedup_within_watermark

    _run_to_memory(dedup_within_watermark(event_stream, ["event_id"]), "dd", "append")
    ids = [r["event_id"] for r in spark.sql("SELECT event_id FROM dd").collect()]
    assert len(ids) == len(set(ids)) == 12  # duplicate delivery dropped


def test_stream_stream_interval_join(spark, tmp_path):
    from eve_graph_spark.streaming.windows import interval_join

    base = 1_700_000_000
    views = [{"user_id": 1, "ts": base, "view_id": 100},
             {"user_id": 1, "ts": base + 1200, "view_id": 101},  # outside lookback of p1
             {"user_id": 2, "ts": base, "view_id": 200}]
    purchases = [{"user_id": 1, "ts": base + 300, "purchase_id": 900},
                 {"user_id": 3, "ts": base + 300, "purchase_id": 901}]
    vdir, pdir = tmp_path / "views", tmp_path / "purch"
    vdir.mkdir(); pdir.mkdir()
    (vdir / "v.jsonl").write_text("\n".join(json.dumps(r) for r in views))
    (pdir / "p.jsonl").write_text("\n".join(json.dumps(r) for r in purchases))
    vs = (spark.readStream.schema("user_id long, ts long, view_id long").json(str(vdir))
          .withColumn("ts", F.timestamp_seconds("ts")))
    ps = (spark.readStream.schema("user_id long, ts long, purchase_id long").json(str(pdir))
          .withColumn("ts", F.timestamp_seconds("ts")))
    joined = interval_join(ps, vs, key="user_id", lookback="10 minutes")
    _run_to_memory(joined.select("purchase_id", "view_id"), "ssj", "append")
    pairs = {(r["purchase_id"], r["view_id"]) for r in spark.sql("SELECT * FROM ssj").collect()}
    # p900 matches only v100 (v101 is later than the purchase; user 2's
    # view is another key; p901's user has no views)
    assert pairs == {(900, 100)}


def test_wormhole_expiry_stream(spark, tmp_path):
    from eve_graph_spark.streaming.windows import wormhole_expiry_stream

    sigs = [
        {"id": "a", "signature_type": "wormhole", "in_system_id": 1, "out_system_id": 2,
         "expires_at": 1_700_000_000},
        {"id": "a", "signature_type": "wormhole", "in_system_id": 1, "out_system_id": 2,
         "expires_at": 1_700_000_000},  # duplicate delivery
        {"id": "b", "signature_type": "data", "in_system_id": 3, "out_system_id": 4,
         "expires_at": 1_700_000_600},
    ]
    p = tmp_path / "sigstream"
    p.mkdir()
    (p / "b.jsonl").write_text("\n".join(json.dumps(s) for s in sigs))
    raw = (
        spark.readStream.schema("id string, signature_type string, in_system_id long, out_system_id long, expires_at long")
        .json(str(p))
        .withColumn("expires_at", F.timestamp_seconds("expires_at"))
    )
    _run_to_memory(wormhole_expiry_stream(raw), "wh", "append")
    rows = spark.sql("SELECT * FROM wh").collect()
    pairs = {(r["src_system_id"], r["dst_system_id"]) for r in rows}
    assert pairs == {(1, 2), (2, 1)}  # bidirectional, dedup'd, non-wormhole dropped
    assert len(rows) == 2


def test_events_with_ts_both_disk_encodings(spark, tmp_path):
    """events.ts has shipped as TIMESTAMP(NANOS)-read-as-long AND as
    TIMESTAMP(MICROS); events_with_ts must derive identical
    ts_ns/ts_sec/ts from either encoding (r3→r4 data change)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eve_graph_spark.sources.tables import events_with_ts

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
    micros = [base_us, base_us + 1_500_000, base_us + 59_000_001]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["a", "b", "a"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(['{"k":1}'] * 3),
    }
    d_us = tmp_path / "us"
    d_us.mkdir()
    pq.write_table(
        pa.table({**cols, "ts": pa.array(micros, pa.timestamp("us"))}),
        d_us / "events.parquet",
    )
    d_ns = tmp_path / "ns"
    d_ns.mkdir()
    pq.write_table(
        pa.table({**cols, "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns"))}),
        d_ns / "events.parquet",
    )

    def snap(sf_dir):
        return sorted(
            (r["event_id"], r["ts_ns"], r["ts_sec"], r["ts"])
            for r in events_with_ts(spark, str(sf_dir)).collect()
        )

    got_us, got_ns = snap(d_us), snap(d_ns)
    assert got_us == got_ns
    assert got_us[0][1] == base_us * 1000  # ts_ns in nanos
    assert got_us[0][2] == base_us // 1_000_000  # ts_sec in seconds
    assert got_us[2][2] == base_us // 1_000_000 + 59


def test_streaming_cluster_assignment_matches_batch(spark, tmp_path):
    """Train k-means batch-side, score the same vectors as a STREAM: the
    stateless scan-side assignment must agree with the batch path row for
    row (the train-batch / score-stream pattern)."""
    from eve_graph_spark.operators.clustering import kmeans_assign, kmeans_fit
    from eve_graph_spark.sources.tables import load_table, spread
    from eve_graph_spark.streaming.windows import assign_embedding_stream

    sf = "/root/testdata/sf0.001"
    emb = spread(load_table(spark, sf, "embeddings"))
    model = kmeans_fit(emb, k=4, iterations=2)
    batch = {r["id"]: r["cluster"] for r in kmeans_assign(emb, k=4, iterations=2).collect()}

    # the parquet file-stream source wants a DIRECTORY
    import shutil

    d = tmp_path / "emb_stream"
    d.mkdir()
    shutil.copy(f"{sf}/embeddings.parquet", d / "part-0.parquet")
    stream = spark.readStream.schema(
        spark.read.parquet(f"{sf}/embeddings.parquet").schema
    ).option("maxFilesPerTrigger", 1).parquet(str(d))
    _run_to_memory(assign_embedding_stream(stream, model, k=4), "clu", "append")
    got = {r["id"]: r["cluster"] for r in spark.sql("SELECT * FROM clu").collect()}
    assert got == batch


# --- eve_scout streaming source (Spark-4 simpleStreamReader) -----------------

def _sig(sid, a, b):
    return {"id": sid, "signature_type": "wormhole",
            "in_system_id": a, "out_system_id": b,
            "created_at": "2026-01-01T00:00:00Z",
            "expires_at": "2099-01-01T00:00:00Z", "completed": True}


def _proj_rows(engine):
    from eve_graph_spark.api import SYSTEM_MAP

    return sorted(
        (r["src"], r["dst"], r["weight"])
        for r in engine.registry.get(SYSTEM_MAP).collect()
    )


def _fixture_engine(spark, sf_dir):
    from eve_graph_spark.api import GraphEngine
    from eve_graph_spark.sources.graph_fixture import build_jumps, build_systems

    eng = GraphEngine(build_systems(spark, sf_dir), build_jumps(spark, sf_dir))
    eng.build_cost_projection()
    return eng


def _run_wormhole_stream(spark, poll_dir, ckpt, handler):
    from eve_graph_spark.sources.custom_datasource import (
        STREAM_DDL,
        register_eve_scout,
    )

    register_eve_scout(spark)
    raw = (
        spark.readStream.format("eve_scout")
        .schema(STREAM_DDL)
        .option("path", str(poll_dir))
        .load()
    )
    q = (
        raw.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_eve_scout_stream_refresh_and_offset_resume(spark, sf_dir, tmp_path):
    """r8 verdict item 7 end-to-end: two polls through the eve_scout
    STREAMING source drive one wormhole refresh per micro-batch; the cost
    projection matches direct `refresh_wormholes` calls after each poll,
    the second streaming run resumes from the committed offset (only the
    new poll is processed), and an empty poll is still applied."""
    import json as _json

    from eve_graph_spark.api import wormhole_stream_handler
    from eve_graph_spark.sources.eve_scout import parse_signatures

    polls = tmp_path / "polls"
    polls.mkdir()
    ckpt = tmp_path / "ckpt_scout"
    (polls / "poll-000.json").write_text(
        _json.dumps([_sig("w1", 4, 9), _sig("w2", 6, 11)])
    )

    eng = _fixture_engine(spark, sf_dir)
    stats: dict = {}
    _run_wormhole_stream(
        spark, polls, ckpt, wormhole_stream_handler(eng, stats)
    )
    assert stats["polls"] == [0]

    # parity vs direct refresh_wormholes calls after poll 0
    def full_rebuild(poll_files):
        ref = _fixture_engine(spark, sf_dir)
        for pf in poll_files:
            sig_df = parse_signatures(
                spark.read.json(
                    spark.sparkContext.parallelize([
                        _json.dumps(r) for r in _json.loads(pf.read_text())
                    ])
                )
            )
            ref.refresh_wormholes(sig_df)
        return ref

    assert _proj_rows(eng) == _proj_rows(full_rebuild([polls / "poll-000.json"]))

    # poll 1 arrives; a NEW streaming run on the SAME checkpoint resumes
    # from the committed offset — only poll_id 1 is applied
    (polls / "poll-001.json").write_text(
        _json.dumps([_sig("w2", 6, 11), _sig("w3", 8, 19)])
    )
    stats2: dict = {}
    _run_wormhole_stream(
        spark, polls, ckpt, wormhole_stream_handler(eng, stats2)
    )
    # poll_id is batch-relative rank: exactly ONE poll applied in run 2
    # (had run 2 re-read poll-000 too, latest-wins would report rank 1)
    assert stats2["polls"] == [0]
    assert _proj_rows(eng) == _proj_rows(
        full_rebuild([polls / "poll-000.json", polls / "poll-001.json"])
    )

    # an EMPTY poll (all wormholes expired) still applies: the sentinel row
    # makes the batch non-empty, the handler passes an empty signature set
    # through the reference reset semantics (Thera/Turnur-only removal —
    # no fixture system carries those names, so the projection is stable,
    # but the poll must be SEEN and counted, not skipped)
    (polls / "poll-002.json").write_text("[]")
    stats3: dict = {}
    _run_wormhole_stream(
        spark, polls, ckpt, wormhole_stream_handler(eng, stats3)
    )
    assert stats3["polls"] == [0]
    assert _proj_rows(eng) == _proj_rows(
        full_rebuild([polls / "poll-000.json", polls / "poll-001.json"])
    )


def test_eve_scout_stream_reader_offsets_replay(spark, tmp_path):
    """Unit contract of the simple stream reader: initialOffset, read()
    advancing the offset, exact readBetweenOffsets replay, and catch-up
    batches tagging rows with their poll_id."""
    import json as _json

    from pyspark.sql.types import _parse_datatype_string

    from eve_graph_spark.sources.custom_datasource import (
        STREAM_DDL,
        _EveScoutStreamReader,
    )

    polls = tmp_path / "polls_u"
    polls.mkdir()
    (polls / "a.json").write_text(_json.dumps([_sig("s1", 1, 2)]))
    (polls / "b.json").write_text(_json.dumps([_sig("s2", 3, 4), _sig("s3", 5, 6)]))

    rdr = _EveScoutStreamReader(
        _parse_datatype_string(STREAM_DDL), {"path": str(polls)}
    )
    assert rdr.initialOffset() == {"last": ""}
    rows, end = rdr.read({"last": ""})
    rows = list(rows)
    # 1 record + sentinel from a.json, 2 records + sentinel from b.json
    assert end == {"last": "b.json"} and len(rows) == 5
    # poll_id is the LAST field: batch-relative rank; one all-NULL
    # sentinel closes each poll
    assert [r[-1] for r in rows] == [0, 0, 1, 1, 1]
    assert [r[0] for r in rows] == ["s1", None, "s2", "s3", None]
    # replay of a window returns exactly that window's rows (same ranks
    # as the original read of the same window)
    replay = list(rdr.readBetweenOffsets({"last": "a.json"}, {"last": "b.json"}))
    assert [r[0] for r in replay] == ["s2", "s3", None]
    assert all(r[-1] == 0 for r in replay)
    # nothing new: empty batch, offset unchanged
    rows2, end2 = rdr.read(end)
    assert list(rows2) == [] and end2 == {"last": "b.json"}
    # filename offsets survive the poller EXPIRING consumed snapshots —
    # a count-based index would slide backward here and re-read b.json
    (polls / "a.json").unlink()
    rows3, end3 = rdr.read(end)
    assert list(rows3) == [] and end3 == {"last": "b.json"}
    (polls / "c.json").write_text(_json.dumps([_sig("s4", 7, 8)]))
    rows4, end4 = rdr.read(end3)
    assert [r[0] for r in rows4] == ["s4", None] and end4 == {"last": "c.json"}
    # poll_id demanded anywhere but last is refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="LAST field"):
        _EveScoutStreamReader(
            _parse_datatype_string("poll_id long, id string"), {"path": str(polls)}
        )


# --- streaming risk refresh (r9 verdict item 6) ------------------------------

def _activity_poll(path, poll_id, rows):
    """One activity-feed poll file: full-state per-system counters."""
    import json as _json

    path.write_text("\n".join(
        _json.dumps({"system_id": sid, "ship_kills": k, "ship_jumps": j,
                     "poll_id": poll_id})
        for sid, k, j in rows
    ))


def _run_activity_stream(spark, poll_dir, ckpt, handler):
    stream = (
        spark.readStream.schema(
            "system_id long, ship_kills long, ship_jumps long, poll_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(poll_dir))
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


def _risk_proj_rows(engine):
    from eve_graph_spark.api import JUMP_RISK

    return sorted(
        (r["src"], r["dst"], r["weight"])
        for r in engine.registry.get(JUMP_RISK).collect()
    )


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_risk_stream_two_polls_reranks_routes_and_matches_batch(
    spark, sf_dir, tmp_path
):
    """r9 verdict item 6 end-to-end: two activity micro-batches through the
    file stream drive refresh_risk per poll (one file per micro-batch via
    maxFilesPerTrigger=1); the risk projection after each poll is
    bit-identical to the batch refresh_risk path, and the safest route
    re-ranks when poll 1 makes the poll-0 route's transit system hot."""
    from eve_graph_spark.api import risk_stream_handler

    eng = _fixture_engine(spark, sf_dir)
    names = {
        r["system_id"]: r["name"] for r in eng.systems.collect()
    }
    all_ids = sorted(names)
    a, b, mid = names[0], names[2], names[1]

    polls = tmp_path / "activity"
    polls.mkdir()
    ckpt = tmp_path / "ckpt_risk"
    # poll 0: system 1 is quiet (risk ~0.01), everything else mildly hot —
    # the 0->2 safest route transits 1
    _activity_poll(polls / "poll-000.json", 0,
                   [(i, 1 if i == 1 else 2, 100 if i == 1 else 4)
                    for i in all_ids])
    stats: dict = {}
    _run_activity_stream(spark, polls, ckpt, risk_stream_handler(eng, stats))
    assert stats["polls"] == [0]

    route0 = eng.safest_route(a, b)
    assert mid in route0  # the quiet system carries the route

    # batch parity after poll 0
    def batch_engine(poll_rows_list):
        ref = _fixture_engine(spark, sf_dir)
        for rows in poll_rows_list:
            feed = spark.createDataFrame(
                [(sid, k, j) for sid, k, j in rows],
                "system_id long, ship_kills long, ship_jumps long",
            )
            ref.refresh_risk(
                feed.select("system_id", "ship_kills"),
                feed.select("system_id", "ship_jumps"),
            )
        return ref

    p0 = [(i, 1 if i == 1 else 2, 100 if i == 1 else 4) for i in all_ids]
    ref0 = batch_engine([p0])
    assert _risk_proj_rows(eng) == _risk_proj_rows(ref0)
    assert route0 == ref0.safest_route(a, b)

    # poll 1 arrives: system 1 goes hot (risk ~1e6) — resumed run applies
    # only the new poll, and the route re-ranks around it
    p1 = [(i, 1000 if i == 1 else 2, 1 if i == 1 else 4) for i in all_ids]
    _activity_poll(polls / "poll-001.json", 1, p1)
    stats2: dict = {}
    _run_activity_stream(spark, polls, ckpt, risk_stream_handler(eng, stats2))
    assert stats2["polls"] == [1]

    route1 = eng.safest_route(a, b)
    assert mid not in route1 and route1 != route0  # re-ranked off system 1
    ref1 = batch_engine([p0, p1])
    assert _risk_proj_rows(eng) == _risk_proj_rows(ref1)
    assert route1 == ref1.safest_route(a, b)


def test_risk_stream_catchup_batch_applies_latest_poll_only(
    spark, sf_dir, tmp_path
):
    """A catch-up micro-batch holding BOTH polls applies only the latest
    (full-state feed: older polls are superseded counters), matching a
    batch engine that saw only poll 1."""
    from eve_graph_spark.api import risk_stream_handler

    eng = _fixture_engine(spark, sf_dir)
    all_ids = sorted(r["system_id"] for r in eng.systems.collect())
    p0 = [(i, 1, 100) for i in all_ids]
    p1 = [(i, (i * 5) % 7 + 1, (i * 3) % 5 + 1) for i in all_ids]

    polls = tmp_path / "activity_catchup"
    polls.mkdir()
    _activity_poll(polls / "poll-000.json", 0, p0)
    _activity_poll(polls / "poll-001.json", 1, p1)

    stream = spark.readStream.schema(
        "system_id long, ship_kills long, ship_jumps long, poll_id long"
    ).json(str(polls))  # no maxFilesPerTrigger: ONE batch with both polls
    stats: dict = {}
    q = (
        stream.writeStream.foreachBatch(risk_stream_handler(eng, stats))
        .option("checkpointLocation", str(tmp_path / "ckpt_catchup"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert stats["polls"] == [1]

    ref = _fixture_engine(spark, sf_dir)
    feed = spark.createDataFrame(
        p1, "system_id long, ship_kills long, ship_jumps long"
    )
    ref.refresh_risk(
        feed.select("system_id", "ship_kills"),
        feed.select("system_id", "ship_jumps"),
    )
    assert _risk_proj_rows(eng) == _risk_proj_rows(ref)


def test_risk_stream_stale_poll_never_regresses_fresher_state(
    spark, sf_dir, tmp_path
):
    """r10 advice: batches arrive mtime-ordered, so a backfilled file can
    deliver an OLDER poll after a newer one — the handler must skip it
    instead of overwriting fresher full-state risk."""
    from eve_graph_spark.api import risk_stream_handler

    eng = _fixture_engine(spark, sf_dir)
    all_ids = sorted(r["system_id"] for r in eng.systems.collect())
    stats: dict = {}
    handle = risk_stream_handler(eng, stats)

    fresh = spark.createDataFrame(
        [(i, 7, 3, 5) for i in all_ids],
        "system_id long, ship_kills long, ship_jumps long, poll_id long",
    )
    handle(fresh, 0)
    assert stats["polls"] == [5]
    state_after_fresh = _risk_proj_rows(eng)

    stale = spark.createDataFrame(
        [(i, 999, 1, 3) for i in all_ids],
        "system_id long, ship_kills long, ship_jumps long, poll_id long",
    )
    handle(stale, 1)  # poll 3 < applied poll 5 -> skipped entirely
    assert stats["polls"] == [5]
    assert _risk_proj_rows(eng) == state_after_fresh

    replay = spark.createDataFrame(
        [(i, 7, 3, 5) for i in all_ids],
        "system_id long, ship_kills long, ship_jumps long, poll_id long",
    )
    handle(replay, 2)  # exact replay of the applied poll -> also skipped
    assert stats["polls"] == [5]


def test_risk_stream_duplicate_rows_in_poll_do_not_fan_out(
    spark, sf_dir, tmp_path
):
    """r10 advice: the same poll split across files can duplicate a
    system_id inside one batch; the handler reduces to one row per system
    (max counters) so the update join cannot fan out the systems table."""
    from eve_graph_spark.api import risk_stream_handler

    eng = _fixture_engine(spark, sf_dir)
    all_ids = sorted(r["system_id"] for r in eng.systems.collect())
    n_systems = eng.systems.count()
    handle = risk_stream_handler(eng, {})

    rows = [(i, 2, 4, 0) for i in all_ids]
    rows += [(all_ids[0], 9, 1, 0), (all_ids[0], 2, 4, 0)]  # dup system
    handle(
        spark.createDataFrame(
            rows, "system_id long, ship_kills long, ship_jumps long, poll_id long"
        ),
        0,
    )
    assert eng.systems.count() == n_systems  # no fan-out through the join

    ref = _fixture_engine(spark, sf_dir)
    feed = spark.createDataFrame(
        [(i, 9 if i == all_ids[0] else 2, 4) for i in all_ids],
        "system_id long, ship_kills long, ship_jumps long",
    )
    ref.refresh_risk(
        feed.select("system_id", "ship_kills"),
        feed.select("system_id", "ship_jumps"),
    )
    assert _risk_proj_rows(eng) == _risk_proj_rows(ref)


def test_risk_stream_poll_logged_only_after_refresh_succeeds(
    spark, sf_dir, tmp_path
):
    """r10 advice: a mid-batch refresh failure must not record the poll as
    applied — the retry of the same poll must go through."""
    from eve_graph_spark.api import risk_stream_handler

    eng = _fixture_engine(spark, sf_dir)
    all_ids = sorted(r["system_id"] for r in eng.systems.collect())
    stats: dict = {}
    handle = risk_stream_handler(eng, stats)

    real_refresh = eng.refresh_risk
    calls = {"n": 0}

    def flaky(kills, jumps):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient refresh failure")
        return real_refresh(kills, jumps)

    eng.refresh_risk = flaky
    batch = spark.createDataFrame(
        [(i, 3, 2, 7) for i in all_ids],
        "system_id long, ship_kills long, ship_jumps long, poll_id long",
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        handle(batch, 0)
    assert stats.get("polls", []) == []  # failure -> not logged as applied

    handle(batch, 1)  # retry of the SAME poll must not be skipped
    assert stats["polls"] == [7]


def _stream_batch(spark, poll_id, sigs):
    """A foreachBatch frame shaped like the eve_scout streaming source:
    signature rows + the all-NULL poll sentinel, STREAM_DDL schema."""
    from eve_graph_spark.sources.custom_datasource import STREAM_DDL

    rows = [
        (f"sig-{a}-{b}", "wormhole", b, "sig-o", a, "sig-i", "large",
         "2099-01-01T00:00:00Z", 24, poll_id)
        for a, b in sigs
    ]
    rows.append((None, None, None, None, None, None, None, None, None, poll_id))
    return spark.createDataFrame(rows, STREAM_DDL)


def test_wormhole_stream_stale_poll_never_resurrects_expired(
    spark, sf_dir, tmp_path
):
    """Symmetric hardening to the risk handler: a backfilled older poll
    arriving after a newer one must be skipped — applying it would
    transiently resurrect wormholes the fresher poll expired."""
    from eve_graph_spark.api import wormhole_stream_handler

    eng = _fixture_engine(spark, sf_dir)
    stats: dict = {}
    handle = wormhole_stream_handler(eng, stats)

    handle(_stream_batch(spark, 9, [(0, 3)]), 0)
    assert stats["polls"] == [9]
    after_fresh = sorted(
        (r["src_system_id"], r["dst_system_id"])
        for r in eng.jumps.filter(F.col("kind") == "wormhole").collect()
    )
    # stale poll 4 carries a DIFFERENT signature set; applying it would
    # both resurrect and reshape wormhole state
    handle(_stream_batch(spark, 4, [(1, 4), (2, 5)]), 1)
    assert stats["polls"] == [9]
    assert sorted(
        (r["src_system_id"], r["dst_system_id"])
        for r in eng.jumps.filter(F.col("kind") == "wormhole").collect()
    ) == after_fresh


def test_wormhole_stream_duplicate_signature_rows_collapse(
    spark, sf_dir, tmp_path
):
    from eve_graph_spark.api import wormhole_stream_handler

    eng = _fixture_engine(spark, sf_dir)
    handle = wormhole_stream_handler(eng, {})
    batch = _stream_batch(spark, 1, [(0, 3), (0, 3)])  # dup signature id
    handle(batch, 0)
    wh = eng.jumps.filter(F.col("kind") == "wormhole")
    pairs = [(r["src_system_id"], r["dst_system_id"]) for r in wh.collect()]
    # exactly one bi-edge for the duplicated signature, no fan-out
    assert pairs.count((0, 3)) == 1 and pairs.count((3, 0)) == 1


def test_wormhole_stream_conflicting_duplicate_ids_resolve_deterministically(
    spark, sf_dir, tmp_path
):
    """ADVICE r11: dropDuplicates(["id"]) kept an ARBITRARY row when
    duplicate ids disagreed on other columns — run-dependent wormhole
    state. The handler now keeps the first row of the full-column total
    order: for two conflicting rows of sig id, the one with the smaller
    (signature_type, out_system_id, ...) tuple must always win."""
    from eve_graph_spark.api import wormhole_stream_handler
    from eve_graph_spark.sources.custom_datasource import STREAM_DDL

    eng = _fixture_engine(spark, sf_dir)
    handle = wormhole_stream_handler(eng, {})
    rows = [
        # same id, CONFLICTING endpoints; (out=1, in=4) sorts after
        # (out=0, in=3) in the full-column order, so (0, 3) must win —
        # listed conflicting-row-first to catch an implementation that
        # keeps physical-last
        ("sig-dup", "wormhole", 4, "sig-o", 1, "sig-i", "large",
         "2099-01-01T00:00:00Z", 12, 1),
        ("sig-dup", "wormhole", 3, "sig-o", 0, "sig-i", "large",
         "2099-01-01T00:00:00Z", 24, 1),
        (None, None, None, None, None, None, None, None, None, 1),
    ]
    handle(spark.createDataFrame(rows, STREAM_DDL), 0)
    pairs = sorted(
        (r["src_system_id"], r["dst_system_id"])
        for r in eng.jumps.filter(F.col("kind") == "wormhole").collect()
    )
    # winner applied exactly once, loser absent (fixture wormholes persist)
    assert pairs.count((0, 3)) == 1 and pairs.count((3, 0)) == 1
    assert (1, 4) not in pairs and (4, 1) not in pairs
