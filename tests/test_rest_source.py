"""REST connector tests without the network (SURVEY §5.2.4): a local
http.server scripts pagination, short pages, 429 + Retry-After, 5xx
sequences, and terminal 4xx — exercising the reference's safe_get semantics
(/root/reference/etl_connector.py:53-85) exactly.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA, RAW_PULSES
from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import (
    RestSourceError,
    normalize_payload,
    pulses_df,
    safe_get,
)


class _StubState:
    """Mutable per-server script: page payloads + injected failures."""

    def __init__(self):
        self.pages: dict[int, dict] = {}
        self.fail_first: list[tuple[int, dict]] = []  # (status, headers) queue
        self.requests: list[dict] = []  # observed (page, headers)
        self.lock = threading.Lock()


def _make_handler(state: _StubState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # silence
            pass

        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            page = int(q.get("page", ["1"])[0])
            with state.lock:
                state.requests.append(
                    {"page": page, "api_key": self.headers.get("X-OTX-API-KEY")}
                )
                if state.fail_first:
                    status, hdrs = state.fail_first.pop(0)
                    self.send_response(status)
                    for k, v in hdrs.items():
                        self.send_header(k, v)
                    self.end_headers()
                    return
                payload = state.pages.get(page, {"results": []})
            body = json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

    return Handler


@pytest.fixture()
def stub_server():
    state = _StubState()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_address[1]}", state
    server.shutdown()


FAST = dict(backoff_initial_s="0.01", max_retries="5")


# ---------------------------------------------------------------------------
# safe_get unit tests (no Spark — the R3 state machine in isolation)
# ---------------------------------------------------------------------------


def test_safe_get_retries_429_with_retry_after(stub_server):
    base, state = stub_server
    state.pages[1] = {"results": [{"id": "x"}]}
    state.fail_first = [(429, {"Retry-After": "0.01"})]
    sleeps: list[float] = []
    body = safe_get(
        base + "/pulses/subscribed",
        params={"limit": 1, "page": 1},
        backoff_initial_s=0.01,
        sleep=sleeps.append,
    )
    assert json.loads(body)["results"] == [{"id": "x"}]
    assert sleeps == [0.01]  # honored Retry-After, not the backoff
    assert len(state.requests) == 2


def test_safe_get_retries_5xx_with_exponential_backoff(stub_server):
    base, state = stub_server
    state.pages[1] = {"results": [{"id": "y"}]}
    state.fail_first = [(500, {}), (503, {})]
    sleeps: list[float] = []
    body = safe_get(
        base + "/pulses/subscribed", backoff_initial_s=1.0, sleep=sleeps.append
    )
    assert json.loads(body)["results"] == [{"id": "y"}]
    assert sleeps == [1.0, 2.0]  # x2 exponential (etl_connector.py:55,62)
    assert len(state.requests) == 3


def test_safe_get_raises_on_other_4xx(stub_server):
    base, state = stub_server
    state.fail_first = [(404, {})]
    with pytest.raises(RestSourceError, match="HTTP 404"):
        safe_get(base + "/nope", sleep=lambda _: None)
    assert len(state.requests) == 1  # no retry on non-429 4xx


def test_safe_get_exhausts_retries(stub_server):
    base, state = stub_server
    state.fail_first = [(500, {})] * 5
    with pytest.raises(RestSourceError, match="after 5 attempts"):
        safe_get(base + "/x", max_retries=5, sleep=lambda _: None)
    assert len(state.requests) == 5


def test_normalize_payload_shapes():
    items = [{"id": 1}, {"id": 2}]
    assert normalize_payload({"results": items}) == items  # :102
    assert normalize_payload({"pulses": items}) == items  # :102
    assert normalize_payload(items) == items  # whole-body list
    # first-list probe is ONE level deep (:108-113): list under any key works,
    # a dict-wrapped list does not (reference bails, :115-117)
    assert normalize_payload({"count": 2, "data": items}) == items
    assert normalize_payload({"data": {"deep": items}}) == []
    assert normalize_payload({"nothing": 42}) == []  # type guard :115-117
    assert normalize_payload(json.dumps({"results": items})) == items


# ---------------------------------------------------------------------------
# Spark reader end-to-end (partition planning, short-page stop, auth)
# ---------------------------------------------------------------------------


def test_reader_paginates_and_stops_on_short_page(spark, stub_server):
    base, state = stub_server
    # 2 full pages of 3, then a short page of 2 -> 8 items, stop at page 3.
    state.pages = {
        1: {"results": RAW_PULSES[0:3]},
        2: {"pulses": RAW_PULSES[3:6]},  # alternate payload key (R4)
        3: {"count": 2, "data": RAW_PULSES[6:8]},  # first-list probe (R4)
        4: {"results": RAW_PULSES[0:3]},  # must never be fetched
    }
    df = pulses_df(
        spark,
        base,
        RAW_PULSE_SCHEMA,
        api_key="sekrit",
        per_page="3",
        max_pages="50",
        **FAST,
    )
    rows = df.collect()
    assert len(rows) == 8
    pages_hit = {r["page"] for r in state.requests}
    assert 3 in pages_hit and 4 not in pages_hit  # stopped at the short page
    assert all(r["api_key"] == "sekrit" for r in state.requests)  # R2 auth

    # raw struct is projected for the pipeline (nested access works)
    ids = {r["raw"]["id"] for r in rows if r["raw"] is not None}
    assert "p-001" in ids


def test_reader_page_range_partitions(spark, stub_server):
    base, state = stub_server
    # every page full -> reads exactly max_pages, split across partitions
    state.pages = {p: {"results": RAW_PULSES[0:2]} for p in range(1, 7)}
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import register_rest_source

    register_rest_source(spark)
    df = (
        spark.read.format("paginated_rest")
        .option("base_url", base)
        .option("per_page", "2")
        .option("max_pages", "6")
        .option("pages_per_partition", "2")
        .option("backoff_initial_s", "0.01")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # ceil(6/2) page-range partitions
    assert df.count() == 12
    assert {r["page"] for r in state.requests} == {1, 2, 3, 4, 5, 6}


def test_reader_survives_transient_failures(spark, stub_server):
    base, state = stub_server
    state.pages = {1: {"results": RAW_PULSES[0:2]}}
    state.fail_first = [(429, {"Retry-After": "0.01"}), (500, {})]
    df = pulses_df(spark, base, RAW_PULSE_SCHEMA, per_page="5", max_pages="3", **FAST)
    assert df.count() == 2
    assert len(state.requests) == 3  # 2 failures + 1 success


def test_reader_fails_terminally_on_4xx(spark, stub_server):
    base, state = stub_server
    state.fail_first = [(403, {})]
    df = pulses_df(spark, base, RAW_PULSE_SCHEMA, per_page="5", max_pages="1", **FAST)
    with pytest.raises(Exception, match="HTTP 403"):
        df.count()


def test_rest_to_pipeline_end_to_end(spark, stub_server, tmp_path):
    """R1->R6->R7->R8 composed: REST read -> transform -> validate -> upsert
    (the reference's main(), etl_connector.py:206-239, over the wire)."""
    import datetime as dt

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import run_batch

    base, state = stub_server
    state.pages = {1: {"results": RAW_PULSES}}  # one short page, all corners
    raw_df = pulses_df(spark, base, RAW_PULSE_SCHEMA, per_page="50", **FAST)
    cfg = PipelineConfig(api_key="k", base_url=base, connector_name="t", city="")
    target = str(tmp_path / "pulses")
    metrics = run_batch(
        spark, raw_df, cfg, target, run_ts=dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    )
    assert metrics["records_seen"] == len(RAW_PULSES)
    out = spark.read.parquet(target)
    # keyed rows dedup to one per pulse_id; NULL-key rows all kept (R8)
    keyed = out.filter(F.col("pulse_id").isNotNull())
    assert keyed.count() == keyed.select("pulse_id").distinct().count()


def test_run_batch_fetches_each_page_once(spark, stub_server, tmp_path):
    """One ETL batch reads its source once: every page is requested
    exactly once, so a live API is seen as one snapshot (fetch
    amplification 1.0), also when the target already exists."""
    import datetime as dt

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import run_batch

    base, state = stub_server
    items = [{"id": f"p-{i}", "pulse_info": {"id": f"p-{i}"}} for i in range(9)]
    # four full pages of 2, then a short page of 1
    state.pages = {p: {"results": items[2 * (p - 1) : 2 * p]} for p in range(1, 6)}
    cfg = PipelineConfig(api_key="k", base_url=base, connector_name="t", city="")
    target = str(tmp_path / "pulses")
    for day in (1, 2):
        state.requests.clear()
        raw_df = pulses_df(
            spark, base, RAW_PULSE_SCHEMA, per_page="2", max_pages="6",
            pages_per_partition="2", **FAST,
        )
        metrics = run_batch(
            spark, raw_df, cfg, target,
            run_ts=dt.datetime(2024, 1, day, tzinfo=dt.timezone.utc),
        )
        assert metrics["records_seen"] == 9
        pages = [r["page"] for r in state.requests]
        assert sorted(pages) == [1, 2, 3, 4, 5]  # one request per page
    assert spark.read.parquet(target).count() == 9


# ---------------------------------------------------------------------------
# Streaming mode: SimpleDataSourceStreamReader over the same stub
# ---------------------------------------------------------------------------


def test_stream_reader_offsets_and_growth(stub_server):
    """Offset math without Spark: full pages advance the cursor; a short
    page holds it at (page, len); appended items are emitted exactly once
    by the next poll; readBetweenOffsets replays a closed range exactly."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import RestSimpleStreamReader

    base, state = stub_server
    state.pages[1] = {"results": [{"id": "a"}, {"id": "b"}, {"id": "c"}]}
    state.pages[2] = {"results": [{"id": "d"}]}
    r = RestSimpleStreamReader(
        {"base_url": base, "per_page": "3", "pages_per_batch": "5"}
    )
    start = r.initialOffset()
    rows1, off1 = r._poll(start)
    assert [json.loads(x[2])["id"] for x in rows1] == ["a", "b", "c", "d"]
    assert off1 == {"page": 2, "pos": 1}

    # page 2 grows to full, page 3 appears short
    state.pages[2] = {"results": [{"id": "d"}, {"id": "e"}, {"id": "f"}]}
    state.pages[3] = {"results": [{"id": "g"}]}
    rows2, off2 = r._poll(off1)
    assert [json.loads(x[2])["id"] for x in rows2] == ["e", "f", "g"]
    assert off2 == {"page": 3, "pos": 1}

    # replay the first batch's range exactly (checkpoint recovery path)
    replay = list(r.readBetweenOffsets(start, off1))
    assert [json.loads(x[2])["id"] for x in replay] == ["a", "b", "c", "d"]


def test_stream_source_end_to_end(spark, stub_server, tmp_path):
    """spark.readStream.format("paginated_rest"): micro-batch 1 drains the
    available pages into a parquet sink; after the feed grows, a restarted
    query (same checkpoint) emits only the new items — nothing re-emitted,
    nothing lost."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import register_rest_source

    base, state = stub_server
    state.pages[1] = {"results": [{"id": "a"}, {"id": "b"}, {"id": "c"}]}
    state.pages[2] = {"results": [{"id": "d"}]}
    register_rest_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("paginated_rest")
            .option("base_url", base)
            .option("per_page", "3")
            .option("pages_per_batch", "5")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = {
        json.loads(r.item)["id"] for r in spark.read.parquet(out).collect()
    }
    assert got1 == {"a", "b", "c", "d"}

    state.pages[2] = {"results": [{"id": "d"}, {"id": "e"}, {"id": "f"}]}
    state.pages[3] = {"results": [{"id": "g"}]}
    run_once()
    rows = spark.read.parquet(out).collect()
    got2 = [json.loads(r.item)["id"] for r in rows]
    assert sorted(got2) == ["a", "b", "c", "d", "e", "f", "g"]  # exactly once
