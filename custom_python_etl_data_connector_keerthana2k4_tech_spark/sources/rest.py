"""Paginated authenticated REST source as a Spark Python Data Source
(SURVEY §2.1 R1-R5; §7 M3).

Reference behaviors reproduced (citations into /root/reference/etl_connector.py):

- R1 paginated scan: ``GET {base_url}/pulses/subscribed?limit&page`` yielding
  one record per item (:88-127) -> ``RestReader.read`` over page-range
  partitions.
- R2 authenticated session: ``X-OTX-API-KEY`` + ``User-Agent`` headers on
  every request (:49-50) -> headers built from reader options.
- R3 retry/backoff/rate-limit: exponential backoff x2, honors ``429
  Retry-After``, retries 5xx and transport errors, raises on other 4xx, max
  5 attempts (:53-85) -> ``safe_get`` runs *inside* the partition read and
  composes with Spark task retries.
- R4 response normalization: ``results`` -> ``pulses`` -> body; dict ->
  first list value; bail on non-list (:100-117) -> ``normalize_payload``.
- R5 pagination termination: empty page, short page, ``max_pages`` cap
  (:96,103-105,123-126) -> partition planning caps pages; each partition
  stops early at an empty/short page within its range.

Scale design: ``partitions()`` enumerates page ranges so a cluster reads
pages in parallel, but the default ``pages_per_partition`` is coarse and a
``min_interval_s`` per-request sleep provides politeness — N executors
hammering one API is the failure mode the reference's serial loop avoided
(SURVEY §7 hard part c). Rows come out as raw JSON strings (one per item):
at 100 TB you keep the open payload as a string column and project with
``from_json`` (SURVEY §7 hard part d), never full-inference per run.

The wire format is OTX-shaped but nothing here is OTX-specific: any
limit/page-paginated JSON API works (``endpoint`` option).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
import weakref
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class RestSourceError(RuntimeError):
    """Terminal REST failure (non-retryable status or retries exhausted)."""


def safe_get(
    url: str,
    params: dict | None = None,
    headers: dict | None = None,
    timeout_s: float = 30.0,
    max_retries: int = 5,
    backoff_initial_s: float = 1.0,
    backoff_multiplier: float = 2.0,
    sleep=time.sleep,
) -> bytes:
    """GET with the reference's retry state machine (etl_connector.py:53-85).

    - transport errors: sleep backoff, retry (:59-63)
    - 200: return body (:65-66)
    - 429: honor ``Retry-After`` seconds if present, else backoff (:67-74)
    - 5xx: sleep backoff, retry (:75-80)
    - other 4xx: raise immediately (:83)
    - after ``max_retries`` attempts: raise (:85)

    Backoff multiplies by ``backoff_multiplier`` after every failed attempt.
    stdlib-only (urllib) so executors need no extra deps.
    """
    full_url = url + ("?" + urllib.parse.urlencode(params) if params else "")
    backoff = backoff_initial_s
    last_err: Exception | None = None
    for _attempt in range(max_retries):
        req = urllib.request.Request(full_url, headers=headers or {})
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:
            if e.code == 429:
                retry_after = e.headers.get("Retry-After")
                try:
                    wait = float(retry_after) if retry_after is not None else backoff
                except ValueError:
                    wait = backoff
                sleep(wait)
            elif 500 <= e.code < 600:
                sleep(backoff)
            else:
                raise RestSourceError(f"GET {full_url} failed with HTTP {e.code}") from e
            last_err = e
        except urllib.error.URLError as e:
            sleep(backoff)
            last_err = e
        backoff *= backoff_multiplier
    raise RestSourceError(
        f"GET {full_url} failed after {max_retries} attempts"
    ) from last_err


def normalize_payload(body: bytes | str | dict) -> list:
    """Coalesce the page payload shape (etl_connector.py:100-117).

    ``results`` -> ``pulses`` -> whole body; if still a dict, take its first
    list value; return [] for anything non-list (the reference logs and
    stops, :115-117).
    """
    data = json.loads(body) if isinstance(body, (bytes, str)) else body
    items = None
    if isinstance(data, dict):
        items = data.get("results") or data.get("pulses") or data
    else:
        items = data
    if isinstance(items, dict):
        items = next((v for v in items.values() if isinstance(v, list)), None)
    return items if isinstance(items, list) else []


class _PageRange(InputPartition):
    def __init__(self, start_page: int, end_page: int):
        self.start_page = start_page  # inclusive, 1-based
        self.end_page = end_page  # inclusive


#: Output schema: one row per fetched item; the open-content payload stays a
#: raw JSON string (project with from_json downstream — SURVEY §7 hard part d).
REST_SCHEMA = T.StructType(
    [
        T.StructField("page", T.IntegerType()),
        T.StructField("position", T.IntegerType()),
        T.StructField("item", T.StringType()),
    ]
)


class RestReader(DataSourceReader):
    def __init__(self, options: dict):
        self.base_url = options.get("base_url", "").rstrip("/")
        if not self.base_url:
            raise RestSourceError("base_url option is required")
        self.endpoint = options.get("endpoint", "/pulses/subscribed")
        self.api_key = options.get("api_key", "")
        self.user_agent = options.get("user_agent", "spark-rest-connector/1.0")
        self.per_page = int(options.get("per_page", 50))
        self.max_pages = int(options.get("max_pages", 100))
        self.pages_per_partition = int(options.get("pages_per_partition", 10))
        self.timeout_s = float(options.get("timeout_s", 30.0))
        self.max_retries = int(options.get("max_retries", 5))
        self.backoff_initial_s = float(options.get("backoff_initial_s", 1.0))
        self.backoff_multiplier = float(options.get("backoff_multiplier", 2.0))
        self.min_interval_s = float(options.get("min_interval_s", 0.0))

    def partitions(self) -> Sequence[InputPartition]:
        """Page ranges (R5 planning): [1..max_pages] in coarse chunks."""
        step = max(1, self.pages_per_partition)
        return [
            _PageRange(start, min(start + step - 1, self.max_pages))
            for start in range(1, self.max_pages + 1, step)
        ]

    def read(self, partition: _PageRange) -> Iterator[tuple]:
        """Fetch this partition's page range; stop early on empty/short page
        (R5, etl_connector.py:103-105,123-126). Runs on an executor."""
        headers = {"User-Agent": self.user_agent}
        if self.api_key:
            headers["X-OTX-API-KEY"] = self.api_key
        url = self.base_url + self.endpoint
        for page in range(partition.start_page, partition.end_page + 1):
            body = safe_get(
                url,
                params={"limit": self.per_page, "page": page},
                headers=headers,
                timeout_s=self.timeout_s,
                max_retries=self.max_retries,
                backoff_initial_s=self.backoff_initial_s,
                backoff_multiplier=self.backoff_multiplier,
            )
            items = normalize_payload(body)
            for pos, item in enumerate(items):
                yield (page, pos, json.dumps(item, sort_keys=True))
            if len(items) < self.per_page:  # empty or short page -> done
                break
            if self.min_interval_s > 0:
                time.sleep(self.min_interval_s)


class RestSimpleStreamReader(SimpleDataSourceStreamReader):
    """Continuous mode of R1-R5: poll the paginated endpoint as a
    Structured Streaming source (``spark.readStream.format("paginated_rest")``).

    Offset = ``{"page": p, "pos": k}``: everything before item ``k`` of page
    ``p`` has been emitted. Full pages advance the page cursor; a short page
    leaves the cursor ON that page at its current length, so items appended
    later are picked up by the next micro-batch without re-emitting earlier
    ones — exactly-once for append-only page feeds (the OTX "pulses since"
    shape), checkpoint-recoverable via ``readBetweenOffsets`` replay.

    The reader polls serially on the driver (SimpleDataSourceStreamReader's
    prefetch model), which is exactly the reference's polite single-client
    behavior (etl_connector.py:88-127) — appropriate for a rate-limited API,
    while the heavy transform/sink work downstream stays distributed.
    ``pages_per_batch`` bounds each micro-batch (R5's max_pages analog).
    """

    def __init__(self, options: dict):
        self._r = RestReader(options)  # reuse option parsing + auth headers
        self.pages_per_batch = int(options.get("pages_per_batch", 10))

    def initialOffset(self) -> dict:
        return {"page": 1, "pos": 0}

    def _fetch_page(self, page: int) -> list:
        headers = {"User-Agent": self._r.user_agent}
        if self._r.api_key:
            headers["X-OTX-API-KEY"] = self._r.api_key
        body = safe_get(
            self._r.base_url + self._r.endpoint,
            params={"limit": self._r.per_page, "page": page},
            headers=headers,
            timeout_s=self._r.timeout_s,
            max_retries=self._r.max_retries,
            backoff_initial_s=self._r.backoff_initial_s,
            backoff_multiplier=self._r.backoff_multiplier,
        )
        return normalize_payload(body)

    def _poll(self, start: dict, stop_at: dict | None = None):
        page, pos = int(start["page"]), int(start["pos"])
        rows: list[tuple] = []
        for _ in range(self.pages_per_batch):
            items = self._fetch_page(page)
            hi = len(items)
            if stop_at is not None and page == int(stop_at["page"]):
                hi = min(hi, int(stop_at["pos"]))
            for p in range(pos, hi):
                rows.append((page, p, json.dumps(items[p], sort_keys=True)))
            if stop_at is not None and page == int(stop_at["page"]):
                return rows, dict(stop_at)
            if len(items) < self._r.per_page:  # short/empty: stay on this page
                return rows, {"page": page, "pos": len(items)}
            page, pos = page + 1, 0
            if self._r.min_interval_s > 0:
                time.sleep(self._r.min_interval_s)
        return rows, {"page": page, "pos": pos}

    def read(self, start: dict):
        rows, end = self._poll(start)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._poll(start, stop_at=end)
        return iter(rows)


class _CursorChain(InputPartition):
    """The whole cursor chain — one partition by protocol (below)."""

    def __init__(self):
        super().__init__(0)


class CursorRestReader(DataSourceReader):
    """Cursor/next-token pagination (``pagination=cursor``): each response
    carries the opaque token for the NEXT page (``next_field`` option,
    default ``next``), so the chain is sequential BY PROTOCOL — no page
    number exists to range-partition on. The honest Spark shape is one
    walker per feed: ``partitions()`` returns a single partition (matching
    the reference's polite single-client loop, etl_connector.py:88-127),
    parallelism comes from unioning many feeds/endpoints, and everything
    downstream of the scan is distributed as usual. ``max_pages`` caps a
    runaway chain; termination is ``next`` falsy (cursor APIs signal the
    end explicitly, not via short pages).

    Output rows are ``(page, position, item)`` where ``page`` is the
    1-based index along the chain."""

    def __init__(self, options: dict):
        self._r = RestReader(options)  # shared option parsing + auth
        self.next_field = options.get("next_field", "next")
        self.cursor_param = options.get("cursor_param", "cursor")
        self.start_cursor = options.get("start_cursor", "")

    def partitions(self) -> Sequence[InputPartition]:
        return [_CursorChain()]

    def _fetch(self, cursor: str) -> tuple[list, str]:
        headers = {"User-Agent": self._r.user_agent}
        if self._r.api_key:
            headers["X-OTX-API-KEY"] = self._r.api_key
        params = {"limit": self._r.per_page}
        if cursor:
            params[self.cursor_param] = cursor
        body = safe_get(
            self._r.base_url + self._r.endpoint,
            params=params,
            headers=headers,
            timeout_s=self._r.timeout_s,
            max_retries=self._r.max_retries,
            backoff_initial_s=self._r.backoff_initial_s,
            backoff_multiplier=self._r.backoff_multiplier,
        )
        data = json.loads(body)
        items = normalize_payload(data)
        nxt = data.get(self.next_field) if isinstance(data, dict) else None
        return items, (nxt if isinstance(nxt, str) and nxt else "")

    def read(self, partition: _CursorChain) -> Iterator[tuple]:
        cursor = self.start_cursor
        for seq in range(1, self._r.max_pages + 1):
            items, nxt = self._fetch(cursor)
            for pos, item in enumerate(items):
                yield (seq, pos, json.dumps(item, sort_keys=True))
            if not nxt:
                break
            cursor = nxt
            if self._r.min_interval_s > 0:
                time.sleep(self._r.min_interval_s)


class CursorRestStreamReader(SimpleDataSourceStreamReader):
    """Streaming mode of cursor pagination. Offset = ``{"cursor": c,
    "seq": s, "pos": k}``: the cursor that fetches chain page ``s``, of
    which the first ``k`` items are already emitted. A page with a next
    token advances the cursor; the chain tail (``next`` absent) keeps the
    offset ON that page at its current length, so items appended to the
    tail later are picked up without re-emitting — the same append-only
    exactly-once contract as RestSimpleStreamReader, with
    ``readBetweenOffsets`` replaying [start, end) for checkpoint
    recovery (valid while the feed keeps serving the stored tokens)."""

    def __init__(self, options: dict):
        self._c = CursorRestReader(options)
        self.pages_per_batch = int(options.get("pages_per_batch", 10))

    def initialOffset(self) -> dict:
        return {"cursor": self._c.start_cursor, "seq": 1, "pos": 0}

    def _poll(self, start: dict, stop_at: dict | None = None):
        cursor, seq, pos = start["cursor"], int(start["seq"]), int(start["pos"])
        rows: list[tuple] = []
        for _ in range(self.pages_per_batch):
            items, nxt = self._c._fetch(cursor)
            hi = len(items)
            if stop_at is not None and seq == int(stop_at["seq"]):
                hi = min(hi, int(stop_at["pos"]))
            for p in range(pos, hi):
                rows.append((seq, p, json.dumps(items[p], sort_keys=True)))
            if stop_at is not None and seq == int(stop_at["seq"]):
                return rows, dict(stop_at)
            if not nxt:  # chain tail: stay here, pick up appends next batch
                return rows, {"cursor": cursor, "seq": seq, "pos": len(items)}
            cursor, seq, pos = nxt, seq + 1, 0
            if self._c._r.min_interval_s > 0:
                time.sleep(self._c._r.min_interval_s)
        return rows, {"cursor": cursor, "seq": seq, "pos": pos}

    def read(self, start: dict):
        rows, end = self._poll(start)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._poll(start, stop_at=end)
        return iter(rows)


class RestDataSource(DataSource):
    """``spark.read.format("paginated_rest")`` — see module docstring.

    Options: base_url (required), endpoint, api_key, user_agent, per_page,
    max_pages, pages_per_partition, timeout_s, max_retries,
    backoff_initial_s, backoff_multiplier, min_interval_s; streaming adds
    pages_per_batch (micro-batch page budget). ``pagination=cursor``
    switches both batch and streaming to next-token chains (options
    cursor_param, next_field, start_cursor).
    """

    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self) -> T.StructType:
        return REST_SCHEMA

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if self.options.get("pagination", "page") == "cursor":
            return CursorRestReader(self.options)
        return RestReader(self.options)

    def simpleStreamReader(self, schema: T.StructType) -> SimpleDataSourceStreamReader:
        if self.options.get("pagination", "page") == "cursor":
            return CursorRestStreamReader(self.options)
        return RestSimpleStreamReader(self.options)


_REGISTERED_SESSIONS: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def register_rest_source(spark: SparkSession) -> None:
    """Register the format (ships the package to Python workers first).

    Once per session: registering again replaces the previous
    registration and logs a DataSourceManager warning on every batch.
    """
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import ship_package

    if spark in _REGISTERED_SESSIONS:
        return
    ship_package(spark)
    spark.dataSource.register(RestDataSource)
    _REGISTERED_SESSIONS.add(spark)


def pulses_df(
    spark: SparkSession,
    base_url: str,
    schema: T.StructType,
    api_key: str = "",
    **options,
) -> DataFrame:
    """Read the REST source and project the raw JSON into a ``raw`` struct
    column — the input shape of pipeline.transform_pulses. Unparseable items
    become NULL ``raw`` (they then fail R7 validation, reproducing the
    reference's log-and-skip semantics)."""
    register_rest_source(spark)
    reader = spark.read.format("paginated_rest").option("base_url", base_url)
    if api_key:
        reader = reader.option("api_key", api_key)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load().select(F.from_json("item", schema).alias("raw"))
