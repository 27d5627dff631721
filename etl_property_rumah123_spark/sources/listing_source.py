"""Paginated listing-page source (ops S1/S2/S4/S5) as a Spark 4
Python DataSource.

The reference fetches pages serially in one process
(/root/reference/src/extract.py:119-201). Here the page space is split
into **page-range input partitions** (by default one per region, the
reference's serial scan; ``pages_per_partition`` splits it further),
each read by an executor task
that runs its own adaptive rate limiter (S2), retries the current page
on HTTP 429 (S5, /root/reference/src/extract.py:180-184), and
short-circuits its range when a page has no listing cards (S4,
/root/reference/src/extract.py:171-173).

The source deliberately emits **raw card HTML** — one row per listing
card, `(page_num, card_idx, card_html, ads_type, property_type)` —
not parsed fields. Parsing (op S3) is a set of Column expressions in
``operators/listing_parse.py``, so the field extraction runs JVM-side
under WholeStageCodegen and stays visible to Catalyst (column pruning
drops the HTML column the moment the projected fields are computed).

Fetching is pluggable: ``fixture_dir`` option reads recorded pages from
disk (tests; statuses scriptable via ``statuses.json``), no option
means live HTTP via urllib (never exercised in CI). A page range is
retried as a whole by Spark task retry; within a task the 429 loop
bounds per-page retries with ``max_retries_429``.

The same source also registers a STREAMING read path
(``ListingStreamReader``, a Spark 4 ``SimpleDataSourceStreamReader``):
offset-tracked polling of the page frontier for continuous ingestion,
with checkpoint-exact replay — see its docstring for the offset and
exactly-once model.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from etl_property_rumah123_spark.sources.rate_limiter import AdaptiveRateLimiter

VALID_ADS_TYPES = {"jual", "sewa"}
VALID_PROPERTY_TYPES = {"rumah", "apartemen", "kost", "villa", "hotel"}

CARD_OPEN_RE = re.compile(
    r'<div\s+class="card-featured__middle-section"[^>]*>', re.IGNORECASE
)
DIV_TOKEN_RE = re.compile(r"<div\b|</div>", re.IGNORECASE)

LISTING_SOURCE_SCHEMA = (
    "page_num INT, card_idx INT, card_html STRING, "
    "ads_type STRING, property_type STRING"
)


def validate_input_params(ads_type: str, property_type: str, num_pages: int) -> None:
    """Op P10 — whitelist enums + positive page count
    (/root/reference/src/extract.py:62-72)."""
    if ads_type not in VALID_ADS_TYPES:
        raise ValueError(f"Invalid ads type: {ads_type}. Must be one of {VALID_ADS_TYPES}")
    if property_type not in VALID_PROPERTY_TYPES:
        raise ValueError(
            f"Invalid property type: {property_type}. Must be one of {VALID_PROPERTY_TYPES}"
        )
    if num_pages <= 0:
        raise ValueError("num_pages must be a positive integer")


def split_cards(html: str) -> list[str]:
    """Split a listing page into card-subtree HTML strings.

    Finds each ``div.card-featured__middle-section`` and walks nested
    div open/close tokens to the matching close — the stdlib-only
    analog of the reference's
    ``soup.find_all('div', class_='card-featured__middle-section')``
    (/root/reference/src/extract.py:169). Unclosed markup yields the
    remainder of the page (lenient, like an HTML5 parser).
    """
    cards: list[str] = []
    for m in CARD_OPEN_RE.finditer(html):
        depth = 1
        end = len(html)
        for tok in DIV_TOKEN_RE.finditer(html, m.end()):
            depth += 1 if tok.group(0).lower().startswith("<div") else -1
            if depth == 0:
                end = tok.end()
                break
        cards.append(html[m.start() : end])
    return cards


class FixtureFetcher:
    """Reads recorded pages from ``{dir}/page_{n}.html``.

    ``{dir}/statuses.json`` may script per-page status sequences, e.g.
    ``{"2": [429, 200]}`` — each fetch of page 2 consumes the next
    status, so tests can exercise the 429-retry path deterministically.
    Missing page file => 404 with empty body.
    """

    def __init__(self, fixture_dir: str) -> None:
        self.dir = fixture_dir
        self._scripted: dict[str, list[int]] = {}
        script = os.path.join(fixture_dir, "statuses.json")
        if os.path.exists(script):
            with open(script) as f:
                self._scripted = {k: list(v) for k, v in json.load(f).items()}

    def fetch(self, page_num: int, url: str) -> tuple[int, str]:
        path = os.path.join(self.dir, f"page_{page_num}.html")
        if not os.path.exists(path):
            return 404, ""
        queue = self._scripted.get(str(page_num))
        status = queue.pop(0) if queue else 200
        if status != 200:
            return status, ""
        with open(path) as f:
            return 200, f.read()


class HttpFetcher:
    """Live HTTP via stdlib urllib — one pooled opener per partition,
    desktop UA, 30 s timeout (/root/reference/src/extract.py:144-146,162).
    Exists for production symmetry; tests always use FixtureFetcher."""

    USER_AGENT = (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/101.0.4951.67 Safari/537.36"
    )

    def fetch(self, page_num: int, url: str) -> tuple[int, str]:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, headers={"User-Agent": self.USER_AGENT})
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status, resp.read().decode("utf-8", errors="replace")
        except urllib.error.HTTPError as e:
            return e.code, ""
        except urllib.error.URLError:
            return -1, ""


@dataclass
class PageRange(InputPartition):
    start: int  # inclusive
    end: int  # inclusive


class ListingReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.ads_type = options.get("ads_type", "jual")
        self.region = options.get("region", "dki-jakarta")
        self.property_type = options.get("property_type", "rumah")
        self.num_pages = int(options.get("num_pages", "1"))
        # default: the region's whole page range is one partition — the
        # reference's serial scrape, one rate limiter per region
        self.pages_per_partition = int(
            options.get("pages_per_partition", self.num_pages)
        )
        self.fixture_dir = options.get("fixture_dir")
        self.max_retries_429 = int(options.get("max_retries_429", "5"))
        self.base_sleep = float(options.get("base_sleep", "1.0"))
        self.min_sleep = float(options.get("min_sleep", "0.0"))
        validate_input_params(self.ads_type, self.property_type, self.num_pages)

    def partitions(self) -> Sequence[PageRange]:
        step = self.pages_per_partition
        return [
            PageRange(start, min(start + step - 1, self.num_pages))
            for start in range(1, self.num_pages + 1, step)
        ]

    def read(self, partition: PageRange) -> Iterator[tuple]:
        base_url = (
            f"https://www.rumah123.com/{self.ads_type}/{self.region}/"
            f"{self.property_type}/?sort=posted-desc&page="
        )
        fetcher = (
            FixtureFetcher(self.fixture_dir) if self.fixture_dir else HttpFetcher()
        )
        limiter = AdaptiveRateLimiter(
            base_sleep=self.base_sleep, min_sleep=self.min_sleep
        )
        for page_num in range(partition.start, partition.end + 1):
            retries = 0
            failed = False
            while True:  # S5: re-fetch the same page after 429 backoff
                limiter.wait()
                status, html = fetcher.fetch(page_num, base_url + str(page_num))
                if status == 200:
                    limiter.on_success()
                    break
                if status == 429 and retries < self.max_retries_429:
                    retries += 1
                    limiter.on_rate_limit()
                    continue
                limiter.on_other_error()
                failed = True
                break
            if failed:
                # Non-429 failure (500, network): skip THIS page and keep
                # scanning the rest of the range — matching the reference,
                # which logs and continues to the next page
                # (src/extract.py:186-192). Only a *successful* page with
                # zero cards terminates the scan.
                continue
            cards = split_cards(html)
            if not cards:
                # S4: empty 200 page ends THIS range's scan. By default
                # the range is the region's whole page space, so this ends
                # the scrape exactly as in the serial reference; with an
                # explicit pages_per_partition, later ranges probe their
                # own first page (same signal, applied per partition).
                break
            for card_idx, card in enumerate(cards):
                yield (page_num, card_idx, card, self.ads_type, self.property_type)


class ListingStreamReader(SimpleDataSourceStreamReader):
    """Continuous-ingestion variant: poll the page space as a
    Structured Streaming source (``spark.readStream.format(
    "rumah123_listings")``).

    Offset model: ``{"next_page": N}`` — the first page not yet
    emitted. Each microbatch scans forward from the offset up to
    ``pages_per_batch`` pages and stops BEFORE the first page that is
    empty or (still) failing, so that page is re-polled next batch:
    empty-page-at-the-frontier means "no new listings yet", the
    streaming reading of the batch path's S4 early-stop. Offsets only
    cover pages that actually yielded cards, which is what makes the
    checkpoint replay (``readBetweenOffsets``) exact.

    Exactly-once: the engine persists each simple-reader batch to the
    checkpoint WAL; ``readBetweenOffsets`` is only invoked on recovery
    of a planned-but-unpersisted batch, where the deterministic
    FixtureFetcher reproduces rows bit-identically (live HTTP replay
    is best-effort, the standard caveat for any re-fetching source).

    Scale contract: a rate-limited scrape frontier is inherently
    serial — the site's throttle, not Spark, bounds ingest — so a
    driver-side poll loop (what SimpleDataSourceStreamReader does) is
    the right execution shape; per-batch volume is bounded by
    ``pages_per_batch`` x cards/page. The PARALLEL path is the batch
    ``ListingReader`` with an explicit ``pages_per_partition`` for
    backfill (its default is one partition per region); downstream
    parse/clean/merge of the streamed rows is distributed as usual."""

    def __init__(self, options: dict) -> None:
        self.ads_type = options.get("ads_type", "jual")
        self.region = options.get("region", "dki-jakarta")
        self.property_type = options.get("property_type", "rumah")
        self.pages_per_batch = int(options.get("pages_per_batch", "5"))
        self.fixture_dir = options.get("fixture_dir")
        self.max_retries_429 = int(options.get("max_retries_429", "5"))
        self.base_sleep = float(options.get("base_sleep", "1.0"))
        self.min_sleep = float(options.get("min_sleep", "0.0"))
        validate_input_params(self.ads_type, self.property_type, 1)
        if self.pages_per_batch <= 0:
            raise ValueError("pages_per_batch must be a positive integer")

    def initialOffset(self) -> dict:
        return {"next_page": 1}

    def _base_url(self) -> str:
        return (
            f"https://www.rumah123.com/{self.ads_type}/{self.region}/"
            f"{self.property_type}/?sort=posted-desc&page="
        )

    def _fetch_page(self, fetcher, limiter, page_num: int) -> list | None:
        """One page through the S5 retry loop; None = unavailable
        (non-429 failure or 429 budget exhausted), else its cards."""
        retries = 0
        while True:
            limiter.wait()
            status, html = fetcher.fetch(page_num, self._base_url() + str(page_num))
            if status == 200:
                limiter.on_success()
                return split_cards(html)
            if status == 429 and retries < self.max_retries_429:
                retries += 1
                limiter.on_rate_limit()
                continue
            limiter.on_other_error()
            return None

    def _rows(self, page_num: int, cards) -> list[tuple]:
        return [
            (page_num, idx, card, self.ads_type, self.property_type)
            for idx, card in enumerate(cards)
        ]

    def read(self, start: dict) -> tuple:
        fetcher = (
            FixtureFetcher(self.fixture_dir) if self.fixture_dir else HttpFetcher()
        )
        limiter = AdaptiveRateLimiter(
            base_sleep=self.base_sleep, min_sleep=self.min_sleep
        )
        first = int(start["next_page"])
        rows: list[tuple] = []
        consumed = 0
        for page_num in range(first, first + self.pages_per_batch):
            cards = self._fetch_page(fetcher, limiter, page_num)
            if not cards:
                # frontier page empty or failing: do NOT consume it —
                # the next microbatch re-polls the same page
                break
            rows.extend(self._rows(page_num, cards))
            consumed += 1
        return iter(rows), {"next_page": first + consumed}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # recovery replay of a committed range: every page in
        # [start, end) yielded cards when first read; re-emit exactly
        # that range (no early stop, no frontier probing)
        fetcher = (
            FixtureFetcher(self.fixture_dir) if self.fixture_dir else HttpFetcher()
        )
        limiter = AdaptiveRateLimiter(
            base_sleep=self.base_sleep, min_sleep=self.min_sleep
        )
        for page_num in range(int(start["next_page"]), int(end["next_page"])):
            cards = self._fetch_page(fetcher, limiter, page_num)
            for row in self._rows(page_num, cards or []):
                yield row

    def commit(self, end: dict) -> None:
        pass  # no source-side bookkeeping: offsets live in the checkpoint


class ListingDataSource(DataSource):
    """``spark.read.format("rumah123_listings")`` (batch page-range
    partitions) or ``spark.readStream.format("rumah123_listings")``
    (offset-tracked frontier polling) after
    ``spark.dataSource.register(ListingDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "rumah123_listings"

    def schema(self) -> str:
        return LISTING_SOURCE_SCHEMA

    def reader(self, schema) -> ListingReader:
        return ListingReader(dict(self.options))

    def simpleStreamReader(self, schema) -> ListingStreamReader:
        return ListingStreamReader(dict(self.options))
