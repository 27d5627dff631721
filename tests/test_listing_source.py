"""Source-layer tests (ops S1/S2/S4/S5 + S3): rate limiter control law,
card splitting, fixture-driven DataSource reads incl. scripted 429
retry and early-stop, and the end-to-end extract->transform pipeline.
"""

from __future__ import annotations

import json
import random

import pytest

from etl_property_rumah123_spark.operators import cleaning
from etl_property_rumah123_spark.operators.listing_parse import parse_cards
from etl_property_rumah123_spark.sources.fixtures import (
    ADMINS,
    card_html,
    write_fixture_pages,
)
from etl_property_rumah123_spark.sources.listing_source import (
    ListingDataSource,
    ListingReader,
    PageRange,
    split_cards,
    validate_input_params,
)
from etl_property_rumah123_spark.sources.rate_limiter import AdaptiveRateLimiter


# --- S2: adaptive rate limiter --------------------------------------------


def make_limiter(**kw):
    slept = []
    limiter = AdaptiveRateLimiter(
        sleep_fn=slept.append, rng=random.Random(0), **kw
    )
    return limiter, slept


def test_limiter_backoff_exponential_and_capped():
    limiter, slept = make_limiter(base_sleep=400.0, min_sleep=1.0, max_sleep=600.0)
    limiter.on_rate_limit()
    assert limiter.base_sleep == 600.0  # 400*1.5 == 600
    limiter.on_rate_limit()
    assert limiter.base_sleep == 600.0  # capped
    assert limiter.consecutive_429s == 2
    assert all(600.0 <= s <= 900.0 for s in slept)  # base * U(1.0, 1.5)


def test_limiter_success_decrease_tiers():
    limiter, _ = make_limiter(base_sleep=100.0, min_sleep=1.0)
    limiter.on_success()  # streak 1 -> x0.9
    assert limiter.base_sleep == pytest.approx(90.0)
    limiter.on_success()  # streak 2 -> x0.9
    assert limiter.base_sleep == pytest.approx(81.0)
    limiter.on_success()  # streak 3 -> x0.7
    assert limiter.base_sleep == pytest.approx(56.7)
    limiter.on_success()
    limiter.on_success()  # streak 5 -> x0.5
    assert limiter.base_sleep == pytest.approx(56.7 * 0.7 * 0.5)


def test_limiter_floor_and_streak_reset():
    limiter, _ = make_limiter(base_sleep=1.0, min_sleep=1.0)
    limiter.on_success()
    assert limiter.base_sleep == 1.0  # floored at min_sleep
    limiter.on_rate_limit()
    assert limiter.consecutive_successes == 0
    assert limiter.base_sleep == 1.5


def test_limiter_jittered_wait_bounds():
    limiter, slept = make_limiter(base_sleep=2.0)
    for _ in range(50):
        limiter.wait()
    assert all(1.6 <= s <= 2.4 for s in slept)  # base * U(0.8, 1.2)


# --- S3 helper: card splitting --------------------------------------------


def test_split_cards_nested_divs():
    c1 = card_html(1, "/p/1", "Rp 1 Juta", "Bogor", "RumahKPR", 3, 100, 80)
    c2 = card_html(2, None, "Rp 2 Juta", "Depok", "VillaX", 2, 90, 70)
    html = f"<html><body><div>noise</div>{c1}<p>between</p>{c2}</body></html>"
    cards = split_cards(html)
    assert len(cards) == 2
    assert cards[0] == c1 and cards[1] == c2


def test_split_cards_empty_page():
    assert split_cards("<html><body></body></html>") == []


# --- P10: validation -------------------------------------------------------


def test_validate_rejects_bad_enums():
    with pytest.raises(ValueError):
        validate_input_params("beli", "rumah", 1)
    with pytest.raises(ValueError):
        validate_input_params("jual", "mansion", 1)
    with pytest.raises(ValueError):
        validate_input_params("jual", "rumah", 0)


# --- S1/S4/S5: reader over fixtures ---------------------------------------


def reader_opts(fixture_dir, **kw):
    opts = {
        "fixture_dir": fixture_dir,
        "num_pages": "4",
        "pages_per_partition": "2",
        "base_sleep": "0.0001",
        "min_sleep": "0.0",
    }
    opts.update({k: str(v) for k, v in kw.items()})
    return opts


def read_all(reader: ListingReader):
    rows = []
    for part in reader.partitions():
        rows.extend(reader.read(part))
    return rows


def test_reader_partitions_cover_page_space(tmp_path):
    reader = ListingReader(reader_opts(str(tmp_path), num_pages=7, pages_per_partition=3))
    parts = reader.partitions()
    assert [(p.start, p.end) for p in parts] == [(1, 3), (4, 6), (7, 7)]


def test_reader_reads_all_cards(tmp_path):
    write_fixture_pages(str(tmp_path), num_pages=4, cards_per_page=12, seed=42)
    rows = read_all(ListingReader(reader_opts(str(tmp_path))))
    assert len(rows) == 48
    assert {r[0] for r in rows} == {1, 2, 3, 4}  # page_num
    assert all(r[3] == "jual" and r[4] == "rumah" for r in rows)


def test_reader_early_stop_on_empty_page(tmp_path):
    # pages 3-4 are empty -> partition (3,4) stops at page 3; partition
    # (1,2) unaffected (S4 applied per page range)
    write_fixture_pages(str(tmp_path), num_pages=4, cards_per_page=5, empty_after=2)
    rows = read_all(ListingReader(reader_opts(str(tmp_path))))
    assert len(rows) == 10
    assert {r[0] for r in rows} == {1, 2}


def test_reader_default_is_one_partition_per_region(tmp_path):
    """Without pages_per_partition the region's page space is ONE range,
    so an empty page ends the whole region's scan, as in the serial
    reference (S4); an explicit split still probes each range."""
    write_fixture_pages(str(tmp_path), num_pages=6, cards_per_page=4)
    (tmp_path / "page_3.html").write_text("<html><body></body></html>")
    opts = reader_opts(str(tmp_path), num_pages=6)
    del opts["pages_per_partition"]
    reader = ListingReader(opts)
    assert reader.partitions() == [PageRange(1, 6)]
    assert {r[0] for r in read_all(reader)} == {1, 2}

    split = ListingReader(reader_opts(str(tmp_path), num_pages=6))
    assert {r[0] for r in read_all(split)} == {1, 2, 5, 6}


def test_reader_retries_on_429_then_succeeds(tmp_path):
    write_fixture_pages(str(tmp_path), num_pages=2, cards_per_page=3)
    (tmp_path / "statuses.json").write_text(json.dumps({"2": [429, 429, 200]}))
    rows = read_all(ListingReader(reader_opts(str(tmp_path), num_pages=2)))
    assert len(rows) == 6  # page 2 recovered after two 429s
    assert {r[0] for r in rows} == {1, 2}


def test_reader_skips_page_on_server_error(tmp_path):
    """Non-429 failure (e.g. 500): no retry loop — on_other_error fires
    once, the failed page is SKIPPED, and the scan continues with the
    next page in the range (matching the reference, which logs and
    continues, src/extract.py:186-192). Only a successful 200 page with
    zero cards terminates a range."""
    write_fixture_pages(str(tmp_path), num_pages=2, cards_per_page=3)
    (tmp_path / "statuses.json").write_text(json.dumps({"1": [500]}))
    rows = read_all(ListingReader(reader_opts(str(tmp_path), num_pages=2)))
    # page 1 failed -> skipped; page 2 still fetched
    assert len(rows) == 3 and {r[0] for r in rows} == {2}

    # same failure on page 2 only: page 1 fine, page 2 skipped
    (tmp_path / "statuses.json").write_text(json.dumps({"2": [500]}))
    rows = read_all(ListingReader(reader_opts(str(tmp_path), num_pages=2)))
    assert len(rows) == 3 and {r[0] for r in rows} == {1}


def test_reader_gives_up_after_max_429(tmp_path):
    write_fixture_pages(str(tmp_path), num_pages=2, cards_per_page=3)
    (tmp_path / "statuses.json").write_text(json.dumps({"1": [429] * 10}))
    rows = read_all(
        ListingReader(reader_opts(str(tmp_path), num_pages=2, max_retries_429=2))
    )
    # page 1 exhausted its 429 retries -> treated like any other
    # failure: skipped, page 2 (same partition) still fetched
    assert len(rows) == 3 and {r[0] for r in rows} == {2}


def test_parse_messy_card_golden(spark):
    """Hand-written card with the messiness a real listing page has:
    nested tags inside h2, HTML entities, badge with punctuation,
    attribute spans interleaved with plain spans, price wrapped in
    nested markup. Documents one divergence: entities (&#178;) stay
    encoded (BeautifulSoup would decode) — harmless downstream because
    digit extraction takes the first digit run anyway."""
    card = (
        '<div class="card-featured__middle-section">'
        '<a class="quick-label-badge" href="/promo">Promo!</a>'
        '<a href="/properti/hot-123">  <img src="x.jpg"/> </a>'
        '<div class="card-featured__middle-section__header-badge">'
        "<span>RumahKPR+FurnishedBagus</span></div>"
        "<h2>Rumah <b>Mewah</b>\n  di Kemang</h2>"
        '<div class="card-featured__middle-section__price">'
        "<small>mulai</small><strong> Rp 1,75 \n Miliar </strong></div>"
        "<span>Dijual</span><span>Iklan</span><span>Kemang, Jakarta Selatan</span>"
        '<span class="attribute-text">4</span>'
        '<span class="attribute-text">3</span>'
        '<div class="attribute-info">Tanah : 1.200 m&#178;</div>'
        '<div class="attribute-info">Bangunan : 250 m&#178;</div>'
        "</div>"
    )
    from etl_property_rumah123_spark.operators.cleaning import transform_data

    df = spark.createDataFrame(
        [(1, 0, card, "jual", "rumah")],
        "page_num int, card_idx int, card_html string, ads_type string, property_type string",
    )
    raw = parse_cards(df, ["jakarta selatan"]).collect()[0]
    assert raw["link"] == "rumah123.com/properti/hot-123"  # badge anchor skipped
    assert raw["name"] == "Rumah Mewah di Kemang"  # nested tags + newline collapsed
    assert raw["price_rp"].strip() == "Rp 1,75 \n Miliar".strip()
    assert raw["location"] == "Kemang, Jakarta Selatan"  # first matching span
    assert raw["lot_size"] == "Tanah : 1.200 m&#178;"  # entity kept (divergence)
    assert raw["n_bedroom"] == "4" and raw["n_bathroom"] == "3"
    assert raw["n_carport"] is None  # only 2 attribute spans
    assert raw["additional_features"] == ["KPR+", "Furnished", "Bagus"]

    clean = transform_data(parse_cards(df, ["jakarta selatan"])).collect()[0]
    assert clean["price_rp"] == 1_750_000_000
    assert clean["lot_size"] == 1  # first-digit-run quirk ('1.200' -> 1)
    assert clean["building_size"] == 250


# --- the full Spark path ---------------------------------------------------


def test_datasource_end_to_end(spark, tmp_path):
    fixture_dir = str(tmp_path / "pages")
    write_fixture_pages(fixture_dir, num_pages=4, cards_per_page=12, seed=42)
    spark.dataSource.register(ListingDataSource)
    raw = (
        spark.read.format("rumah123_listings")
        .option("fixture_dir", fixture_dir)
        .option("num_pages", "4")
        .option("pages_per_partition", "2")
        .option("base_sleep", "0.0001")
        .option("min_sleep", "0.0")
        .load()
    )
    assert raw.count() == 48
    assert raw.rdd.getNumPartitions() == 2

    parsed = parse_cards(raw, ADMINS)
    out = cleaning.transform_data(parsed)
    rows = out.collect()

    links = [r["link"] for r in rows]
    assert all(link is not None for link in links)  # F1 dropped null links
    assert len(links) == len(set(links))  # T2 deduped
    assert all(link.startswith("rumah123.com/properti/") for link in links)

    by_price = {r["link"]: r["price_rp"] for r in rows}
    assert any(v is not None for v in by_price.values())
    sample = [r for r in rows if r["n_bedroom"] is not None]
    assert sample and all(2 <= r["n_bedroom"] <= 6 for r in sample)
    assert all(isinstance(r["additional_features"], list) for r in rows)
    # badge splitter dropped the head element (property type)
    feat = next(r for r in rows if r["additional_features"])
    assert feat["additional_features"][0] != "Rumah"


def test_keep_first_dedup_is_deterministic_under_shuffle(spark, tmp_path):
    """Same fixture read with different partitioning must keep the same
    (first-in-scrape-order) row per link."""
    fixture_dir = str(tmp_path / "pages")
    write_fixture_pages(fixture_dir, num_pages=4, cards_per_page=12, seed=7)
    spark.dataSource.register(ListingDataSource)

    def run(ppp: str):
        raw = (
            spark.read.format("rumah123_listings")
            .option("fixture_dir", fixture_dir)
            .option("num_pages", "4")
            .option("pages_per_partition", ppp)
            .option("base_sleep", "0.0001")
            .option("min_sleep", "0.0")
            .load()
        )
        out = cleaning.transform_data(parse_cards(raw, ADMINS), drop_order_col=False)
        return {r["link"]: r["ingest_seq"] for r in out.collect()}

    assert run("1") == run("4")
