"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files. The engine only ever sees these files;
the oracles in ``oracle.py`` read the same files (or the generator's
own bookkeeping) and never call the engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Workload input sizes. ``full`` is what ``run.py`` measures; ``tiny``
#: is the test size (perfbench/test_perfbench.py).
SIZES = {
    "full": {
        "listing": {"pages": 20, "cards": 20},
        "star": {"orders": 15_000, "events": 20_000, "users": 500},
        "corpus": {"docs": 10_000, "vectors": 20_000, "queries": 64, "dim": 64},
    },
    "tiny": {
        "listing": {"pages": 2, "cards": 10},
        "star": {"orders": 600, "events": 800, "users": 40},
        "corpus": {"docs": 300, "vectors": 600, "queries": 8, "dim": 16},
    },
}

#: Shares the generators plant (each is a share of all cards / docs).
LISTING_SHARES = {"null_link": 0.10, "dup_in_tick": 0.15, "repeat_earlier": 0.70}
CORPUS_SHARES = {"near_dup_docs": 0.30, "chain_families": 0.5}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# listing_upsert: fixture pages per daily tick
# ---------------------------------------------------------------------------

ADMIN_TEXTS = [
    "Jakarta Selatan", "Jakarta Timur", "Kepulauan Seribu", "Bogor", "Bekasi",
    "Depok", "Tangerang", "Tangerang Selatan", "Luar Kota",
]
BADGES = ["RumahKPRBisaNego", "ApartemenFullFurnished", "VillaDekatPantai", "Rumah"]


def _price_text(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.45:
        return f"Rp {rng.randint(1, 9)},{rng.randint(0, 9)} Miliar"
    if roll < 0.90:
        return f"Rp {rng.randint(150, 990)} Juta"
    if roll < 0.95:
        return f"Rp {rng.randint(100, 900)} Ribu"
    return "hubungi kami"  # unparseable: price_rp is null


class ListingTicks:
    """Daily ticks of listing pages. Tick ``t`` is a pure function of
    ``(seed, t)`` given the ticks before it: ~10% of cards have no real
    link, ~15% repeat a link already on the same tick, and ~70% repeat
    a link from an earlier tick with a fresh price."""

    def __init__(self, seed: int, pages: int, cards: int) -> None:
        self.seed = seed
        self.pages = pages
        self.cards = cards
        self._seen: list[str] = []
        self._next_id = 0
        self._made = 0

    def write(self, tick: int, out_dir: str) -> dict[str, str]:
        """Write tick ``tick``'s pages into ``out_dir``; returns each
        link's admin text on its first card (the keep-first survivor)."""
        from etl_property_rumah123_spark.sources.fixtures import card_html

        if tick != self._made:
            raise ValueError(f"ticks are generated in order; next is {self._made}")
        self._made += 1
        rng = random.Random(self.seed * 1_000_003 + tick)
        n = self.pages * self.cards
        earlier = list(self._seen)
        rng.shuffle(earlier)
        on_tick: list[str] = []
        links: list[str | None] = []
        for _ in range(n):
            roll = rng.random()
            if roll < LISTING_SHARES["null_link"]:
                links.append(None)
                continue
            if roll < 0.25 and on_tick:
                links.append(rng.choice(on_tick))
                continue
            if roll < 0.95 and earlier:
                link = earlier.pop()
            else:
                link = f"/properti/{self.seed}-{self._next_id}"
                self._next_id += 1
                self._seen.append(link)
            on_tick.append(link)
            links.append(link)
        os.makedirs(out_dir, exist_ok=True)
        first_admin: dict[str, str] = {}
        i = 0
        for page in range(1, self.pages + 1):
            cards = []
            for _ in range(self.cards):
                link = links[i]
                i += 1
                admin = rng.choice(ADMIN_TEXTS)
                if link is not None:
                    first_admin.setdefault("rumah123.com" + link, admin)
                cards.append(
                    card_html(
                        i,
                        link,
                        _price_text(rng),
                        admin,
                        rng.choice(BADGES),
                        n_bed=rng.randint(2, 6),
                        lot=rng.randint(60, 400),
                        bld=rng.randint(36, 300),
                    )
                )
            with open(os.path.join(out_dir, f"page_{page}.html"), "w") as f:
                f.write("<html><body>" + "".join(cards) + "</body></html>")
        return first_admin


# ---------------------------------------------------------------------------
# olap_star: a TPC-H-shaped star schema plus an event table
# ---------------------------------------------------------------------------

_EPOCH = dt.datetime(1970, 1, 1)


def _day_micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), type=pa.timestamp("us"))


def write_star(seed: int, out_dir: str, orders: int, events: int, users: int) -> dict:
    """Write the ten catalog tables (``sources.catalog.TESTDATA_TABLES``)
    in the testdata column types. Fact tables scale with ``orders`` and
    ``events``; dimensions follow TPC-H ratios. Money columns carry
    cents and the event ``value`` quarter units, so every SUM the
    oracles round is exact in binary floating point. Returns row
    counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    day = 86_400_000_000
    n_cust = max(orders // 10, 50)
    n_supp = max(orders // 150, 25)
    n_part = max(orders * 2 // 15, 40)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           os.path.join(out_dir, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           os.path.join(out_dir, "nation.parquet"))
    segments = np.array(["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100.0,
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }), os.path.join(out_dir, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        # every nation has a supplier, so q5's same-nation join is never empty
        "s_nationkey": pa.array(rng.permutation(np.arange(n_supp) % 25), pa.int32()),
        "s_acctbal": rng.integers(-99_999, 999_999, n_supp) / 100.0,
    }), os.path.join(out_dir, "supplier.parquet"))
    words = np.array(["large", "small", "hot", "cold", "ring", "bolt", "nut", "gear"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(words[rng.integers(0, 4, n_part)],
                                             words[rng.integers(4, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 30, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL"])[rng.integers(0, 4, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": rng.integers(90_000, 200_000, n_part) / 100.0,
    }), os.path.join(out_dir, "part.parquet"))

    start = _day_micros(dt.datetime(1995, 1, 1))
    span_days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    o_date = start + rng.integers(0, span_days + 1, orders) * day
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": rng.integers(100_000, 50_000_000, orders) / 100.0,
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, orders)],
    }), os.path.join(out_dir, "orders.parquet"))

    lines = rng.integers(1, 8, orders)
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(orders), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    flags = np.array([("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"), ("A", "O"), ("R", "O")])
    fl = flags[rng.integers(0, len(flags), n_line)]
    _write(pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_line) / 100.0,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_line) * day),
    }), os.path.join(out_dir, "lineitem.parquet"))

    ev = _events(rng, events, users, dt.datetime(2024, 1, 1), days=7)
    _write(ev, os.path.join(out_dir, "events.parquet"))
    # documents/embeddings are catalog tables too: q5 scans the whole
    # catalog, so they exist, small
    docs, _ = corpus_docs(seed, 50)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    vecs, _ = clustered_vectors(seed, 50, 8)
    _write(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": orders, "lineitem": n_line, "events": events,
    }


def _events(rng, n: int, users: int, start: dt.datetime, days: int,
            props_per_user: int = 50) -> pa.Table:
    """Time-ordered events; ``value`` is in quarter units."""
    t0 = _day_micros(start)
    ts = np.sort(t0 + rng.integers(0, days * 86_400_000_000, n))
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": rng.integers(0, 800, n) / 4.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, props_per_user, n)],
    })


def write_event_stream(events_path: str, out_dir: str, files: int) -> int:
    """Split the star's time-ordered events into ``files`` parquet files
    of consecutive rows, ``ts`` as a UTC timestamp, with increasing
    modification times (the file source's batch order). Returns rows."""
    import time

    table = pq.read_table(events_path)
    ts = table.column("ts").cast(pa.timestamp("us", tz="UTC"))
    table = table.set_column(table.schema.get_field_index("ts"), "ts", ts)
    os.makedirs(out_dir, exist_ok=True)
    now = time.time()
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (now - files + i, now - files + i))
    return table.num_rows


# ---------------------------------------------------------------------------
# corpus_dedup: near-dup document families + clustered vectors
# ---------------------------------------------------------------------------


def _vocab(rng: random.Random, n: int = 3000) -> list[str]:
    syl = ["ka", "ri", "mo", "te", "su", "na", "lo", "pe", "zu", "gi", "ha", "do",
           "ve", "bu", "xi", "ra", "no", "tu", "le", "mi"]
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(out)


def corpus_docs(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """Documents with planted near-duplicate families.

    ``CORPUS_SHARES['near_dup_docs']`` of the docs belong to families
    of 2-8 members. Star families derive every member from the base by
    one word substitution; chain families derive member k from member
    k-1, so the ends of a chain share few shingles and only the
    connected-components rounds join them. Doc ids are a seeded
    permutation, so families are not id-contiguous. Returns the table
    and the generator's family bookkeeping."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    texts: list[list[str]] = []
    families: list[list[int]] = []
    n_dup = int(n_docs * CORPUS_SHARES["near_dup_docs"])
    while sum(len(f) for f in families) < n_dup:
        size = min(rng.randint(2, 8), n_dup - sum(len(f) for f in families))
        if size < 2:
            break
        chain = rng.random() < CORPUS_SHARES["chain_families"]
        base = [rng.choice(vocab) for _ in range(rng.randint(30, 60))]
        members = [base]
        for _ in range(size - 1):
            src = list(members[-1] if chain else base)
            src[rng.randrange(len(src))] = rng.choice(vocab)
            members.append(src)
        families.append(list(range(len(texts), len(texts) + size)))
        texts.extend(members)
    while len(texts) < n_docs:
        texts.append([rng.choice(vocab) for _ in range(rng.randint(20, 60))])
    ids = list(range(n_docs))
    rng.shuffle(ids)
    body = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": body,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(b) for b in body], pa.int64()),
    })
    return table, {"families": [[ids[i] for i in f] for f in families]}


def clustered_vectors(seed: int, n: int, dim: int, clusters: int = 32) -> tuple[pa.Table, np.ndarray]:
    """Unit vectors around ``clusters`` random centers (float32, the
    testdata embedding type). Returns the table and the matrix."""
    rng = np.random.default_rng(seed + 7)
    centers = rng.normal(size=(clusters, dim))
    x = centers[rng.integers(0, clusters, n)] + 0.6 * rng.normal(size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    table = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return table, x


def write_corpus(seed: int, out_dir: str, docs: int, vectors: int, queries: int,
                 dim: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    table, book = corpus_docs(seed, docs)
    _write(table, os.path.join(out_dir, "documents.parquet"))
    vt, mat = clustered_vectors(seed, vectors, dim)
    _write(vt, os.path.join(out_dir, "vectors.parquet"))
    q_ids = sorted(random.Random(seed + 11).sample(range(vectors), queries))
    _write(vt.take(q_ids), os.path.join(out_dir, "queries.parquet"))
    np.save(os.path.join(out_dir, "vectors.npy"), mat)
    with open(os.path.join(out_dir, "families.json"), "w") as f:
        json.dump(book, f)
    return {"documents": docs, "vectors": vectors, "queries": queries,
            "dup_docs": sum(len(f) for f in book["families"]),
            "families": len(book["families"])}
