"""Independent correctness checks. Nothing here calls the engine's
operators: expected results come from DuckDB SQL over the generated
files, or from plain Python over the generator's own bookkeeping.

Two strengths of check:

- ``same_rows`` compares whole result sets (run on each set-up's
  warm-up op);
- fingerprints compare order-free column aggregates that the timed
  op computes for free with ``DataFrame.observe`` during its noop
  write (run on every measured op).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np

from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# result comparison
# ---------------------------------------------------------------------------


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _key(row) -> tuple:
    return tuple((v is None, round(v, 4) if isinstance(v, float) else v) for v in row)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality, floats within 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            return False
    return True


def _numeric(dt) -> bool:
    return isinstance(dt, (T.NumericType,))


def fingerprint_exprs(schema: T.StructType) -> list:
    """Order-free aggregates of a DataFrame's output, for ``observe``."""
    exprs = [F.count(F.lit(1)).alias("n")]
    for f in schema.fields:
        c = F.col(f"`{f.name}`")
        exprs.append(F.count(c).alias(f"{f.name}__n"))
        if _numeric(f.dataType):
            exprs.append(F.sum(c.cast("double")).alias(f"{f.name}__sum"))
        elif isinstance(f.dataType, T.StringType):
            exprs.append(F.sum(F.length(c)).alias(f"{f.name}__len"))
    return exprs


def fingerprint_rows(schema: T.StructType, rows: list[dict]) -> dict:
    """The same aggregates as ``fingerprint_exprs``, over Python rows
    keyed by column name."""
    out: dict = {"n": len(rows)}
    for f in schema.fields:
        vals = [r[f.name] for r in rows if r[f.name] is not None]
        out[f"{f.name}__n"] = len(vals)
        if _numeric(f.dataType):
            out[f"{f.name}__sum"] = float(sum(float(v) for v in vals)) if vals else None
        elif isinstance(f.dataType, T.StringType):
            out[f"{f.name}__len"] = sum(len(v) for v in vals) if vals else None
    return out


def same_fingerprint(got: dict, want: dict) -> bool:
    if set(got) != set(want):
        return False
    return all(_close(got[k], want[k]) for k in want)


def duck(threads: int = 2) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET enable_progress_bar=false")
    return con


def query_dicts(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


# ---------------------------------------------------------------------------
# listing_upsert
# ---------------------------------------------------------------------------


def listing_tick_rows(con, tick_dir: str) -> list[dict]:
    """The registry's independent DuckDB parse of the listing pipeline
    (``plans/listing_queries._PIPELINE_ORACLE``) over one tick's pages:
    keep-first per link, cleaned prices and sizes."""
    from etl_property_rumah123_spark.plans import listing_queries as lq

    fixture_glob = os.path.join(lq._FIXTURE_DIR, "page_*.html")
    sql = lq._PIPELINE_ORACLE.replace(fixture_glob, os.path.join(tick_dir, "page_*.html"))
    rows = query_dicts(con, f"SELECT * FROM ({sql}) WHERE part = 'listing'")
    for r in rows:
        r["price_rp"] = None if r["price_rp"] is None else int(r["price_rp"])
    return rows


def region_location(admin_text: str, admins: list[str]) -> str:
    """pick_location's contract over the card's spans: the only span
    that can hold an admin name is the admin span."""
    low = admin_text.lower()
    return admin_text if any(a.lower() in low for a in admins) else ""


def region_price_stats(state: dict) -> list[tuple]:
    """(region, n, n_priced, sum, min, max) per region of a
    {(region, link): price} state."""
    acc: dict[str, list] = {}
    for (region, _), price in state.items():
        a = acc.setdefault(region, [0, 0, 0, None, None])
        a[0] += 1
        if price is not None:
            a[1] += 1
            a[2] += price
            a[3] = price if a[3] is None else min(a[3], price)
            a[4] = price if a[4] is None else max(a[4], price)
    return [(r, *a) for r, a in acc.items()]


# ---------------------------------------------------------------------------
# olap_star
# ---------------------------------------------------------------------------


def star_views(con, table_dir: str) -> None:
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM "
                f"'{os.path.join(table_dir, f)}'"
            )


def gate_digests(user_id, event_id, props) -> dict[int, tuple[int, str]]:
    """event_id -> (user_id, md5 of props), the admission gate's digest."""
    import hashlib

    return {e: (u, hashlib.md5((p or "").encode()).hexdigest())
            for u, e, p in zip(user_id, event_id, props)}


def gate_ok(got: list[tuple], digests: dict, n_recent: int) -> bool:
    """The FIFO admission gate's contract while no user has more than
    ``n_recent`` distinct digests (nothing is ever evicted): exactly one
    admitted event per distinct (user, digest), and each admitted row is
    a real event with that user and digest."""
    per_user: dict[int, set] = {}
    for u, d in digests.values():
        per_user.setdefault(u, set()).add(d)
    if max(len(v) for v in per_user.values()) > n_recent:
        raise ValueError("a user exceeds the gate horizon; the check needs no eviction")
    want = {(u, d) for u, ds in per_user.items() for d in ds}
    seen = {(u, d) for u, _, d in got}
    return (len(got) == len(want) == len(seen) and seen == want
            and all(digests.get(e) == (u, d) for u, e, d in got))


def closed_sessions(user_id, ts_us, value, gap_us: int, delay_us: int) -> list[tuple]:
    """Session windows per user (a new session when the next event is
    ``gap_us`` or more after the previous one) that an append-mode query
    with watermark delay ``delay_us`` has emitted once all events are in:
    those ending at or before max(ts) - delay. Rows are (user_id,
    start_us, end_us, n_events, sum of value)."""
    by_user: dict[int, list] = {}
    for u, t, v in zip(user_id, ts_us, value):
        by_user.setdefault(u, []).append((t, v))
    watermark = max(ts_us) - delay_us
    out = []
    for u, evs in by_user.items():
        evs.sort()
        cur = None
        for t, v in evs:
            if cur is not None and t < cur[1]:
                cur[1] = t + gap_us
                cur[2] += 1
                cur[3] += v
                continue
            if cur is not None:
                out.append((u, *cur))
            cur = [t, t + gap_us, 1, v]
        out.append((u, *cur))
    return [r for r in out if r[2] <= watermark]


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def lsh_pairs_oracle(con, docs_path: str, doc_ids: list[int]) -> set[tuple[int, int]]:
    """xxhash64 MinHash-LSH candidate pairs among ``doc_ids``, from the
    registry's DuckDB expansion of Spark's XXH64
    (``functions/xxh64_sql.py``). Pairs depend only on their two
    documents, so a subset's pairs are exactly the full run's pairs
    with both ends in the subset."""
    from etl_property_rumah123_spark.functions import xxh64_sql

    ids = ",".join(str(i) for i in doc_ids)
    con.execute(
        f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{docs_path}' "
        f"WHERE doc_id IN ({ids})"
    )
    sql = xxh64_sql.minhash_lsh_xxhash64_oracle(shingle_n=3, num_hashes=16, bands=4)
    return {(int(a), int(b)) for a, b in con.execute(sql).fetchall()}


def components(nodes: list[int], pairs) -> dict[int, int]:
    """Union-find: node -> smallest node id of its component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def canonical_rows(comp: dict[int, int], score: dict[int, int]) -> list[dict]:
    """canonical_per_component's contract: highest score wins, ties on
    the lowest id."""
    best: dict[int, int] = {}
    for n, c in comp.items():
        b = best.get(c)
        if b is None or (score[n], -n) > (score[b], -b):
            best[c] = n
    return [
        {"doc_id": n, "component": c, "score": score[n], "canonical_id": best[c],
         "is_canonical": int(best[c] == n)}
        for n, c in comp.items()
    ]


def shingles(text: str, n: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def brute_topk(mat: np.ndarray, query_ids: list[int], k: int) -> dict[int, list[int]]:
    """Exact top-k neighbours by dot product, self excluded, ties on id."""
    out = {}
    sims = mat[query_ids].astype("float64") @ mat.astype("float64").T
    for row, q in zip(sims, query_ids):
        row[q] = -np.inf
        order = np.lexsort((np.arange(len(row)), -row))
        out[q] = [int(i) for i in order[:k]]
    return out


def topk_valid(got: dict[int, list[tuple[int, int]]], mat: np.ndarray, query_ids, k: int) -> bool:
    """Every query has ranks 1..k over distinct non-self ids, ordered by
    exact dot product (the operator re-scores exactly inside probed
    cells, so its ranking of what it returns must be exact)."""
    for q in query_ids:
        ranked = sorted(got.get(q, []))
        if [r for r, _ in ranked] != list(range(1, k + 1)):
            return False
        ids = [i for _, i in ranked]
        if q in ids or len(set(ids)) != k:
            return False
        sims = mat[ids].astype("float64") @ mat[q].astype("float64")
        if any(sims[i] < sims[i + 1] - 1e-6 for i in range(k - 1)):
            return False
    return True
