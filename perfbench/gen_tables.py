"""Seeded fixture tables for the ``query`` workload (analytics and iterative keys).

Writes the ten tables ``wikidata2pg_spark.tables`` loads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as single-row-group parquet files with the schemas, sizes and value
profiles of the repository's test fixture files (sf0.1: lineitem 600k,
orders 150k, events 100k, documents 5k, embeddings 2k x 64). Where
FIXTURES.md and the fixture files disagree, this follows the files:
timestamps are microseconds, ``n_chars`` equals ``length(text)``, a text is
10-99 words (5% of documents are another document's text plus " dup", which
is where the exact duplicates at sf0.1 come from), and embeddings are
L2-normalized. The same (seed, sf) always gives the same tables;
``cached_tables`` keeps one directory per pair.

    python3 perfbench/gen_tables.py --seed 1 --sf 0.1 --out DIR

``--compare REF`` then profiles DIR and REF (a directory of fixture parquet
files at the same scale) side by side and exits non-zero when a statistic
differs by more than ``--tolerance``.
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DAY_US = 86_400 * 10**6


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(values), n, dtype=np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 100, n)]
    # near-duplicates: 5% of the documents repeat another one's text plus a
    # word; two of them copying the same source are exact duplicates
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return {table: rows}."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = n_vecs = 500
    if sf > 0.01:
        n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    keys = lambda n: pa.array(np.arange(n), pa.int64())  # noqa: E731
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * DAY_US, n_ev)
    )
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": keys(n_part),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
        }),
        "events": pa.table({
            "event_id": keys(n_ev),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tbl) or 1)
    return {name: len(tbl) for name, tbl in tables.items()}


def cached_tables(cache_dir: str, seed: int, sf: float) -> str:
    """Return the directory holding the (seed, sf) tables, writing it on
    first use (into a temporary sibling renamed into place, so a run that
    dies mid-write never leaves a partial directory behind)."""
    out = os.path.join(cache_dir, f"tables-s{seed}-sf{sf:g}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_tables(tmp, seed, sf)
        os.replace(tmp, out)
    return out


# name -> SQL returning one number; the statistics --compare checks
PROFILE = {
    **{f"rows.{t}": f"SELECT count(*) FROM {t}" for t in (
        "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")},
    "customer.avg_acctbal": "SELECT avg(c_acctbal) FROM customer",
    "part.names": "SELECT count(DISTINCT p_name) FROM part",
    "part.brands": "SELECT count(DISTINCT p_brand) FROM part",
    "part.avg_retailprice": "SELECT avg(p_retailprice) FROM part",
    "orders.custkeys": "SELECT count(DISTINCT o_custkey) FROM orders",
    "orders.avg_totalprice": "SELECT avg(o_totalprice) FROM orders",
    "orders.date_span_days": "SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) FROM orders",
    "lineitem.orderkeys": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
    "lineitem.avg_quantity": "SELECT avg(l_quantity) FROM lineitem",
    "lineitem.avg_extendedprice": "SELECT avg(l_extendedprice) FROM lineitem",
    "lineitem.avg_discount": "SELECT avg(l_discount) FROM lineitem",
    "lineitem.flag_status_groups": "SELECT count(DISTINCT (l_returnflag, l_linestatus)) FROM lineitem",
    "lineitem.shipped_by_2001_09": "SELECT count(*) FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'",
    "events.users": "SELECT count(DISTINCT user_id) FROM events",
    "events.avg_value": "SELECT avg(value) FROM events",
    "events.median_value": "SELECT median(value) FROM events",
    "events.hours": "SELECT count(DISTINCT date_trunc('hour', ts)) FROM events",
    "events.hour_type_groups": "SELECT count(DISTINCT (date_trunc('hour', ts), event_type)) FROM events",
    "events.distinct_k": "SELECT count(DISTINCT props) FROM events",
    "documents.distinct_texts": "SELECT count(DISTINCT text) FROM documents",
    "documents.near_dups": "SELECT count(*) FROM documents WHERE text LIKE '% dup'",
    "documents.avg_chars": "SELECT avg(length(text)) FROM documents",
    "documents.avg_words": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "documents.n_chars_is_length": "SELECT avg((n_chars = length(text))::INT) FROM documents",
    "documents.en_share": "SELECT avg((lang = 'en')::INT) FROM documents",
    "embeddings.avg_norm": "SELECT avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))) FROM embeddings",
    "embeddings.labels": "SELECT count(DISTINCT label) FROM embeddings",
}


def profile(sf_dir: str) -> dict[str, float]:
    import duckdb

    con = duckdb.connect()
    for name in ("customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    return {k: float(con.sql(q).fetchone()[0] or 0) for k, q in PROFILE.items()}


def compare(out_dir: str, ref_dir: str, tolerance: float) -> int:
    """Print both profiles; return the number of statistics further apart
    than ``tolerance`` (relative to the reference)."""
    got, ref = profile(out_dir), profile(ref_dir)
    bad = 0
    for k in PROFILE:
        rel = abs(got[k] - ref[k]) / abs(ref[k]) if ref[k] else abs(got[k])
        bad += rel > tolerance
        print(f"{k:32s} {got[k]:16.4f} {ref[k]:16.4f} {rel:8.4f}{'  <-- differs' if rel > tolerance else ''}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--compare", metavar="REF", help="fixture directory at the same scale to profile against")
    ap.add_argument("--tolerance", type=float, default=0.05)
    args = ap.parse_args()
    print(write_tables(args.out, args.seed, args.sf))
    return 1 if args.compare and compare(args.out, args.compare, args.tolerance) else 0


if __name__ == "__main__":
    raise SystemExit(main())
