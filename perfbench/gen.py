"""Seeded input generation for the benchmark.

Everything a workload feeds the engine is derived here from `--seed`
before any timing starts: the TPC-H-shaped fixture tables (the same
schemas, value domains and row counts as the repo's sf0.1 fixtures;
each workload generates only the tables it reads), the CSV import
feeds, the document edit batches, the search terms and the
near-duplicate probes.

Fixtures are generated rather than read so that a run depends on nothing
outside its own checkout.  Each phase (warm-up, timed loop) draws from
its own `numpy` generator stream, so warm-up inputs never repeat the
timed inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the fixture tables the workloads read
SF01_ROWS = {
    "supplier": 1000, "customer": 15000, "part": 20000,
    "orders": 150000, "lineitem": 600000, "documents": 5000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_ADJ = ["large", "hot", "small", "red", "steel", "brushed", "plated", "tiny"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "spring", "valve", "pipe", "cap"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "de", "es", "fr", "zh"]
# corpus vocabulary: the fixture's data-engineering words plus filler,
# drawn Zipf-skewed so some terms sit in most documents and most in few
VOCAB = (
    "spark column order sort value scan hash batch part line small fast "
    "slow query table agg group filt vector join index merge stream shard "
    "cache plan stage task shuffle delta store commit manifest version "
    "snapshot compact vacuum bloom stats page block file row key upsert "
    "delete insert update schema field type cast null union window frame "
    "rank dense topk heap bucket range skew salt spill memory disk cpu core "
    "thread lock queue retry lease clock epoch watermark offset trigger "
    "sink source reader writer codec parquet arrow json csv xml jdbc driver "
    "executor cluster node rack zone region tenant user session request "
    "reply latency throughput backlog budget quota limit bound error fault"
).split()


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose)."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def sizes(scale: float) -> dict[str, int]:
    return {t: max(20, int(n * scale)) for t, n in SF01_ROWS.items()}


def doc_texts(g: np.random.Generator, n: int, lo: int = 8, hi: int = 60) -> list[str]:
    ranks = np.arange(1, len(VOCAB) + 1)
    p = 1.0 / ranks ** 1.1
    p /= p.sum()
    lens = g.integers(lo, hi, n)
    words = g.choice(len(VOCAB), size=int(lens.sum()), p=p)
    out, pos = [], 0
    for n_w in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + n_w]))
        pos += n_w
    return out


def fixture_tables(seed: int, scale: float, names) -> dict[str, pa.Table]:
    """The TPC-H-shaped tables in `names`, with the sf0.1 fixture schemas
    and `scale` times their row counts.  Each table draws from its own
    stream, so a table is the same whichever others are generated."""
    n = sizes(scale)
    out = {}
    for name in names:
        g = rng(seed, f"fixture-{name}")
        out[name] = TABLES[name](g, n)
    return out


def _region(g, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(g, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _supplier(g, n):
    ns = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(g.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999, 9999, ns), 2),
    })


def _customer(g, n):
    nc = n["customer"]
    return pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(g.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in g.integers(0, 5, nc)],
    })


def _part(g, n):
    npart = n["part"]
    adj, noun = g.integers(0, len(PART_ADJ), npart), g.integers(0, len(PART_NOUN), npart)
    return pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in g.integers(0, len(PART_TYPES), npart)],
        "p_size": pa.array(g.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + g.uniform(0, 1100, npart), 2),
    })


def _orders(g, n):
    no = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": g.integers(0, n["customer"], no),
        "o_orderstatus": [STATUSES[i] for i in g.integers(0, 3, no)],
        "o_totalprice": np.round(g.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(g.integers(0, 2500, no)),
        "o_orderpriority": [PRIORITIES[i] for i in g.integers(0, 5, no)],
    })


def _lineitem(g, n):
    # ~4 lines per order, line numbers 1..k per order
    nl_per = g.integers(1, 8, n["orders"])
    nl_per = nl_per[np.cumsum(nl_per) <= n["lineitem"]]
    okeys = np.repeat(np.arange(len(nl_per), dtype=np.int64), nl_per)
    lnums = (np.arange(len(okeys)) - np.repeat(np.cumsum(nl_per) - nl_per, nl_per) + 1)
    nli = len(okeys)
    return pa.table({
        "l_orderkey": okeys,
        "l_partkey": g.integers(0, n["part"], nli),
        "l_suppkey": g.integers(0, n["supplier"], nli),
        "l_linenumber": lnums.astype(np.int32),
        "l_quantity": g.integers(1, 51, nli).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900, 100000, nli), 2),
        "l_discount": np.round(g.integers(0, 11, nli) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, nli) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, nli)],
        "l_linestatus": [("F", "O")[i] for i in g.integers(0, 2, nli)],
        "l_shipdate": _ts(g.integers(0, 2600, nli)),
    })


def _documents(g, n):
    nd = n["documents"]
    texts = doc_texts(g, nd)
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in g.integers(0, 5, nd)],
        "source": [f"src{i}" for i in g.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


TABLES = {
    "region": _region, "nation": _nation, "supplier": _supplier, "customer": _customer,
    "part": _part, "orders": _orders, "lineitem": _lineitem, "documents": _documents,
}


def write_fixtures(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def zipf_keys(g: np.random.Generator, n_keys: int, k: int, a: float = 1.2) -> np.ndarray:
    """`k` DISTINCT keys in [0, n_keys), drawn Zipf-skewed over a seeded
    permutation of the key space (hot keys are not just the low ids):
    weighted sampling without replacement (Efraimidis-Spirakis), so a
    batch always has exactly `k` rows."""
    k = min(k, n_keys)
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    order = np.argsort(-np.log(g.random(n_keys)) / w)[:k]  # log of u**(1/w), negated
    return g.permutation(n_keys)[order]


def log_uniform_rounds(g: np.random.Generator, lo: int, hi: int, k: int,
                       rounds: int) -> list[int]:
    """Sizes drawn log-uniformly from [lo, hi], stratified: each round of
    `k` holds one log-uniform draw from each of k equal log-strata, in a
    seeded order, so every round spans the range."""
    span = np.log(hi / lo)
    out = []
    for _ in range(rounds):
        u = (np.arange(k) + g.random(k)) / k
        out.extend(int(round(lo * np.exp(span * x))) for x in g.permutation(u))
    return out


# --------------------------------------------------------------------------
# ecom_import feeds
# --------------------------------------------------------------------------

FEED_COLUMNS = (
    "kind", "product_id", "product_number", "product_name", "price",
    "manufacturer", "groups", "order_id", "order_status", "order_total",
)


def group_lists(g: np.random.Generator, n: int) -> list[list[int]]:
    """`n` sorted lists of 1-3 distinct product-group ids out of 40."""
    k = g.integers(1, 4, n)
    ids = g.integers(0, 40, (n, 3))
    return [sorted(set(row[:m].tolist())) for row, m in zip(ids, k)]


def import_feed(g: np.random.Generator, n_parts: int, n_orders: int,
                n_suppliers: int, rows: int, job_index: int) -> dict[str, list]:
    """One import job's CSV feed: product updates (Zipf-skewed existing
    keys), new products arriving without an id, order updates (Zipf-skewed
    existing keys) and a few order deletions.  Manufacturers are given by
    NAME, with some names no manufacturer carries (they resolve to '')."""
    n_new = max(1, rows // 10)
    n_del = max(1, rows // 20)
    n_prod = max(1, (rows - n_new - n_del) // 2)
    n_ord = max(1, rows - n_new - n_del - n_prod)
    n_p = n_prod + n_new
    pk = zipf_keys(g, n_parts, n_prod).tolist()
    new = range(n_new)
    # manufacturer names: 10% unknown; case-insensitive resolution, so
    # some feeds shout the name
    unknown, maker = g.random(n_p) < 0.1, g.integers(0, 50, n_p)
    sup, shout = g.integers(0, n_suppliers, n_p), g.random(n_p) < 0.2
    manus = [f"Unknown Maker {m}" if u else
             (f"SUPPLIER#{s:09d}" if up else f"supplier#{s:09d}")
             for u, m, s, up in zip(unknown, maker, sup, shout)]
    ok = zipf_keys(g, n_orders, n_ord).tolist()
    status = g.integers(0, 3, n_ord)
    dels = np.sort(g.choice(n_orders, n_del, replace=False)).tolist()
    blank_p, blank_o = [""] * n_p, [""] * (n_ord + n_del)
    return {
        "kind": ["product"] * n_p + ["order"] * n_ord + ["order_delete"] * n_del,
        "product_id": [str(k) for k in pk] + [""] * n_new + blank_o,
        "product_number": [f"PN{k}" for k in pk] + [f"NEW{job_index}-{i}" for i in new]
        + blank_o,
        "product_name": [f"part {k} v{job_index}" for k in pk]
        + [f"new part {job_index}-{i}" for i in new] + blank_o,
        "price": [f"{x:.2f}" for x in g.uniform(900, 2000, n_p)] + blank_o,
        "manufacturer": manus + blank_o,
        "groups": [",".join(f'"G{x}"' for x in gl) for gl in group_lists(g, n_p)] + blank_o,
        "order_id": blank_p + [str(k) for k in ok] + [str(k) for k in dels],
        "order_status": blank_p + [STATUSES[i] for i in status] + [""] * n_del,
        "order_total": blank_p + [f"{x:.2f}" for x in g.uniform(1000, 500000, n_ord)]
        + [""] * n_del,
    }


def write_csv(cols: dict[str, list], path: str) -> int:
    import pyarrow.csv as pcsv

    t = pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pcsv.write_csv(t, path)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# ecom_export request mix
# --------------------------------------------------------------------------

EXPORT_VIEWS = (
    "products_export_view", "products_export_full_view", "groups_export_view",
    "variant_options_export_view", "stock_units_export_view",
)


# --------------------------------------------------------------------------
# corpus_ingest_search batches and probes
# --------------------------------------------------------------------------

def doc_batch(g: np.random.Generator, live_ids: np.ndarray, next_id: int,
              n_edit: int, n_insert: int, n_delete: int) -> dict:
    """One ingest batch against the current live doc ids: Zipf-skewed
    edits, fresh inserts with ids from `next_id`, and deletes of distinct
    live ids not edited in the same batch."""
    edits = live_ids[zipf_keys(g, len(live_ids), n_edit)]
    rest = np.setdiff1d(live_ids, edits)
    deletes = g.choice(rest, size=min(n_delete, len(rest)), replace=False)
    ids = np.concatenate([edits, np.arange(next_id, next_id + n_insert)])
    texts = doc_texts(g, len(ids))
    upserts = pa.table({
        "doc_id": ids.astype(np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in g.integers(0, 5, len(ids))],
        "source": [f"src{i}" for i in g.integers(0, 20, len(ids))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"upserts": upserts, "deletes": np.sort(deletes).astype(np.int64),
            "next_id": next_id + n_insert}


def search_terms(g: np.random.Generator, k: int = 2) -> list[str]:
    """`k` distinct Zipf-drawn terms: popular words are probed most."""
    terms: set[str] = set()
    while len(terms) < k:
        terms.add(VOCAB[int(min(g.zipf(1.3) - 1, len(VOCAB) - 1))])
    return sorted(terms)


def probe_docs(g: np.random.Generator, live_texts: list[str], n: int,
               base_id: int) -> pa.Table:
    """Near-duplicate probes: half are live documents with one word
    swapped (should match), half fresh text (mostly should not)."""
    ids, texts = [], []
    for i in range(n):
        if g.random() < 0.5 and live_texts:
            words = live_texts[int(g.integers(0, len(live_texts)))].split()
            if words:
                words[int(g.integers(0, len(words)))] = VOCAB[int(g.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(doc_texts(g, 1)[0])
        ids.append(base_id + i)
    return pa.table({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
