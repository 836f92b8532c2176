"""Seeded input generator for the benchmark workloads.

Every workload reads the same table layout the catalog expects
(``<dir>/<table>.parquet``, the schemas in FIXTURES.md). The inputs are
made in two steps, so that every seed gives the program the same amount
and shape of work while no two seeds give it the same bytes:

1. A *base* set of tables, drawn from a fixed generator seed with the
   distributions of the repository's synthetic fixtures: TPC-H-ish star
   tables, an event stream, a 30-word document corpus with ~5% planted
   near-duplicates, and unit-norm 64-d embeddings.
2. Per-seed transforms of that base:
   - a row permutation of every table;
   - key offsets on the star schema and the event stream (customer,
     order, part, supplier, event and user keys), applied consistently
     to every foreign key;
   - a per-seed suffix token on every document text (``n_chars``
     recomputed);
   - a cyclic rotation of every embedding's coordinates, which keeps
     every norm and cosine;
   - HTML list and detail pages for the offline scrape fetcher, with
     seeded job ids, titles, pay fragments and missing detail pages.

Document and vector ids are not offset: entries select their query
vectors by ``vec_id < 5`` and derive posting titles from ``doc_id``
residues, so those ids are part of the input contract.

Run ``python3 perfbench/gen.py <out_dir> <workload> <seed>`` to write one
workload's inputs and print its manifest.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# Base sizes: half of sf0.1 for the star and event tables (300k
# lineitem); the corpus and vector tables are sized so one pass of each
# workload stays within the benchmark's per-run time budget.
SIZES = {
    "customer": 7_500,
    "supplier": 500,
    "part": 10_000,
    "orders": 75_000,
    "lineitem": 300_000,
    "events": 50_000,
    "users": 750,
    "documents": 1_000,
    "embeddings": 1_000,
}

WORKLOAD_TABLES = {
    "nightly_curation": ("documents", "embeddings"),
    "warehouse_stream": (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    ),
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PART_ADJ = ("blue", "old", "red", "small", "new", "hot", "large", "cold")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")

# Offline scrape fixture: one list page per job title. The reference
# scrapes these three titles nightly, one per Pub/Sub message, and keeps
# <= 25 cards each.
JOB_TITLES = ("Data Engineer", "Data Scientist", "Data Analyst")
CARDS_PER_TITLE = 25
CARD_TITLES = (
    "Senior Data Engineer", "Graduate Data Analyst", "Head of Data",
    "Principal Engineer", "Tech Lead", "Data Engineer", None,
)
PAY_FRAGMENTS = (
    " salary £45,000 per year", " comp £80K plus bonus", " pays 55000 GBP",
    " pay 60,000GBP", " range £40,000 to £50,000", " competitive salary",
)
MISSING_DETAIL_P = 0.04

_DAY_US = 86_400 * 1_000_000


def _ts_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: tuple, hi: tuple, n: int) -> np.ndarray:
    a, b = _ts_us(*lo) // _DAY_US, _ts_us(*hi) // _DAY_US
    return rng.integers(a, b + 1, n) * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def base_tables() -> dict[str, dict]:
    """The seed-independent base: column name -> numpy/list values."""
    rng = np.random.default_rng(BASE_SEED)
    n = SIZES
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }
    t["customer"] = {
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }
    pk = np.arange(n["part"], dtype="int64")
    t["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"])
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype("int64"),
        "o_orderstatus": rng.choice(("F", "O", "P"), n["orders"]).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], nl).astype("int64"),
        "l_partkey": rng.integers(0, n["part"], nl).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl).tolist(),
        "l_linestatus": rng.choice(("F", "O"), nl).tolist(),
        "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), nl),
    }
    ne = n["events"]
    start = _ts_us(2024, 1, 1)
    t["events"] = {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": np.sort(rng.integers(start, start + 30 * _DAY_US, ne)),
        "user_id": rng.integers(0, n["users"], ne).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, int(k)))
        for k in rng.integers(10, 101, nd)
    ]
    # ~5% planted near-duplicates: another document's text plus a token
    for i in rng.choice(nd, nd // 20, replace=False):
        src = int(rng.integers(0, nd))
        if src != i:
            texts[i] = texts[src] + " dup"
    t["documents"] = {
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
    }
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype("float32")
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": v / np.linalg.norm(v, axis=1, keepdims=True),
        "label": rng.integers(0, 10, nv).astype("int32"),
    }
    return t


# key column -> the offset family it belongs to (every foreign key of a
# family moves by the same per-seed amount, so joins keep matching)
KEY_FAMILY = {
    "c_custkey": "customer", "o_custkey": "customer",
    "o_orderkey": "orders", "l_orderkey": "orders",
    "p_partkey": "part", "l_partkey": "part",
    "s_suppkey": "supplier", "l_suppkey": "supplier",
    "event_id": "event", "user_id": "user",
}


def _suffix_token(seed: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    r = np.random.default_rng([seed, 1])
    return "zq" + "".join(r.choice(list(letters), 5))


def seeded_tables(base: dict, seed: int, names) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0])
    offsets = {f: int(rng.integers(1, 1000)) * 1000 for f in sorted(set(KEY_FAMILY.values()))}
    suffix = _suffix_token(seed)
    shift = int(rng.integers(1, 64))
    out = {}
    for name in names:
        cols = dict(base[name])
        nrows = len(next(iter(cols.values())))
        perm = rng.permutation(nrows)
        arrays = {}
        for col, vals in cols.items():
            if col == "embedding":
                rot = np.roll(vals, shift, axis=1)[perm]
                arrays[col] = pa.array(list(rot), pa.list_(pa.float32()))
                continue
            vals = np.asarray(vals, dtype=object if isinstance(vals, list) else None)
            vals = vals[perm]
            if col in KEY_FAMILY:
                vals = vals + offsets[KEY_FAMILY[col]]
            if col == "text":
                vals = np.array([f"{s} {suffix}" for s in vals], dtype=object)
            if col in ("o_orderdate", "l_shipdate", "ts"):
                arrays[col] = _ts(vals)
            elif vals.dtype == object:
                arrays[col] = pa.array(vals.tolist(), pa.string())
            else:
                arrays[col] = pa.array(vals)
        if name == "customer":
            arrays = _insert_after(arrays, "c_custkey", "c_name", [
                f"Customer#{k:09d}" for k in arrays["c_custkey"].to_pylist()])
        if name == "supplier":
            arrays = _insert_after(arrays, "s_suppkey", "s_name", [
                f"Supplier#{k:09d}" for k in arrays["s_suppkey"].to_pylist()])
        if name == "documents":
            arrays["n_chars"] = pa.array(
                [len(s) for s in arrays["text"].to_pylist()], pa.int64())
        out[name] = pa.table(arrays)
    return out


def _insert_after(arrays: dict, after: str, col: str, values: list) -> dict:
    res = {}
    for k, v in arrays.items():
        res[k] = v
        if k == after:
            res[col] = pa.array(values, pa.string())
    return res


def scrape_pages(base: dict, seed: int, out_dir: str) -> dict:
    """HTML list and detail pages for the offline fetcher, plus the
    expected pipeline outcome (silver rows and partitions)."""
    rng = np.random.default_rng([seed, 2])
    texts = base["documents"]["text"]
    os.makedirs(out_dir, exist_ok=True)
    picks = rng.choice(len(texts), len(JOB_TITLES) * CARDS_PER_TITLE, replace=False)
    first_id = int(rng.integers(10**9, 2 * 10**9))
    suffix = _suffix_token(seed)
    n_bytes = 0
    expected = 0
    for t, title in enumerate(JOB_TITLES):
        cards = []
        for c in range(CARDS_PER_TITLE):
            jobid = first_id + t * CARDS_PER_TITLE + c
            card_title = CARD_TITLES[int(rng.integers(0, len(CARD_TITLES)))]
            h3 = (
                f'<h3 class="base-search-card__title">\n  {card_title}\n</h3>'
                if card_title is not None else ""
            )
            cards.append(
                f'<div class="job-search-card" '
                f'data-entity-urn="urn:li:jobPosting:{jobid}">{h3}</div>'
            )
            if rng.random() < MISSING_DETAIL_P:
                continue  # detail fetch fails -> null description, dropped
            doc = texts[int(picks[t * CARDS_PER_TITLE + c])]
            pay = PAY_FRAGMENTS[int(rng.integers(0, len(PAY_FRAGMENTS)))]
            html = (
                "<html><body><div class='top'></div>"
                '<div class="description__text description__text--rich">'
                f"{doc} {suffix}{pay}</div></body></html>"
            )
            n_bytes += _write(os.path.join(out_dir, f"detail_{jobid}.html"), html)
            expected += 1
        page = f"<html><body><ul>{''.join(cards)}</ul></body></html>"
        n_bytes += _write(os.path.join(out_dir, f"list_{_slug(title)}.html"), page)
    return {
        "titles": list(JOB_TITLES),
        "expected_silver_rows": expected,
        "pages": len(os.listdir(out_dir)),
        "bytes": n_bytes,
    }


def _slug(title: str) -> str:
    return title.lower().replace(" ", "_")


def _write(path: str, text: str) -> int:
    data = text.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def generate(out_dir: str, workload: str, seed: int) -> dict:
    """Write one workload's inputs under ``out_dir``; return the manifest
    of rows and bytes per input."""
    data_dir = os.path.join(out_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    base = base_tables()
    manifest = {"seed": seed, "data_dir": data_dir, "inputs": {}}
    for name, table in seeded_tables(base, seed, WORKLOAD_TABLES[workload]).items():
        path = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        manifest["inputs"][name] = {
            "rows": table.num_rows, "bytes": os.path.getsize(path)}
    if workload == "nightly_curation":
        html_dir = os.path.join(out_dir, "html")
        pages = scrape_pages(base, seed, html_dir)
        manifest["scrape"] = dict(pages, html_dir=html_dir)
        manifest["inputs"]["html"] = {
            "rows": pages["pages"], "bytes": pages["bytes"]}
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], sys.argv[2], int(sys.argv[3])), indent=1))
