"""Seeded input generators and the expected answers for every output the
benchmark checks.  The same seed gives the same catalogs, blobs, CSVs,
request streams and tables in every process that calls these functions
(the load generator and the primary both rebuild the catalog from the
seed; nothing else is passed between them)."""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np

WORDS = (
    "lake river delta basin survey census crop yield rainfall sensor grid "
    "station tide wind solar market price index trade export import"
).split()
TOPICS = [f"t{i}" for i in range(40)]
LANGUAGES = ["English", "German", "French", "Spanish", "Chinese", "Hindi", "Arabic", "Portuguese"]
N_SOURCES = 50


def cid_of(data: bytes) -> str:
    """The content id LocalStore assigns (sha256 over the bytes)."""
    return "sha256-" + hashlib.sha256(data).hexdigest()


# ---------------------------------------------------------------------------
# catalogs
# ---------------------------------------------------------------------------


class CatalogSpec:
    """Blobs (bytes, MIME) and dataset metadata in id order: dataset i
    gets id i + 1 when ingested into an empty catalog with one bulk
    ``add_datasets`` call."""

    def __init__(self, seed: int, n_datasets: int, n_small: int, n_large: int):
        rng = random.Random(seed)
        nrng = np.random.default_rng(seed)
        self.blobs: list[tuple[bytes, str]] = []
        for i in range(n_small):
            rows = rng.randint(20, 120)
            body = "a,b,c\n" + "".join(
                f"{i},{rng.randrange(10**6)},w{rng.randrange(1000)}\n" for _ in range(rows)
            )
            self.blobs.append((body.encode(), "text/csv"))
        for _ in range(n_large):
            size = int(nrng.integers(2 << 20, 4 << 20))
            self.blobs.append((nrng.bytes(size), "application/octet-stream"))
        self.cids = [cid_of(b) for b, _ in self.blobs]
        self.small = list(range(n_small))
        self.large = list(range(n_small, n_small + n_large))
        self.content_extra = [{"origin": f"crawl{i % 7}"} for i in range(len(self.blobs))]
        ranks = rng.sample(range(1_000_000), n_datasets)
        self.datasets: list[dict] = []
        for i in range(n_datasets):
            self.datasets.append(
                {
                    "file": self.cids[rng.randrange(len(self.cids))],
                    "description": " ".join(rng.choices(WORDS, k=6)),
                    "source": f"src{rng.randrange(N_SOURCES)}",
                    "topics": rng.sample(TOPICS, rng.randint(1, 3)),
                    "length": str(rng.randrange(100_000)),
                    "rank": str(ranks[i]),
                    "language": rng.choice(LANGUAGES),
                }
            )
        self.id_of_rank = {int(d["rank"]): i + 1 for i, d in enumerate(self.datasets)}

    def ids_where(self, pred) -> frozenset:
        return frozenset(i + 1 for i, d in enumerate(self.datasets) if pred(d))


def serve_catalog(seed: int, scale: float = 1.0) -> CatalogSpec:
    return CatalogSpec(seed, n_datasets=int(10_000 * scale), n_small=256, n_large=6)


def ingest_catalog(seed: int, scale: float = 1.0) -> CatalogSpec:
    return CatalogSpec(seed + 7919, n_datasets=int(2_000 * scale), n_small=100, n_large=0)


# ---------------------------------------------------------------------------
# serve_read request stream
# ---------------------------------------------------------------------------

_F = lambda name: [".", ["$"], name]  # noqa: E731 - qast field access


class ReadMix:
    """The serve_read requests, one stream per kind: /find over a hot
    predicate set that fits every memo, /find over a cold set drawn from
    >10k literals, and small and multi-MB blob downloads.  A kind names
    the /find tier its predicates are built for, or the blob size class.
    ``stream(kind, seed)`` yields (method, path, body, expected) where
    expected is an id set (find) or the blob bytes.

    The kinds are measured one after another for equal time and
    summarised with equal weight (geometric means over kinds): there is no
    published request mix to copy, only the paper's separate single-shape
    runs of /find and of downloads."""

    KINDS = ("find_snap_hot", "find_duck_hot", "find_memo_hot",
             "find_snap_cold", "find_duck_cold", "get_small", "get_large")

    def __init__(self, spec: CatalogSpec, seed: int):
        self.spec = spec
        rng = random.Random(seed * 31 + 1)
        hot: list[tuple[str, list, frozenset]] = []
        for _ in range(8):  # snapshot tier: fixed column + extras field
            s, lang = f"src{rng.randrange(N_SOURCES)}", rng.choice(LANGUAGES)
            ast = ["&", ["==", _F("source"), s], ["==", _F("language"), lang]]
            hot.append(("find_snap_hot", ast, spec.ids_where(lambda d: d["source"] == s and d["language"] == lang)))
        for _ in range(8):  # snapshot tier: array overlap
            s, t = f"src{rng.randrange(N_SOURCES)}", rng.choice(TOPICS)
            ast = ["&", ["==", _F("source"), s], ["&&", _F("topics"), [t]]]
            hot.append(("find_snap_hot", ast, spec.ids_where(lambda d: d["source"] == s and t in d["topics"])))
        for _ in range(8):  # DuckDB tier: '+' over an extras field
            a = rng.randrange(99_000)
            ast = ["&", [">", ["+", _F("length"), 1], a], ["<=", ["+", _F("length"), 1], a + 150]]
            hot.append(("find_duck_hot", ast, spec.ids_where(lambda d: a < int(d["length"]) + 1 <= a + 150)))
        for _ in range(8):  # residual tier: mixed-literal chain (Spark once, then memos)
            k = rng.randrange(1, len(spec.datasets) + 1)
            hot.append(("find_memo_hot", ["==", _F("id"), str(k), str(k)], frozenset([k])))
        self.hot = [(kind, json.dumps(a).encode(), e) for kind, a, e in hot]

    def stream(self, kind: str, seed: int):
        rng = random.Random(seed)
        spec = self.spec
        n = len(spec.datasets)
        hot = [(body, e) for k, body, e in self.hot if k == kind]
        ranks = [int(d["rank"]) for d in spec.datasets]
        idx = spec.small if kind == "get_small" else spec.large
        while True:
            if hot:
                body, expected = hot[rng.randrange(len(hot))]
                yield "POST", "/find", body, expected
            elif kind == "find_snap_cold":  # 10k distinct ids
                k = rng.randrange(1, n + 1)
                yield "POST", "/find", json.dumps(["==", _F("id"), k]).encode(), frozenset([k])
            elif kind == "find_duck_cold":  # 10k distinct ranks: past its 128-entry cache
                r = ranks[rng.randrange(n)]
                body = json.dumps(["==", ["+", _F("rank"), 0], r]).encode()
                yield "POST", "/find", body, frozenset([spec.id_of_rank[r]])
            else:
                i = idx[rng.randrange(len(idx))]
                yield "GET", f"/file/{spec.cids[i]}", None, spec.blobs[i][0]


# ---------------------------------------------------------------------------
# ingest_cycle content
# ---------------------------------------------------------------------------

INGEST_SCHEMA = {"key": "number", "val": "number", "name": "string"}


def ingest_csv(seed: int, client: int, cycle: int, rows: int = 20_000):
    """A fresh CSV (unique bytes, so a new content id), the extract
    predicate for it and the number of rows that predicate matches."""
    rng = np.random.default_rng([seed, client, cycle])
    vals = rng.integers(0, 10**6, rows)
    names = rng.integers(0, 100_000, rows)
    head = f"key,val,name\n-1,0.00,u{seed}x{client}x{cycle}\n"
    body = head + "".join(
        f"{k},{v // 100}.{v % 100:02d},k{n}\n" for k, v, n in zip(range(rows), vals.tolist(), names.tolist())
    )
    prefix = str(int(rng.integers(10, 100)))
    matches = sum(1 for n in names.tolist() if str(n).startswith(prefix))
    ast = ["~", _F("name"), f"k{prefix}.*"]
    return body.encode(), ast, matches


# ---------------------------------------------------------------------------
# batch_mix tables
# ---------------------------------------------------------------------------

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
DOC_LANGS = (["en"] * 41) + (["zh"] * 15) + (["de"] * 14) + (["fr"] * 15) + (["es"] * 15)


def batch_tables(seed: int, out_dir: str, scale: float = 1.0) -> None:
    """lineitem / orders / documents with the schemas and value domains of
    the repository's synthetic test tables, sized so one pass over the
    batch query list fits the run budget."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(int(7_500 * scale), 400)
    n_cust = max(n_orders // 10, 40)
    n_li = n_orders * 4
    n_docs = max(int(1_000 * scale), 200)

    day = np.datetime64("1995-01-01", "ms")
    o_days = rng.integers(0, 2404, n_orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
            "o_orderdate": pa.array(day + o_days.astype("timedelta64[D]"), pa.timestamp("ms")),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)
            ),
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))

    l_order = rng.integers(0, n_orders, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
            "l_shipdate": pa.array(
                day + (o_days[l_order] + rng.integers(1, 122, n_li)).astype("timedelta64[D]"),
                pa.timestamp("ms"),
            ),
        }
    )
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))

    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and u < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), k)))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([DOC_LANGS[j] for j in rng.integers(0, len(DOC_LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

