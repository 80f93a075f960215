"""Seeded benchmark inputs and their goldens.

Everything here is a pure function of ``(seed, size)`` and is cached on
disk under the benchmark's work directory, so a repeated run with the
same seed pays no generation cost. The program under test only ever
sees the generated parquet files.

Two input families:

- **fixture pages** — a seeded *window* of the deterministic fixture
  corpus (``kgap_spark.fixtures.page_row(i, cfg)`` is pure in ``i``), a
  dictionary from ``alias_rows``, and goldens computed with the fixture
  module's published rules (``page_mentions``,
  ``linked_entity_for_alias``, ``canonical_map``);
- **sf tables** — the ten tables the headline leaves read (TPC-H-like
  star schema, ``events``, ``documents``, ``embeddings``), drawn from a
  seeded NumPy generator in the shapes of the shipped test data.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
     ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
)
ALIAS_SCHEMA = pa.schema(
    [("alias", pa.string()), ("entity_id", pa.string()), ("lang", pa.string()),
     ("prior", pa.float64()), ("is_label", pa.bool_())]
)

# the fixture corpus is unbounded in the page index; windows are drawn
# from this range so two seeds almost never share a page
WINDOW_SPACE = 50_000_000


def _rng(seed: int, salt: str) -> random.Random:
    return random.Random(f"{seed}:{salt}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(meta, f)


# ---------------------------------------------------------------------------
# fixture pages


def fixture_config(n_entities: int, n_sites: int):
    from kgap_spark.fixtures import FixtureConfig

    # n_pages is unused by the per-row functions; windows pick indices
    return FixtureConfig(WINDOW_SPACE, n_entities, n_sites)


def page_window(seed: int, n: int) -> list[int]:
    """Seeded contiguous window of fixture page indices."""
    start = _rng(seed, "window").randrange(WINDOW_SPACE - n)
    return list(range(start, start + n))


def golden_page_quads(indices, cfg, by_alias: dict, canon: dict) -> set:
    """Page-graph quads for ``indices`` by the fixture's published rules
    (the per-page part of ``fixtures.golden_rows``)."""
    from kgap_spark import fixtures as fx

    out: set = set()
    for i in indices:
        url = fx.page_url(i, cfg)
        site = fx.page_site(i, cfg)
        graph = f"urn:kgap:ldes:{site}"
        out.add((url, "rdf:type", "kgap:WebPage", None, graph))
        out.add((url, "kgap:extractedFrom", site, None, graph))
        if not fx.expected_text(i, cfg):
            continue
        lang = fx.page_lang(i)
        for alias in fx.page_mentions(i, cfg):
            eid = fx.linked_entity_for_alias(alias, lang, by_alias)
            if eid is not None:
                out.add((url, "kgap:mentions", canon.get(eid, eid), None, graph))
    return out


def golden_dict_quads(cfg, canon: dict) -> set:
    from kgap_spark import fixtures as fx

    out: set = set()
    for n in range(cfg.n_entities):
        for lang in fx.LANGS:
            out.add((fx.entity_id(n), "rdfs:label", fx.entity_name(n, lang),
                     lang, fx.GRAPH_DICT))
    for eid, ceid in canon.items():
        if eid != ceid:
            out.add((eid, "kgap:sameAs", ceid, None, fx.GRAPH_DICT))
    return out


class Dictionary:
    """The alias dictionary of ``n_entities`` entities plus the golden
    lookups derived from it (independent of the seed)."""

    def __init__(self, root: str, n_entities: int, n_sites: int):
        from kgap_spark import fixtures as fx

        self.cfg = fixture_config(n_entities, n_sites)
        self.rows = fx.alias_rows(self.cfg)
        self.by_alias: dict[str, list[dict]] = {}
        for r in self.rows:
            self.by_alias.setdefault(r["alias"], []).append(r)
        self.canon = fx.canonical_map(self.rows)
        self.path = os.path.join(root, f"alias-{n_entities}.parquet")
        if not os.path.exists(self.path):
            tmp = self.path + ".tmp"
            pq.write_table(pa.Table.from_pylist(self.rows, ALIAS_SCHEMA), tmp)
            os.replace(tmp, self.path)
        self.dict_quads = golden_dict_quads(self.cfg, self.canon)

    def page_quads(self, indices) -> set:
        return golden_page_quads(indices, self.cfg, self.by_alias, self.canon)


def write_pages(path: str, rows: list[dict]) -> None:
    if os.path.exists(path):
        return
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pylist(rows, PAGES_SCHEMA), tmp)
    os.replace(tmp, path)


def page_rows(indices, cfg) -> list[dict]:
    from kgap_spark.fixtures import page_row

    return [page_row(i, cfg) for i in indices]


def text_sha256(indices, cfg) -> dict[str, str]:
    """url → sha256 of the text extraction must produce."""
    from kgap_spark import fixtures as fx

    return {
        fx.page_url(i, cfg): hashlib.sha256(
            (fx.expected_text(i, cfg) or "").encode()).hexdigest()
        for i in indices
    }


def increment_batches(seed: int, indices: list[int], n_base: int,
                      n_batches: int, batch_pages: int) -> list[list[int]]:
    """Micro-batches after a base of ``indices[:n_base]``: each batch
    takes fresh pages from the window, and 20% of its slots re-emit an
    already-ingested page (the fixture ``increments`` rule)."""
    rng = _rng(seed, "increments")
    nxt = n_base
    batches = []
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_pages):
            if rng.random() < 0.2:
                batch.append(indices[rng.randrange(nxt)])
            else:
                batch.append(indices[nxt])
                nxt += 1
        batches.append(batch)
    return batches


def reemitted_rows(batch: list[int], batch_no: int, cfg) -> list[dict]:
    """Rows of one increment batch; a re-emitted page carries a newer
    ``warc_ts`` (``batch_no`` days later), its content unchanged."""
    rows = page_rows(batch, cfg)
    for r in rows:
        r["warc_ts"] = r["warc_ts"] + timedelta(days=batch_no + 1)
    return rows


# ---------------------------------------------------------------------------
# sf tables for the headline leaves

DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ["en", "zh", "de", "es", "fr"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PART_WORDS_A = ["large", "hot", "blue", "old", "cold", "red", "thin", "tall"]
PART_WORDS_B = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    micros = (seconds * 1_000_000).astype("int64")
    base_us = int(base.timestamp() * 1_000_000)
    return pa.array(micros + base_us, pa.timestamp("us"))


def _days(base: datetime, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype("int64") * 86400)


def sf_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten leaf tables at ``scale`` (1.0 ≈ the shipped sf0.1 row
    counts). Money, quantities and rates carry two decimals, as the
    oracles' DECIMAL casts expect; timestamps are naive (UTC) like the
    shipped files."""
    g = np.random.default_rng([seed, 7])
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(20, int(1_000 * scale))
    n_part = max(50, int(20_000 * scale))
    n_ord = max(200, int(150_000 * scale))
    n_li = max(800, int(600_000 * scale))
    n_ev = max(500, int(100_000 * scale))
    n_users = max(20, int(1_500 * scale))
    n_doc = min(9_000, max(100, int(5_000 * scale)))
    n_vec = max(100, int(2_000 * scale))
    epoch = datetime(1970, 1, 1)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[k] for k in g.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2),
    })
    wa, wb = g.integers(0, 8, n_part), g.integers(0, 7, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS_A[a]} {PART_WORDS_B[b]}" for a, b in zip(wa, wb)],
        "p_brand": [f"Brand#{k}" for k in g.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[k] for k in g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    o_start = datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(epoch, (o_start - epoch).days + g.integers(0, 2404, n_ord)),
        "o_orderpriority": [PRIORITIES[k] for k in g.integers(0, 5, n_ord)],
    })
    li_order = g.integers(0, n_ord, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(g.uniform(900, 100_000, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in g.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[k] for k in g.integers(0, 2, n_li)],
        "l_shipdate": _days(epoch, (o_start - epoch).days + 1 + g.integers(0, 2498, n_li)),
    })
    ev_secs = np.sort(g.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), ev_secs),
        "user_id": pa.array(g.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_doc):
        words = g.integers(0, len(DOC_VOCAB), int(g.integers(8, 90)))
        texts.append(" ".join(DOC_VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [DOC_LANGS[k] for k in g.integers(0, 5, n_doc)],
        "source": [f"src{k}" for k in np.arange(n_doc) % 20],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = g.normal(0, 0.12, (n_vec, 64)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def sf_dir(root: str, seed: int, scale: float) -> str:
    """Write (once) and return the directory of the sf tables."""
    out = os.path.join(root, f"sf-{seed}-{scale}")
    if not _done(out):
        os.makedirs(out, exist_ok=True)
        for name, tbl in sf_tables(seed, scale).items():
            pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
        _mark(out, {"seed": seed, "scale": scale})
    return out
