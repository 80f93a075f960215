"""The two benchmark workloads and their correctness checks.

A workload is set up once per process and then driven in *rounds*; a
round is one closed-loop pass (one client) over the workload's
operation list. Each operation is timed on its own and checked against
a golden that was computed without the code path under test. An
operation that raises or fails its check counts as failed.

- ``KgWorkload`` — construction on the fixture corpus: build (the
  resumable pipeline, what ``python -m kgap_spark.job run`` does) and
  Sync (micro-batches merged into a ``SnapshotStore``, each followed by
  a read-your-writes query). Its eight SPARQL shapes (what
  ``job sparql`` does) run in the traced run.
- ``LeavesWorkload`` — the sixteen headline leaves of ``bench.py``
  over the seeded sf tables.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from string import Template
from urllib.parse import unquote

import inputs

QUAD_COLS = ["subj", "pred", "obj", "obj_lang", "graph"]


@dataclass
class Op:
    kind: str          # operation family, e.g. "build", "merge", "sparql"
    name: str          # shape / leaf name within the family
    wall_s: float
    ok: bool
    items: int = 0     # units of work done (triples, pages, rows)


@dataclass
class Ledger:
    """Every operation a run attempted, in order."""

    ops: list[Op] = field(default_factory=list)

    def run(self, kind: str, name: str, fn, check=None) -> Op:
        """Time ``fn()``; then (untimed) ``check(result) -> (ok, items)``."""
        t0 = time.perf_counter()
        try:
            result = fn()
            wall = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — an op failure is a data point
            wall = time.perf_counter() - t0
            print(f"# {kind}/{name} raised:", file=sys.stderr)
            traceback.print_exc()
            op = Op(kind, name, wall, False)
            self.ops.append(op)
            return op
        ok, items = True, 0
        if check is not None:
            try:
                ok, items = check(result)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok = False
        if not ok:
            print(f"# {kind}/{name} FAILED its check", file=sys.stderr)
        op = Op(kind, name, wall, ok, items)
        self.ops.append(op)
        return op

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """A correctness check outside any timed operation."""
        if not ok:
            print(f"# check {name} FAILED {detail}", file=sys.stderr)
        self.ops.append(Op("check", name, 0.0, ok))


def quads_of(df) -> list[tuple]:
    return [tuple(r) for r in df.select(*QUAD_COLS).collect()]


def precision_recall(got: list[tuple], gold: set) -> tuple[float, float]:
    hit = len(set(got) & gold)
    return hit / max(1, len(set(got))), hit / max(1, len(gold))


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "item"):  # numpy scalars from DuckDB
        return _norm(v.item())
    return v


def norm_rows(rows) -> list[tuple]:
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


class Workspace:
    """Per-process scratch directories for stores written by the run."""

    def __init__(self, root: str):
        self.root = os.path.join(root, "run", str(os.getpid()))
        os.makedirs(self.root, exist_ok=True)
        self._n = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.root, f"{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


# ---------------------------------------------------------------------------
# kg: build and Sync (the SPARQL shapes in the traced run)


class KgWorkload:
    """One round: a full resumable pipeline run into a fresh
    ``TripleStore`` + ``LineageLog`` (what ``job run`` does), then the
    Sync micro-batches merged into a copy of the base ``SnapshotStore``,
    each followed by a read-your-writes SPARQL query on the new version.
    The eight SPARQL shapes (what ``job sparql`` does) run in the traced
    run."""

    check_s = 0.0  # benchmark time spent checking during set-up

    def __init__(self, spark, cache: str, ws: Workspace, seed: int,
                 size: dict, ledger: Ledger, repo: str):
        from kgap_spark.fixtures import GRAPH_DICT

        self.spark, self.ws, self.ledger = spark, ws, ledger
        self.dic = inputs.Dictionary(cache, size["entities"], size["sites"])
        cfg = self.dic.cfg
        n_build, n_base = size["build_pages"], size["base_pages"]
        n_sync = n_base + size["batches"] * size["batch_pages"]
        window = inputs.page_window(seed, n_build + n_sync)
        self.build_idx = window[:n_build]
        sync_window = window[n_build:]
        self.base_idx = sync_window[:n_base]
        self.batches = inputs.increment_batches(
            seed, sync_window, n_base, size["batches"], size["batch_pages"])
        tag = f"{seed}-{size['entities']}-{size['sites']}"
        self.build_path = os.path.join(cache, f"build-{tag}-{n_build}.parquet")
        inputs.write_pages(self.build_path, inputs.page_rows(self.build_idx, cfg))
        self.base_path = os.path.join(cache, f"base-{tag}-{n_build}-{n_base}.parquet")
        inputs.write_pages(self.base_path, inputs.page_rows(self.base_idx, cfg))
        self.batch_paths = []
        for b, batch in enumerate(self.batches):
            p = os.path.join(
                cache, f"batch-{tag}-{n_build}-{n_base}-{len(batch)}-{b}.parquet")
            inputs.write_pages(p, inputs.reemitted_rows(batch, b, cfg))
            self.batch_paths.append(p)
        self.gold_build = self.dic.page_quads(self.build_idx) | self.dic.dict_quads
        seen = list(self.base_idx)
        self.gold_sync_pages = []  # distinct pages after each batch
        for batch in self.batches:
            seen.extend(batch)
            self.gold_sync_pages.append(len(set(seen)))
        self.gold_sync = self.dic.page_quads(set(seen)) | self.dic.dict_quads
        self.text_sha = inputs.text_sha256(self.build_idx, cfg)
        rng = random.Random(f"{seed}:shapes")
        sites = sorted({q[4] for q in self.gold_build if q[4] != GRAPH_DICT})
        self.shapes = sparql_shapes(repo, rng, rng.choice(sites).rsplit(":", 1)[1],
                                    size["entities"])
        self.shape_order = sorted(self.shapes)
        rng.shuffle(self.shape_order)

    def setup(self) -> None:
        """Program work the rounds need first, which is also their cold
        pass: the canonical mapping (computed once per dictionary, as
        Sync callers do) and the base snapshot store the micro-batches
        merge into (its ``build_triples`` warms the construction layers;
        the runner, lineage and writer meet the timed build cold, as in
        every ``job run``)."""
        from kgap_spark.canonicalize import canonical_mapping
        from kgap_spark.triples import SnapshotStore
        from kgap_spark.triples.materialize import build_triples

        read = self.spark.read.parquet
        self.alias = read(self.dic.path)
        self.canon = canonical_mapping(self.alias).localCheckpoint(eager=True)
        self.base_store = self.ws.fresh("snap-base")
        SnapshotStore(self.spark, self.base_store).merge(
            build_triples(read(self.base_path), self.alias, canon=self.canon))

    def corrupt_golden(self) -> None:
        self.gold_sync = set(sorted(self.gold_sync, key=repr)[1:])

    def check_extraction(self) -> None:
        from kgap_spark.extract import with_extracted_text

        rows = with_extracted_text(
            self.spark.read.parquet(self.build_path)).select("url", "text").collect()
        got = {r.url: hashlib.sha256((r.text or "").encode()).hexdigest()
               for r in rows}
        bad = [u for u, h in self.text_sha.items() if got.get(u) != h]
        self.ledger.check("extract.sha256", not bad,
                          f"{len(bad)} urls differ, e.g. {bad[:3]}")

    def round(self) -> None:
        self.check_extraction()
        path = self.ws.fresh("build")
        self.build_op(os.path.join(path, "triples"), os.path.join(path, "lineage"))
        shutil.rmtree(path, ignore_errors=True)
        self.sync_ops()

    def build_op(self, store_path: str, lineage_path: str) -> None:
        from kgap_spark.lineage import LineageLog, run_pipeline_resumable
        from kgap_spark.triples import TripleStore

        store = TripleStore(self.spark, store_path)
        lineage = LineageLog(self.spark, lineage_path)
        pages = self.spark.read.parquet(self.build_path)

        def check(result):
            con = store_db(store_path)
            got = con.execute(f"SELECT {', '.join(QUAD_COLS)} FROM q").fetchall()
            p, r = precision_recall(got, self.gold_build)
            ok = p >= 0.95 and r >= 0.95
            if not ok:
                print(f"# build P={p:.4f} R={r:.4f}", file=sys.stderr)
            per_graph = dict(con.execute(
                f"SELECT graph, COUNT(*) FROM read_parquet('{lineage_path}/*.parquet') "
                "WHERE status = 'ok' GROUP BY graph").fetchall())
            con.close()
            graphs = {q[4] for q in got}
            lin_ok = set(per_graph) == graphs and set(per_graph.values()) == {1}
            if not lin_ok:
                print(f"# lineage rows {per_graph} vs graphs {sorted(graphs)}",
                      file=sys.stderr)
            return ok and lin_ok and result["triples_out"] == len(got), len(got)

        self.ledger.run(
            "build", "pipeline",
            lambda: run_pipeline_resumable(self.spark, pages, self.alias,
                                           store, lineage),
            check)

    def sync_ops(self) -> None:
        from kgap_spark.query.sparql import execute_sparql
        from kgap_spark.triples import SnapshotStore
        from kgap_spark.triples.materialize import build_triples

        path = self.ws.fresh("snap")
        shutil.copytree(self.base_store, path)
        store = SnapshotStore(self.spark, path)
        for b, batch_path in enumerate(self.batch_paths):
            batch = self.spark.read.parquet(batch_path)
            n_pages = len(self.batches[b])
            self.ledger.run(
                "merge", f"batch{b}",
                lambda: store.merge(
                    build_triples(batch, self.alias, canon=self.canon)),
                lambda _r, n=n_pages: (True, n))
            want = self.gold_sync_pages[b]
            self.ledger.run(
                "read", f"batch{b}",
                lambda: execute_sparql(store.read(), RYW_QUERY).collect(),
                lambda rows, want=want: (rows[0][0] == want, 1))
        self.check_sync(store)
        shutil.rmtree(path, ignore_errors=True)

    def check_sync(self, store) -> None:
        """The snapshot's quad set equals the golden for the union of
        ingested pages, with no duplicates."""
        got = quads_of(store.read())
        self.ledger.check(
            "sync.quads", len(got) == len(set(got)) and set(got) == self.gold_sync,
            f"{len(got)} rows, {len(set(got))} distinct, "
            f"{len(self.gold_sync)} golden")


RYW_QUERY = "SELECT (COUNT(?p) AS ?n) WHERE { ?p rdf:type kgap:WebPage }"


# ---------------------------------------------------------------------------
# read path: SPARQL shapes + headline leaves


def sparql_shapes(repo: str, rng: random.Random, site: str,
                  n_entities: int) -> dict[str, str]:
    """The eight named SPARQL shapes with seeded parameters. The store
    uses compact IRIs (``rdf:type``), so the shapes declare no PREFIX
    for them; ``luc:`` is GraphDB's full-text namespace."""
    from kgap_spark import fixtures as fx

    # a name word some dictionary entity carries (fixtures.entity_name)
    words = sorted({fx.NAME_B[(n // len(fx.NAME_A)) % len(fx.NAME_B)]
                    for n in range(n_entities)})

    with open(os.path.join(repo, "queries", "label_search.sparql")) as f:
        label_search = Template(f.read()).substitute(
            search_term=rng.choice(fx.NAME_A), limit=1_000_000)
    return {
        "type_counts": (
            "SELECT ?type (COUNT(?s) AS ?count) WHERE { ?s rdf:type ?type } "
            "GROUP BY ?type"),
        "label_search": label_search,
        "top_mentioned": (
            "SELECT ?e (COUNT(?p) AS ?n) WHERE { ?p kgap:mentions ?e } "
            "GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 10"),
        "co_mention": (
            "SELECT ?a ?b (COUNT(?p) AS ?n) WHERE { ?p kgap:mentions ?a . "
            "?p kgap:mentions ?b . FILTER(STR(?a) < STR(?b)) } "
            "GROUP BY ?a ?b ORDER BY DESC(?n) ?a ?b LIMIT 20"),
        "site_pages_optional": (
            f"SELECT ?p ?e WHERE {{ GRAPH <urn:kgap:ldes:{site}> {{ "
            "?p rdf:type kgap:WebPage . OPTIONAL { ?p kgap:mentions ?e } } }"),
        "pages_without_mentions": (
            "SELECT ?p WHERE { ?p rdf:type kgap:WebPage . "
            "FILTER NOT EXISTS { ?p kgap:mentions ?e } }"),
        "sameas_closure": "SELECT ?e ?c WHERE { ?e kgap:sameAs+ ?c }",
        "lucene_label": (
            "PREFIX luc: <http://www.ontotext.com/owlim/lucene#> "
            "SELECT ?e ?score WHERE { ?e luc:searchIndex "
            f"\"{rng.choice(words)}\" ; luc:score ?score }}"),
    }


def store_db(store_path: str):
    """A DuckDB connection with table ``q``: the quads of the
    ``TripleStore`` at ``store_path``, read from its parquet files."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE q AS SELECT subj, pred, obj, obj_lang, obj_datatype, "
        f"graph FROM read_parquet('{store_path}/graph=*/*.parquet', "
        "hive_partitioning = true, hive_types = {'graph': VARCHAR})")
    # partition values are %XX-escaped directory names
    con.create_function("unescape", lambda v: unquote(v), ["VARCHAR"], "VARCHAR")
    con.execute("UPDATE q SET graph = unescape(graph)")
    return con


def duckdb_answers(store_path: str, shapes: dict[str, str]) -> dict[str, list]:
    """Each shape's answer, written independently in SQL over the
    store's parquet files (no ``execute_sparql``)."""
    import re

    con = store_db(store_path)
    term = re.search(r'CONTAINS\(\?label, "([^"]*)"\)', shapes["label_search"])[1]
    site = re.search(r"GRAPH <([^>]*)>", shapes["site_pages_optional"])[1]
    luc = re.search(r'searchIndex "([^"]*)"', shapes["lucene_label"])[1]
    sql = {
        "type_counts": "SELECT obj, COUNT(*) FROM q WHERE pred = 'rdf:type' GROUP BY obj",
        "label_search": f"SELECT subj, obj FROM q WHERE pred = 'rdfs:label' "
                        f"AND contains(obj, '{term}')",
        "top_mentioned": "SELECT obj, COUNT(*) AS n FROM q WHERE pred = 'kgap:mentions' "
                         "GROUP BY obj ORDER BY n DESC, obj LIMIT 10",
        "co_mention": """
            SELECT a.obj, b.obj, COUNT(*) AS n FROM q a JOIN q b ON a.subj = b.subj
            WHERE a.pred = 'kgap:mentions' AND b.pred = 'kgap:mentions' AND a.obj < b.obj
            GROUP BY a.obj, b.obj ORDER BY n DESC, a.obj, b.obj LIMIT 20""",
        "site_pages_optional": f"""
            SELECT t.subj, m.obj FROM
              (SELECT subj FROM q WHERE graph = '{site}' AND pred = 'rdf:type'
                 AND obj = 'kgap:WebPage') t
            LEFT JOIN (SELECT subj, obj FROM q WHERE graph = '{site}'
                         AND pred = 'kgap:mentions') m ON t.subj = m.subj""",
        "pages_without_mentions": """
            SELECT subj FROM q WHERE pred = 'rdf:type' AND obj = 'kgap:WebPage'
            AND subj NOT IN (SELECT subj FROM q WHERE pred = 'kgap:mentions')""",
        "sameas_closure": """
            WITH RECURSIVE e AS (SELECT subj AS s, obj AS o FROM q
                                 WHERE pred = 'kgap:sameAs'),
            c(s, o) AS (SELECT s, o FROM e
                        UNION SELECT c.s, e.o FROM c JOIN e ON c.o = e.s)
            SELECT DISTINCT s, o FROM c""",
        "lucene_label": f"""
            WITH lit AS (
              SELECT subj, obj FROM q WHERE obj_lang IS NOT NULL OR
                (obj_datatype IS NULL AND
                 NOT regexp_matches(obj, '^[A-Za-z][A-Za-z0-9+.\\-]*:'))
            ), tok AS (
              SELECT subj, unnest(regexp_split_to_array(lower(obj), '[^a-z0-9]+')) AS t
              FROM lit)
            SELECT subj, CAST(COUNT(*) AS DOUBLE) FROM tok
            WHERE t IN (SELECT unnest(regexp_split_to_array(lower('{luc}'), '[^a-z0-9]+')))
              AND t <> ''
            GROUP BY subj""",
    }
    out = {name: norm_rows(con.execute(sql[name]).fetchall()) for name in shapes}
    con.close()
    return out


COLD_THREADS = 4


class LeavesWorkload:
    """One round: the sixteen ``bench.HEADLINE`` leaves in seeded order,
    each forced with ``count()`` as ``bench.py`` does."""

    check_s = 0.0  # benchmark time spent checking during set-up

    def __init__(self, spark, cache: str, ws: Workspace, seed: int,
                 size: dict, ledger: Ledger, repo: str):
        from bench import HEADLINE
        from check_oracles import value_hash

        self.spark, self.ledger = spark, ledger
        self.sf_dir = inputs.sf_dir(cache, seed, size["sf_scale"])
        self.leaves = list(HEADLINE)
        random.Random(f"{seed}:leaves").shuffle(self.leaves)
        # the DuckDB oracles' answers (``workload.ORACLES`` /
        # ``EXTRA_ORACLES``), computed before Spark touches the tables
        con = self._oracle_db()
        self.oracle = {}
        for name in self.leaves:
            res = con.execute(leaf_oracles()[name])
            rows = res.fetchall()
            cols = [d[0] for d in res.description]
            self.oracle[name] = (cols, rows, value_hash(cols, rows))
        con.close()
        self.want = {name: len(o[1]) for name, o in self.oracle.items()}

    def setup(self) -> None:
        """The cold pass: every leaf once, from ``COLD_THREADS`` client
        threads at a time (the first execution of a plan is mostly
        driver-side work: planning, code generation, Python worker
        start), its rows value-hash checked against its oracle (as
        ``tools/check_oracles.py`` does); the first call of the two
        indexed leaves also builds their index. The hashing and
        comparing count in ``check_s``, not in set-up."""
        from concurrent.futures import ThreadPoolExecutor

        from check_oracles import value_hash

        def cold(name):
            t0 = time.perf_counter()
            df = leaf_queries()[name](self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            return df.columns, rows, time.perf_counter() - t0

        with ThreadPoolExecutor(COLD_THREADS) as pool:
            done = dict(zip(self.leaves, pool.map(cold, self.leaves)))
        for name in self.leaves:
            cols, rows, cold_s = done[name]
            t1 = time.perf_counter()
            dcols, drows, dhash = self.oracle[name]
            ok = len(rows) == len(drows) and value_hash(cols, rows) == dhash
            detail = "" if ok else (
                f"Spark {cols} {sorted(set(rows) - set(drows))[:10]} "
                f"vs oracle {dcols} {sorted(set(drows) - set(rows))[:10]}")
            self.check_s += time.perf_counter() - t1
            print(f"# cold leaf/{name}: {cold_s:.3f}s", file=sys.stderr)
            self.ledger.check(f"leaf.{name}.oracle", ok, detail)

    def _oracle_db(self):
        import duckdb
        from check_oracles import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        return con

    def corrupt_golden(self) -> None:
        self.want[self.leaves[0]] += 1

    def round(self) -> None:
        for name in self.leaves:
            self.leaf_op(name)

    def leaf_op(self, name: str) -> None:
        want = self.want[name]
        self.ledger.run(
            "leaf", name,
            lambda: leaf_queries()[name](self.spark, self.sf_dir).count(),
            lambda n: (n == want, n))


def leaf_queries() -> dict:
    from kgap_spark.workload import EXTRA_QUERIES, QUERIES

    return {**QUERIES, **EXTRA_QUERIES}


def leaf_oracles() -> dict:
    from kgap_spark.workload import EXTRA_ORACLES, ORACLES

    return {**ORACLES, **EXTRA_ORACLES}
