"""The traced run: per-layer time, CPU, shuffle, spill, rows and calls.

It is separate from the timed runs. One traced run tours every layer,
whatever ``--workload`` names, so each per-layer metric is measured on
every run:

1. **pipeline prefixes** — the build input is forced through the noop
   sink one layer deeper at a time (``with_extracted_text``,
   ``detect_mentions``, ``link_mentions``, ``build_triples`` with the
   canonical mapping precomputed), and ``canonical_mapping`` on its
   own; a layer's self time is the difference between consecutive
   prefixes, and so are its CPU, shuffle and spill figures;
2. **one kg round** — the pipeline run, the eight SPARQL shapes and
   the Sync micro-batches, with a span around each call into a layer.
   The runner hands ``TripleStore.overwrite_graphs`` a checkpointed
   quad table, so the span around that call is the writer's self time;
3. **one leaves round**, each leaf's first execution in the session
   the kg tour warmed (the two indexed leaves build their index first),
   then the substrate probe (md5 over ``spark.range``).

The tracing overhead is the read-your-writes operation of a kg round
timed traced minus timed untraced (the event-log listener detached, the
io.fs counters removed, no job group), median of ``OVERHEAD_PAIRS``
alternating pairs.

Each span sets a Spark job group, so the event log
(``spark.eventLog.enabled`` through ``get_spark(extra_conf=…)``) rolls
``SparkListenerTaskEnd`` metrics up per span. ``kgap_spark.io.fs``
functions are wrapped with call counters. Spans (name, start, end,
parent, request id) are kept in memory and written to
``.perfbench/trace/`` at the end.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from workloads import (RYW_QUERY, Ledger, Workspace, duckdb_answers, leaf_queries,
                       norm_rows)

SUBSTRATE_ROWS = 2_000_000
PIPELINE_LAYERS = ("extract", "mentions", "link", "canonicalize",
                   "triples.materialize", "triples.writer")
ROLLUP = ("cpu_s", "shuffle_write_mb", "spill_mb", "jobs")
FS_FUNCTIONS = ("exists", "list_names", "delete", "create_text_file",
                "list_status", "write_text_file", "read_text_file")
OVERHEAD_PAIRS = 2


class Tracer:
    """Spans with Spark job groups, and io.fs call counters."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.fs_calls: Counter = Counter()
        self.request = None

    @contextmanager
    def span(self, name: str, group: bool = True):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "request": self.request,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "group": f"span-{sid}" if group else None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        if group:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev)

    def count_fs(self) -> None:
        from kgap_spark.io import fs

        self._fs = fs
        self._fs_orig = {name: getattr(fs, name) for name in FS_FUNCTIONS}
        for name, orig in self._fs_orig.items():

            def wrapped(*a, _orig=orig, _name=name, **kw):
                self.fs_calls[_name] += 1
                return _orig(*a, **kw)

            setattr(fs, name, wrapped)

    @contextmanager
    def untraced(self):
        """Every tracing device off: the event-log listener detached (its
        queue drained first, so no traced event is lost), the io.fs
        counters taken out, and no span or job group."""
        jsc = self.sc._jsc.sc()
        logger = jsc.eventLogger().get()
        counters = {name: getattr(self._fs, name) for name in self._fs_orig}
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(logger)
        for name, orig in self._fs_orig.items():
            setattr(self._fs, name, orig)
        try:
            yield
        finally:
            jsc.listenerBus().waitUntilEmpty()
            jsc.addSparkListener(logger)
            for name, fn in counters.items():
                setattr(self._fs, name, fn)

    def fs_total(self) -> int:
        return sum(self.fs_calls.values())

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                       for s in self.spans], f)


def wall(rec: dict) -> float:
    return rec["end"] - rec["start"]


def phase(run, name: str) -> None:
    run.phase(f"trace {name}")


# ---------------------------------------------------------------------------
# event log


def rollup_event_log(path: str) -> dict[str, dict]:
    """Per job group: cpu_s, shuffle_write_mb, spill_mb, jobs, run_s and
    python_s (task time in Python UDF evaluation)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' not in line and \
                    '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                if group is None or not m:
                    continue
                g = out[group]
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / 2**20
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Name") == PY_TIME:
                        g["python_s"] += float(acc.get("Update") or 0) / 1e3
    return out


# SQL metric of the Python UDF nodes (ArrowEvalPython, MapInPandas, …):
# task time spent running the Python workers, in milliseconds
PY_TIME = "time to run Python workers"


# ---------------------------------------------------------------------------
# plan shape


def plan_shape(df) -> dict[str, int]:
    """Exchange, join and Python-node counts of the executed plan."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    tree = plan.split("\n\n", 1)[0]
    return {
        "exchanges": len(re.findall(r"\bExchange\b", tree)),
        "joins": len(re.findall(r"\w*Join\b", tree)),
        "python_nodes": len(re.findall(
            r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
            r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|PythonUDF", tree)),
    }


# ---------------------------------------------------------------------------
# the tour


def traced(args, run) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kgap_spark.canonicalize import canonical_mapping
    from kgap_spark.extract import with_extracted_text
    from kgap_spark.lineage import LineageLog, run_pipeline_resumable
    from kgap_spark.link.score import link_mentions
    from kgap_spark.mentions import detect_mentions
    from kgap_spark.query.sparql import execute_sparql, parse_sparql
    from kgap_spark.triples import SnapshotStore, TripleStore
    from kgap_spark.triples.materialize import build_triples

    ws = Workspace(run.WORK)
    size = run.SIZES[args.size]
    ledger = Ledger()
    metrics: dict[str, tuple[float, str]] = {}
    spark = run.start_spark(event_log=True)
    metrics["session.start_s"] = (time.perf_counter() - run.T_START, "s")
    app_id = spark.sparkContext.applicationId
    run.redirect_leaf_indexes(ws)
    tr = Tracer(spark)
    tr.count_fs()
    try:
        kg = run.make_workload("kg", spark, ws, args.seed, size, ledger)
        phase(run, "kg inputs")
        kg.setup()
        phase(run, "kg set-up")
        pages = spark.read.parquet(kg.build_path)
        alias = kg.alias

        # 1. pipeline prefixes through the noop sink
        def force(name: str, make) -> tuple[dict, int, object]:
            """Build the prefix (eager parts included) and run it through
            the noop sink inside one span; rows come from an observation
            on the same action."""
            obs = Observation(name)
            with tr.span(f"prefix.{name}") as rec:
                df = make().observe(obs, F.count(F.lit(1)).alias("n"))
                df.write.format("noop").mode("overwrite").save()
            return rec, obs.get["n"], df

        def extracted():
            return with_extracted_text(pages)

        prefix = {}
        prefix["scan"] = force("scan", lambda: pages)
        prefix["extract"] = force("extract", extracted)
        prefix["mentions"] = force(
            "mentions", lambda: detect_mentions(extracted(), alias))
        prefix["link"] = force(
            "link", lambda: link_mentions(detect_mentions(extracted(), alias)))
        prefix["canonicalize"] = force(
            "canonicalize", lambda: canonical_mapping(alias))
        # build_triples with the canonical mapping precomputed, so its
        # prefix holds link + materialize and canonicalize stands alone
        prefix["triples.materialize"] = force(
            "triples.materialize",
            lambda: build_triples(pages, alias, canon=kg.canon))
        shape = plan_shape(prefix["triples.materialize"][2])

        phase(run, "prefixes")

        # 2. one kg round, spans around each layer call
        tr.request = "kg"
        build_dir = ws.fresh("trace-build")
        store_path = os.path.join(build_dir, "triples")
        # the runner hands the writer a checkpointed quad table, so a
        # span around that call is the writer's own cost
        saved = [(LineageLog, wrap_methods(tr, LineageLog, "lineage",
                                           LINEAGE_METHODS)),
                 (TripleStore, wrap_methods(tr, TripleStore, "triples.writer",
                                            ("overwrite_graphs",)))]
        try:
            with tr.span("op.build") as build_rec:
                run_pipeline_resumable(
                    spark, pages, alias, TripleStore(spark, store_path),
                    LineageLog(spark, os.path.join(build_dir, "lineage")))
        finally:
            for cls, methods in saved:
                unwrap_methods(cls, methods)
        writer_rec = next(s for s in tr.spans
                          if s["name"] == "triples.writer.overwrite_graphs")
        prefix["triples.writer"] = (writer_rec, None, None)
        files_written = len(glob.glob(os.path.join(store_path, "graph=*", "*.parquet")))
        phase(run, "build")
        want = duckdb_answers(store_path, kg.shapes)
        q = defaultdict(list)
        for name in kg.shape_order:
            before = tr.fs_total()
            with tr.span(f"query.{name}") as qrec:
                with tr.span("triples.writer.read_open") as r_open:
                    t = TripleStore(spark, store_path).read()
                with tr.span("query.sparql.parse", group=False) as r_parse:
                    parse_sparql(kg.shapes[name])
                with tr.span("query.sparql.compile") as r_comp:
                    df = execute_sparql(t, kg.shapes[name])
                with tr.span("query.sparql.exec") as r_exec:
                    rows = df.collect()
            ledger.check(f"shape.{name}", bool(want[name])
                         and norm_rows(rows) == want[name])
            q["fs"].append(tr.fs_total() - before)
            q["open"].append(wall(r_open))
            q["parse"].append(wall(r_parse))
            q["compile"].append(wall(r_comp) - wall(r_parse))
            q["exec"].append(wall(r_exec))
            metrics[f"query.{name}_s"] = (wall(qrec), "s")
        read_files = len(TripleStore(spark, store_path).read().inputFiles())
        shutil.rmtree(build_dir, ignore_errors=True)

        phase(run, "SPARQL shapes")
        snap_dir = ws.fresh("trace-snap")
        shutil.copytree(kg.base_store, snap_dir)
        snap = SnapshotStore(spark, snap_dir)
        opens, merges, commit_fs, ratios, scans = [], [], [], [], []

        def open_read():
            with tr.span("triples.snapshots.read_open") as rec:
                df = snap.read()
            opens.append(wall(rec))
            scans.append(len(re.findall(r"\bFileScan parquet\b", plan_text(df))))
            return df

        for b, batch_path in enumerate(kg.batch_paths):
            n_before = open_read().count()
            # the batch's quads, computed once outside the merge span, so
            # merge_s is the snapshot layer alone
            update = build_triples(spark.read.parquet(batch_path), alias,
                                   canon=kg.canon).localCheckpoint(eager=True)
            n_update = update.dropDuplicates(
                ["subj", "pred", "obj", "obj_lang", "obj_datatype", "graph"]).count()
            before = tr.fs_total()
            with tr.span("triples.snapshots.merge") as rec:
                snap.merge(update)
            merges.append(wall(rec))
            commit_fs.append(tr.fs_total() - before)
            df = open_read()
            rows = execute_sparql(df, RYW_QUERY).collect()
            ledger.check(f"trace.ryw{b}", rows[0][0] == kg.gold_sync_pages[b])
            ratios.append((df.count() - n_before) / max(1, n_update))
        kg.check_sync(snap)

        phase(run, "Sync")

        # tracing overhead: the read-your-writes operation of a kg round
        # (snapshot open + SPARQL count) with every tracing device off,
        # then traced as the round is, alternately
        def ryw() -> float:
            t0 = time.perf_counter()
            with tr.span("triples.snapshots.read_open"):
                df = snap.read()
            with tr.span("query.sparql.exec"):
                execute_sparql(df, RYW_QUERY).collect()
            return time.perf_counter() - t0

        def ryw_plain() -> float:
            t0 = time.perf_counter()
            execute_sparql(snap.read(), RYW_QUERY).collect()
            return time.perf_counter() - t0

        off, on = [], []
        for _ in range(OVERHEAD_PAIRS):
            with tr.untraced():
                off.append(ryw_plain())
            with tr.span("overhead.ryw"):
                on.append(ryw())
        metrics["trace.overhead_s"] = (
            statistics.median(on) - statistics.median(off), "s")
        shutil.rmtree(snap_dir, ignore_errors=True)

        # 3. leaves: no cold pass here (the kg tour has warmed the JVM
        # and the Python workers; each leaf's plan runs for the first
        # time), except that the two indexed leaves build their index
        phase(run, "overhead")
        leaves = run.make_workload("leaves", spark, ws, args.seed, size, ledger)
        phase(run, "leaves inputs")
        for name in ("fts_search_indexed", "emb_lsh_topk"):
            leaf_queries()[name](spark, leaves.sf_dir).count()
        phase(run, "leaf indexes")
        tr.request = "leaves"
        for name in leaves.leaves:
            with tr.span(f"leaf.{name}") as lrec:
                leaves.leaf_op(name)
            metrics[f"leaf.{name}_s"] = (wall(lrec), "s")

        # host yardstick, on the warm session
        with tr.span("session.substrate") as rec:
            col = F.max(F.md5(F.col("id").cast("string")))
            spark.range(0, SUBSTRATE_ROWS, 1, run.MASTER_CORES).select(col).collect()
        metrics["session.substrate_s"] = (wall(rec), "s")
    finally:
        run.stop_spark(spark)
        ws.close()

    phase(run, "leaves")
    log = event_log_path(run.WORK, app_id)
    groups = rollup_event_log(log)
    os.remove(log)

    def g(rec) -> dict:
        return groups.get(rec["group"], {})

    # pipeline layers: differences of consecutive prefixes
    chain = {"extract": "scan", "mentions": "extract", "link": "mentions",
             "triples.materialize": "link"}
    self_s = {}
    for layer in PIPELINE_LAYERS:
        rec, rows, _df = prefix[layer]
        base = [prefix[chain[layer]][0]] if layer in chain else []
        self_s[layer] = wall(rec) - sum(wall(b) for b in base)
        metrics[f"{layer}.self_s"] = (self_s[layer], "s")
        for key in ROLLUP:
            val = g(rec).get(key, 0.0) - sum(g(b).get(key, 0.0) for b in base)
            metrics[f"{layer}.{key}"] = (val, "count" if key == "jobs" else
                                         "s" if key == "cpu_s" else "MB")
        if layer != "triples.writer":
            metrics[f"{layer}.rows_out"] = (rows, "count")
    metrics["extract.python_s"] = (
        g(prefix["extract"][0]).get("python_s", 0.0)
        - g(prefix["scan"][0]).get("python_s", 0.0), "s")
    metrics["link.python_s"] = (
        g(prefix["link"][0]).get("python_s", 0.0)
        - g(prefix["mentions"][0]).get("python_s", 0.0), "s")
    metrics["mentions.candidates_per_mention"] = (
        prefix["mentions"][1] / max(1, prefix["link"][1]), "ratio")
    for k, v in shape.items():
        metrics[f"triples.materialize.{k}"] = (v, "count")
    metrics["triples.writer.files_written"] = (files_written, "count")

    # lineage: the runner's own LineageLog calls inside the build op
    lin_recs = [s for s in tr.spans if s["name"].startswith("lineage.")]
    lineage_s = sum(wall(s) for s in lin_recs)
    metrics["lineage.self_s"] = (lineage_s, "s")
    for key in ROLLUP:
        metrics[f"lineage.{key}"] = (sum(g(s).get(key, 0.0) for s in lin_recs),
                                     "count" if key == "jobs" else
                                     "s" if key == "cpu_s" else "MB")
    metrics["lineage.rows_out"] = (sum(s.get("rows", 0) for s in lin_recs), "count")
    build_wall = wall(build_rec)
    metrics["build.unattributed_s"] = (
        build_wall - wall(prefix["scan"][0]) - sum(self_s.values()) - lineage_s, "s")

    metrics["triples.writer.read_open_s"] = (statistics.median(q["open"]), "s")
    metrics["triples.writer.read_files"] = (read_files, "count")
    metrics["io.fs.calls_per_query"] = (statistics.fmean(q["fs"]), "count")
    metrics["query.sparql.parse_s"] = (statistics.median(q["parse"]), "s")
    metrics["query.sparql.compile_s"] = (statistics.median(q["compile"]), "s")
    metrics["query.sparql.exec_s"] = (statistics.median(q["exec"]), "s")

    metrics["triples.snapshots.merge_s"] = (statistics.median(merges), "s")
    metrics["triples.snapshots.read_open_s"] = (statistics.median(opens), "s")
    metrics["triples.snapshots.scans_per_read"] = (scans[-1], "count")
    metrics["triples.snapshots.read_open_growth"] = (opens[-1] / opens[0], "ratio")
    metrics["triples.snapshots.new_quad_ratio"] = (statistics.fmean(ratios), "ratio")
    metrics["io.fs.calls_per_commit"] = (statistics.fmean(commit_fs), "count")

    os.makedirs(os.path.join(run.WORK, "trace"), exist_ok=True)
    tr.dump(os.path.join(run.WORK, "trace", f"spans-{args.workload}-{args.seed}.json"))
    failed = sum(not o.ok for o in ledger.ops)
    for name, (v, _u) in sorted(metrics.items()):
        if not math.isfinite(v):
            raise ValueError(f"per-layer metric {name} = {v}")
    return run.result(failed, len(ledger.ops), metrics)


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")


LINEAGE_METHODS = ("read", "completed_graphs", "append")


def wrap_methods(tr: Tracer, cls, layer: str, names) -> dict:
    """Span every call of ``cls.<name>`` as ``<layer>.<name>``."""
    saved = {}
    for name in names:
        orig = getattr(cls, name)
        saved[name] = orig

        def wrapped(self, *a, _orig=orig, _name=name, **kw):
            with tr.span(f"{layer}.{_name}") as rec:
                out = _orig(self, *a, **kw)
                if _name == "append" and a:
                    rec["rows"] = len(a[0])
            return out

        setattr(cls, name, wrapped)
    return saved


def unwrap_methods(cls, saved: dict) -> None:
    for name, orig in saved.items():
        setattr(cls, name, orig)


def event_log_path(work: str, app_id: str) -> str:
    """The (uncompressed, unrolled) event log file of ``app_id``."""
    path = os.path.join(work, "tmp", "events", app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log at {path}")
    return path
