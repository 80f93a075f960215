"""kgap-spark benchmark: seeded KG-construction and leaf workloads on local[4].

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg --seed 1 --seconds 1 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` a separate traced run reports
the per-layer metrics (see ``perfbench/README.md``).

Everything the run writes stays under ``.perfbench/`` in the checkout:
generated inputs (cached per seed and size), stores, Spark scratch
space, the event log and the span file.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.getcwd()
WORK = os.path.join(REPO, ".perfbench")
MASTER_CORES = 4

WORKLOADS = ("kg", "leaves")
SIZES = {
    # kg: dictionary entities and sites, pipeline pages, Sync base and
    # micro-batches; leaves: the sf tables' scale (1.0 = the shipped
    # sf0.1 row counts)
    "full": dict(entities=1000, sites=50, build_pages=2000, base_pages=200,
                 batches=1, batch_pages=200, sf_scale=1.0),
    "tiny": dict(entities=100, sites=10, build_pages=600, base_pages=60,
                 batches=1, batch_pages=30, sf_scale=0.01),
}


def proc_status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)
    except OSError:
        return {}


def driver_and_jvms() -> list[int]:
    """This process and its Spark JVM."""
    me = os.getpid()
    return [me] + [int(p) for p in os.listdir("/proc") if p.isdigit()
                   and proc_status(int(p)).get("PPid", "").strip() == str(me)
                   and proc_status(int(p)).get("Name", "").strip() == "java"]


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` (the Spark JVM, its Python
    worker daemon and the workers the daemon forks)."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            ppid = proc_status(int(p)).get("PPid", "").strip()
            if ppid.isdigit():
                parent[int(p)] = int(ppid)
    out, frontier = set(), {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def alive(pid: int) -> bool:
    """True until ``pid`` has ended: a child of ours until it is reaped
    here, any other process until it is a zombie with no thread left
    (``Zl`` is a JVM whose main thread exited while others still run)."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] != pid
    except ChildProcessError:
        pass
    st = proc_status(pid)
    return bool(st) and not (st.get("State", "").startswith("Z")
                             and st.get("Threads", "1").strip() in ("0", "1"))


def end_processes(pids: set[int], grace_s: float = 20.0) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit by themselves, then
    SIGTERM, then SIGKILL, and return once every one has ended (or,
    saying so, if one outlives SIGKILL by a minute)."""
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + (10.0 if sig == signal.SIGTERM else 60.0)
        while time.monotonic() < deadline:
            pids = {p for p in pids if alive(p)}
            if not pids:
                return
            time.sleep(0.05)
    if pids:
        print(f"# processes still running: {sorted(pids)}", file=sys.stderr)


def stop_spark(spark) -> None:
    """Stop the session and its JVM (which exits once the gateway's
    stdin closes), and wait until it and every process it started have
    ended: a JVM or Python worker left behind would serve the next run
    warm."""
    tree = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM is ended below either way
            pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        end_processes(tree | descendants(os.getpid()))


def peak_rss_mb() -> float:
    """Peak RSS of the Python driver plus the Spark JVM, from the
    kernel's per-process high-water marks (``VmHWM``); read before the
    session stops. The pandas-UDF Python workers are left out: how many
    are alive at a moment depends on worker start and idle timing, and
    with them the sampled tree peak spread by 18 % across seeds."""
    mb = [int(proc_status(p).get("VmHWM", "0 kB").split()[0]) / 1024.0
          for p in driver_and_jvms()]
    print(f"# peak RSS: driver {mb[0]:.0f} MB, JVM {sum(mb[1:]):.0f} MB",
          file=sys.stderr)
    return sum(mb)


def prepare_env() -> None:
    """Confine the run to the checkout and make Spark's Python workers
    import the checkout's ``kgap_spark`` rather than any other copy."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "events"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["KGAP_SPARK_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("KGAP_DRIVER_MEM", "2g")
    for p in (REPO, os.path.join(REPO, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def spark_conf(event_log: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(tmp, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def redirect_leaf_indexes(ws) -> None:
    """Two headline leaves cache a build-once index under ``/tmp/…/<key>``
    (``kgap_spark.workload._cache_key``); an absolute key makes
    ``os.path.join`` place the index in this run's workspace instead,
    with the leaf bodies unchanged. Every run builds its own index."""
    import kgap_spark.workload as wl

    wl._cache_key = lambda sf_dir, table: os.path.join(
        ws.root, "index", os.path.basename(sf_dir), table)


def phase(name: str) -> None:
    """Log how far into the process the run has come."""
    print(f"# {name} done at {time.perf_counter() - T_START:.1f}s", file=sys.stderr)


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def start_spark(event_log: bool = False):
    from kgap_spark.session import get_spark

    return get_spark(
        "kgap-perfbench", master=f"local[{MASTER_CORES}]",
        shuffle_partitions=MASTER_CORES, extra_conf=spark_conf(event_log))


def make_workload(name: str, spark, ws, seed: int, size: dict, ledger):
    from workloads import KgWorkload, LeavesWorkload

    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    cls = {"kg": KgWorkload, "leaves": LeavesWorkload}[name]
    return cls(spark, cache, ws, seed, size, ledger, REPO)


def measure(args) -> dict:
    """The timed run: set-up (session, the workload's own set-up, which
    is also its cold pass), then whole rounds until ``--seconds`` have
    passed. Returns the result object."""
    from workloads import Ledger, Workspace

    ws = Workspace(WORK)
    ledger = Ledger()
    spark = start_spark()
    redirect_leaf_indexes(ws)
    try:
        t = time.perf_counter()
        wl = make_workload(args.workload, spark, ws, args.seed,
                           SIZES[args.size], ledger)
        gen_s = time.perf_counter() - t
        phase("session and inputs")
        wl.setup()
        phase("set-up")
        if args.corrupt_golden:
            wl.corrupt_golden()
        # the benchmark's own work (input generation, goldens, checking
        # the cold pass) is not set-up time of the program
        setup_s = time.perf_counter() - T_START - gen_s - wl.check_s
        rounds = []
        t_run = time.perf_counter()
        while not rounds or time.perf_counter() - t_run < args.seconds:
            first = len(ledger.ops)
            wl.round()
            phase(f"round {len(rounds) + 1}")
            rounds.append([o for o in ledger.ops[first:] if o.kind != "check"])
        peak_mb = peak_rss_mb()
    finally:
        stop_spark(spark)
        ws.close()
    ops = [o for r in rounds for o in r]
    for o in ops:
        print(f"# {o.kind}/{o.name}: {o.wall_s:.3f}s ok={o.ok} items={o.items}",
              file=sys.stderr)
    print(f"# setup {setup_s:.2f}s (input generation {gen_s:.2f}s and "
          f"cold-pass checks {wl.check_s:.2f}s excluded); "
          f"{len(rounds)} rounds, {len(ops)} ops; commit {git_commit()} "
          f"nproc {os.cpu_count()} local[{MASTER_CORES}] size {args.size}",
          file=sys.stderr)
    failed = sum(not o.ok for o in ledger.ops)
    return result(failed, len(ledger.ops), e2e_metrics(
        args.workload, rounds, setup_s, peak_mb))


def e2e_metrics(workload: str, rounds: list, setup_s: float,
                peak_mb: float) -> dict:
    """The end-to-end metrics: set-up time, the median round time,
    throughput and peak memory."""
    walls = [o.wall_s for r in rounds for o in r]
    if workload == "kg":
        # build_triples_per_s: triples written per second of pipeline wall
        builds = [o for r in rounds for o in r if o.kind == "build"]
        work = statistics.median(o.items / o.wall_s for o in builds)
    else:
        # leaves per second at the geometric-mean leaf time: weighs every
        # leaf alike, where round_s is dominated by the slowest ones
        work = 1.0 / math.exp(statistics.fmean(math.log(w) for w in walls))
    return {
        "setup_s": (setup_s, "s"),
        "round_s": (statistics.median(sum(o.wall_s for o in r) for r in rounds), "s"),
        "work_per_s": (work, "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def result(failed: int, attempted: int, metrics: dict) -> dict:
    out = {}
    for name, (value, unit) in metrics.items():
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--corrupt-golden", action="store_true",
                    help="self-test: alter one golden row before measuring")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "kgap_spark", "__init__.py")):
        print("perfbench: run from the root of a kgap-spark checkout "
              "(no kgap_spark package here)", file=sys.stderr)
        return 2
    prepare_env()
    # a SIGTERM unwinds through the ``finally`` blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.trace:
            from trace_run import traced

            res = traced(args, sys.modules[__name__])
        else:
            res = measure(args)
    finally:
        # whatever path led here, nothing this run started outlives it
        end_processes(descendants(os.getpid()), grace_s=0.0)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
