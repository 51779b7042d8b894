"""End-to-end benchmark of dgraph_etl_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs
from the seed (cached under ``.perfbench_cache/``), builds a Spark
session sized to the host's usable cores, runs the workload as a
closed loop with one caller for about S seconds of operations,
checks every output against DuckDB (oracle.py, in its own process),
and prints one JSON record line with provenance and every metric,
then, as the last line, the summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the summary carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run (see
spans.py), and the record adds the tracing overhead. Workloads and
metrics are described in NOTES.md. Everything the run writes stays
under the checkout. Exit code 2 means the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 5  # set-ups per run; setup_s is their median
JVM_HEAP = "1g"  # small and fixed: see NOTES.md

sys.path.insert(0, HERE)


def _isolate_scratch() -> dict[str, str]:
    """Point every temp/scratch location of Python, the JVM and Spark
    into the checkout; return the session confs that do the same."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM, which the driver conf below never reaches
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers (the live sink's foreachPartition) import the program
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.driver.memory": JVM_HEAP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


# ------------------------------------------------------------ provenance


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) ticks of /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)
    except (OSError, ValueError):
        return 0, 0


def _git_head() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _source_sha() -> str:
    """Digest of the program's sources: identifies the code when the
    checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dgraph_etl_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _proc_status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python process plus every live process
    under it: the JVM and Spark's Python workers."""
    me = os.getpid()
    return sum(_proc_status_kb(p, "VmHWM") for p in [me, *_descendants(me)]) / 1024.0


# ------------------------------------------------------------ processes


def _become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so that a Spark Python worker whose JVM
    has ended can still be waited for here."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(grace_s: float = 60.0) -> None:
    """End the JVM pyspark launched and every process under this one,
    and wait until each has ended. Left alone, the JVM exits only once
    this process's exit closes its stdin, so it would outlive the run."""
    import signal

    gw = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.close()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()  # EOF: the JVM shuts Spark down and exits
            proc.wait(grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        left = _descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:  # reap children and adopted orphans
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not left:
            return
        time.sleep(0.1)


# --------------------------------------------------------------- timing


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples above it, with
    the sample count; value None when there are 10 or fewer samples."""
    n = len(samples)
    k = n - 11
    if k < 0:
        return {"value": None, "percentile": None, "samples": n}
    return {"value": sorted(samples)[k], "percentile": 100.0 * (k + 1) / n, "samples": n}


def set_up(wl, src, cpus, conf):
    from dgraph_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    wl.register(spark, src)
    spark.range(1).count()
    return spark


class Loop:
    """Closed loop with one caller: a cold load operation, ``warmup``
    operations (checked, not timed), then whole rounds of operations
    until they have taken ``seconds`` (each counted with its untimed
    output read), then the workload's closing operation, if it has
    one."""

    def __init__(self, wl, ctx, make_call, warmup=0):
        self.wl, self.ctx, self.make_call, self.warmup = wl, ctx, make_call, warmup
        self.obs: list[dict | None] = []
        self.latencies: list[float] = []
        self.load_s: float | None = None
        self.closing_s: float | None = None

    def _one(self, call) -> float | None:
        """Latency of one operation; None when it raised."""
        t = time.perf_counter()
        try:
            raw = call()
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.obs.append(None)
            return None
        dt = time.perf_counter() - t
        self.obs.append(self.wl.observe(self.ctx, raw))
        return dt

    def run(self, seconds: float) -> None:
        self.load_s = self._one(self.make_call(self.ctx, "load", None))
        i = 0
        while i < self.warmup:
            call = self.make_call(self.ctx, "op", i)
            if call is None:
                break
            self._one(call)
            i += 1
        spent, first = 0.0, i
        # whole rounds of the workload's request mix, so that every run
        # measures the same composition
        while spent < seconds or (i - first) % self.wl.round_len:
            call = self.make_call(self.ctx, "op", i)
            if call is None:
                break
            t = time.perf_counter()
            dt = self._one(call)
            spent += time.perf_counter() - t
            if dt is not None:
                self.latencies.append(dt)
            i += 1
        call = self.make_call(self.ctx, "closing", None)
        if call is not None:
            self.closing_s = self._one(call)


def untraced_calls(wl):
    def make(ctx, phase, i):
        if phase == "closing":
            return wl.closing_call(ctx) if hasattr(wl, "closing_call") else None
        return wl.load_call(ctx, i) if phase == "load" else wl.next_call(ctx, i)

    return make


def traced_calls(wl, tracer):
    def make(ctx, phase, i):
        tracer.start_op(f"op{i}" if phase == "op" else phase)
        if phase == "closing":
            return wl.traced_closing(ctx, tracer) if hasattr(wl, "traced_closing") else None
        return wl.traced_call(ctx, i, tracer)

    return make


def check(wl_name: str, src: str, obs: list, work: str) -> list[dict]:
    """Verdicts for every observation, from oracle.py in a child
    process; a failed operation (obs None) is a failed verdict."""
    req = os.path.join(work, "oracle_request.json")
    res = os.path.join(work, "oracle_result.json")
    real = [o for o in obs if o is not None]
    with open(req, "w") as f:
        json.dump({"workload": wl_name, "inputs": src, "obs": real}, f)
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), req, res],
        capture_output=True, text=True, timeout=150,
    )
    if r.returncode != 0:
        sys.stderr.write(r.stderr)
        verdicts = [{"ok": False, "why": "oracle failed"} for _ in real]
    else:
        with open(res) as f:
            verdicts = json.load(f)
    it = iter(verdicts)
    return [next(it) if o is not None else {"ok": False, "why": "operation raised"} for o in obs]


# ------------------------------------------------------------ per layer

# (metric, unit) in BENCHMARK.json order; values come from layer_metrics
PER_LAYER = [
    ("session.start_s", "s"), ("catalog.register_s", "s"), ("catalog.compaction_jobs", "count"),
    ("watermark.scan_s", "s"), ("watermark.bytes_read", "bytes"),
    ("watermark.rows_scanned_per_row_kept", "ratio"), ("watermark.plan_s", "s"),
    ("edges.agg_s", "s"), ("edges.rows_in", "count"), ("edges.rows_out", "count"),
    ("edges.spill_bytes", "bytes"),
    ("persons.enrich_s", "s"), ("persons.rows_out", "count"), ("persons.broadcast_joins", "count"),
    ("rdf.write_s", "s"), ("rdf.triples", "count"), ("rdf.bytes_written", "bytes"),
    ("rdf.files_written", "count"),
    ("live.write_s", "s"), ("live.rows", "count"), ("live.files", "count"),
    ("live.task_retries", "count"),
    ("bucketed.build_s", "s"), ("bucketed.bytes_written", "bytes"),
    ("traverse.k_hop_s", "s"), ("traverse.hop1_rows", "count"), ("traverse.hop2_rows", "count"),
    ("traverse.jobs", "count"),
    ("dql.parse_s", "s"), ("dql.plan_s", "s"), ("dql.execute_s", "s"), ("dql.jobs", "count"),
    ("dedup.exact_s", "s"), ("dedup.lsh_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.planted_found_per_candidate", "ratio"), ("dedup.components_s", "s"),
    ("similarity.srp_s", "s"), ("similarity.candidate_pairs", "count"),
    ("similarity.kept_per_candidate", "ratio"),
]


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Fold spans into the named per-layer metrics. Per-operation spans
    report the median over warm operations (else the cold load
    operation, else the closing one); one-time spans (session, catalog
    set-up, the bucketed-table build) report that one occurrence. A
    layer the workload never reaches reads 0."""

    def pick(name, warm=True):
        ss = [s for s in spans if s["name"] == name]
        if warm:
            w = [s for s in ss if s["op"] not in ("setup", "load", "closing")]
            ss = w or [s for s in ss if s["op"] == "load"] or [s for s in ss if s["op"] == "closing"]
        return ss

    def med(name, f, warm=True):
        ss = pick(name, warm)
        return statistics.median(f(s) for s in ss) if ss else 0

    wall = lambda s: s["wall_s"]  # noqa: E731
    cnt = lambda k: (lambda s: s["counts"].get(k, 0))  # noqa: E731
    ev = lambda k: (lambda s: s[k])  # noqa: E731

    def setup_span(name, f):
        ss = [s for s in spans if s["name"] == name and s["op"] == "setup"]
        return f(ss[0]) if ss else 0

    def build_span(f):
        # the first bucketed-table call of the session builds it
        ss = [s for s in spans if s["name"] == "sources.bucketed_table"]
        return f(ss[0]) if ss else 0

    wm = "watermark.incremental_events_scan"
    srp = pick("similarity.srp_neardup_pairs")
    m = {
        "session.start_s": setup_span("session.get_spark", wall),
        "catalog.register_s": setup_span("catalog.register_views", wall),
        "catalog.compaction_jobs": setup_span("catalog.register_views", ev("jobs")),
        "watermark.scan_s": med(wm, wall),
        "watermark.bytes_read": med(wm, ev("bytes_read")),
        "watermark.rows_scanned_per_row_kept": med(
            wm, lambda s: s["records_read"] / max(1, s["counts"]["rows_kept"])
        ),
        "watermark.plan_s": med(wm, cnt("plan_s")),
        "edges.agg_s": med("edges.max_score_per_edge", wall),
        "edges.rows_in": med("edges.max_score_per_edge", cnt("rows_in")),
        "edges.rows_out": med("edges.max_score_per_edge", cnt("rows_out")),
        "edges.spill_bytes": med("edges.max_score_per_edge", ev("spill_bytes")),
        "persons.enrich_s": med("persons.enrich_is_trove", wall),
        "persons.rows_out": med("persons.enrich_is_trove", cnt("rows_out")),
        "persons.broadcast_joins": med("persons.enrich_is_trove", ev("broadcast_joins")),
        "rdf.write_s": med("rdf.write_rdf", wall),
        "rdf.triples": med("rdf.write_rdf", cnt("triples")),
        "rdf.bytes_written": med("rdf.write_rdf", ev("bytes_written")),
        "rdf.files_written": med("rdf.write_rdf", cnt("files_written")),
        "live.write_s": med("live.write_edges_live", wall),
        "live.rows": med("live.write_edges_live", cnt("rows")),
        "live.files": med("live.write_edges_live", cnt("files")),
        "live.task_retries": sum(s["failed_tasks"] for s in pick("live.write_edges_live", False)),
        "bucketed.build_s": build_span(wall),
        "bucketed.bytes_written": build_span(ev("bytes_written")),
        "traverse.k_hop_s": med("traverse.k_hop", wall),
        "traverse.hop1_rows": med("traverse.k_hop", cnt("hop1_rows")),
        "traverse.hop2_rows": med("traverse.k_hop", cnt("hop2_rows")),
        "traverse.jobs": med("traverse.k_hop", ev("jobs")),
        "dql.parse_s": med("dql.parse_dql", wall),
        "dql.plan_s": med("dql.run_dql", wall),
        "dql.execute_s": med("dql.execute", wall),
        "dql.jobs": med("dql.run_dql", ev("jobs")) + med("dql.execute", ev("jobs")),
        "dedup.exact_s": med("dedup.exact_dedup", wall),
        "dedup.lsh_s": med("dedup.lsh_candidate_pairs", wall),
        "dedup.candidate_pairs": med("dedup.lsh_candidate_pairs", cnt("candidate_pairs")),
        "dedup.planted_found_per_candidate": med(
            "dedup.lsh_candidate_pairs",
            lambda s: s["counts"]["planted_found"] / max(1, s["counts"]["candidate_pairs"]),
        ),
        "dedup.components_s": med("dedup.neardup_components", wall),
        "similarity.srp_s": med("similarity.srp_neardup_pairs", wall),
        "similarity.candidate_pairs": med("similarity.srp_neardup_pairs", ev("join_output_rows")),
        "similarity.kept_per_candidate": statistics.median(
            s["counts"]["kept_pairs"] / max(1, s["join_output_rows"]) for s in srp
        ) if srp else 0,
    }
    return m


# ----------------------------------------------------------------- runs


def run_timed(wl, ctx_args, conf, seconds, t0) -> dict:
    """SETUPS set-ups (the first from ``t0``, before the program is
    imported, so it includes the JVM launch; the others on a fresh
    session in the same JVM), then the loop with tracing off."""
    from workloads import Ctx

    src, work, cpus, seed = ctx_args
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = t0 if i == 0 else time.perf_counter()
        spark = set_up(wl, src, cpus, conf)
        setups.append(time.perf_counter() - t)
    ctx = Ctx(spark, src, work, cpus, seed)
    wl.prepare(ctx)
    loop = Loop(wl, ctx, untraced_calls(wl), warmup=wl.warmup)
    loop.run(seconds)
    rss = peak_rss_mb()
    spark.stop()
    return {"setups": setups, "loop": loop, "ctx": ctx, "peak_rss_mb": rss}


def _untraced_phase(wl, ctx_args, conf, seconds) -> Loop:
    from workloads import Ctx

    src, work, cpus, seed = ctx_args
    spark = set_up(wl, src, cpus, conf)
    ctx = Ctx(spark, src, work, cpus, seed)
    wl.prepare(ctx)
    loop = Loop(wl, ctx, untraced_calls(wl))
    loop.run(seconds)
    spark.stop()
    return loop


def run_traced(wl, ctx_args, conf, seconds) -> dict:
    """An untraced phase, a traced phase in a fresh session with the
    event log on (the re-composed operations with spans), then a second
    untraced phase; each phase has its own cold operation and half of
    ``seconds``. The JVM warms across phases, so the untraced phases
    bracket the traced one and the overhead is taken against both."""
    from dgraph_etl_spark.session import get_spark
    from spans import Tracer, event_log_conf
    from workloads import Ctx

    src, work, cpus, seed = ctx_args
    before = _untraced_phase(wl, ctx_args, conf, seconds / 2)

    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    tracer = Tracer(None)
    tracer.start_op("setup")
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf={**conf, **event_log_conf(log_dir)})
    tracer.spark = spark
    with tracer.span("catalog.register_views"):
        wl.register(spark, src)
    spark.range(1).count()
    ctx = Ctx(spark, src, work, cpus, seed)
    wl.prepare(ctx)
    traced = Loop(wl, ctx, traced_calls(wl, tracer))
    traced.run(seconds / 2)
    spark.stop()
    tracer.fold(log_dir)

    after = _untraced_phase(wl, ctx_args, conf, seconds / 2)
    return {"plain": [before, after], "traced": traced, "tracer": tracer}


def provenance(args, cpus, src) -> dict:
    import pyspark

    with open(os.path.join(src, "meta.json")) as f:
        meta = json.load(f)
    return {
        "nproc": os.cpu_count(),
        "cpus": cpus,
        "git_head": _git_head(),
        "source_sha": _source_sha(),
        "seed": args.seed,
        "scale": args.scale,
        "inputs": meta,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dgraph_etl_spark", "__main__.py")):
        print(f"perfbench: the program (dgraph_etl_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    _become_subreaper()
    try:
        lines = _run(args)
    finally:
        stop_processes()
    if lines is None:
        return 2
    # printed once every process has ended, so nothing follows the summary
    print("\n".join(lines))
    return 0


def _run(args) -> list[str] | None:
    """The run; its output lines (record, then summary), or None when
    the workload is unknown."""
    conf = _isolate_scratch()
    sys.path.insert(0, ROOT)
    import gen
    from workloads import PARAMS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return None
    wl = WORKLOADS[args.workload]
    src = gen.ensure_inputs(
        os.path.join(CACHE, "inputs"), wl.name, PARAMS[wl.name][args.scale], args.seed
    )
    work = os.path.join(CACHE, "work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    load0, (ticks0, steal0) = os.getloadavg(), _cpu_ticks()
    t0 = time.perf_counter()  # set-up is timed from here: after input generation

    ctx_args = (src, work, cpus, args.seed)
    if args.trace:
        res = run_traced(wl, ctx_args, conf, args.seconds)
        before, after = res["plain"]
        obs = before.obs + res["traced"].obs + after.obs
    else:
        res = run_timed(wl, ctx_args, conf, args.seconds, t0)
        obs = res["loop"].obs
    verdicts = check(wl.name, src, obs, work)
    ticks1, steal1 = _cpu_ticks()
    prov = provenance(args, cpus, src)
    prov.update(
        loadavg_before=list(load0),
        loadavg_after=list(os.getloadavg()),
        steal_pct=100.0 * (steal1 - steal0) / (ticks1 - ticks0) if ticks1 > ticks0 else None,
    )
    attempted = len(verdicts)
    failed = sum(not v["ok"] for v in verdicts)
    record = {
        "workload": wl.name,
        "trace": args.trace,
        "provenance": prov,
        "error_rate": failed / max(1, attempted),
        "failures": [v["why"] for v in verdicts if not v["ok"]][:10],
    }
    if args.trace:
        traced, tracer = res["traced"], res["tracer"]
        layer = layer_metrics(tracer.spans)
        untraced = _median(before.latencies + after.latencies)
        record["overhead"] = {
            "untraced_before_op_p50_s": _median(before.latencies),
            "untraced_after_op_p50_s": _median(after.latencies),
            "untraced_op_p50_s": untraced,
            "traced_op_p50_s": _median(traced.latencies),
            "op_p50_s": _diff(_median(traced.latencies), untraced),
        }
        record["spans"] = tracer.spans
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        loop, ctx = res["loop"], res["ctx"]
        record["setup_samples_s"] = res["setups"]
        record["op_latencies_s"] = loop.latencies
        record["tail"] = tail(loop.latencies)
        record["named"] = wl_named_metrics(wl, ctx, res, record)
        metrics = {
            "setup_s": {"value": statistics.median(res["setups"]), "unit": "s"},
            "load_s": {"value": loop.load_s, "unit": "s"},
            "op_p50_s": {"value": _median(loop.latencies), "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    record["metrics"] = metrics
    out_dir = os.path.join(CACHE, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{wl.name}-s{args.seed}-{'trace' if args.trace else 'timed'}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    ok_values = all(isinstance(m["value"], (int, float)) for m in metrics.values())
    return [
        json.dumps({k: v for k, v in record.items() if k != "spans"}, default=str),
        json.dumps({
            "correct": failed == 0 and ok_values,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }),
    ]


def _median(xs):
    return statistics.median(xs) if xs else None


def _diff(a, b):
    return a - b if a is not None and b is not None else None


def wl_named_metrics(wl, ctx, res, record) -> dict:
    """The workload's metrics under workload-specific names (NOTES.md
    maps them to the gated metrics)."""
    loop = res["loop"]
    p50 = _median(loop.latencies)
    common = {
        "setup_s": {"value": statistics.median(res["setups"]), "unit": "s"},
        "error_rate": {"value": record["error_rate"], "unit": "ratio"},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
    }
    t = record["tail"]
    if wl.name == "etl_live":
        per = ctx.meta["events"]["rows_per_slice"]
        base = per * (ctx.meta["params"]["slices"] - ctx.meta["params"]["pending_slices"])
        final = per * len(ctx.present)
        named = {
            "etl_load_events_per_s": {"value": base / loop.load_s if loop.load_s else None, "unit": "1/s"},
            "etl_increment_p50_s": {"value": p50, "unit": "s"},
            "etl_increment_tail_s": {**t, "unit": "s"},
            "bulk_events_per_s": {
                "value": final / loop.closing_s if loop.closing_s else None, "unit": "1/s",
            },
        }
    elif wl.name == "graph_query":
        named = {
            "graph_load_s": {"value": loop.load_s, "unit": "s"},
            "query_p50_s": {"value": p50, "unit": "s"},
            "query_tail_s": {**t, "unit": "s"},
        }
    else:
        items = ctx.meta["documents"]["rows"] + ctx.meta["embeddings"]["rows"]
        named = {"neardup_items_per_s": {"value": items / p50 if p50 else None, "unit": "1/s"}}
    return {**common, **named}


if __name__ == "__main__":
    sys.exit(main())
