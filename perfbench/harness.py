"""One benchmark run: set-up, closed-loop passes, output check, metrics.

Load model: one client, one operation in flight (closed loop). A pass runs
every operation of the workload once, in an order drawn from the seed.
Set-up generates the inputs, starts the session and warms it with one
untimed pass of the workload, which also checks every output right after
the operation's timer has stopped. Then it measures whole passes, as many
as fit ``seconds`` at the workload's expected pass wall (at least one;
when tracing, an odd number and at least three).

Every operation is tagged with ``setJobGroup(<op id>)``. With tracing on,
the session also writes a Spark event log, and spans are recorded around
the calls into each layer in the even-numbered passes, so every traced
pass sits between two untraced ones and the same run also gives the
tracing overhead: each traced pass wall minus the mean of its two
neighbours, averaged over the traced passes.
"""

from __future__ import annotations

import os
import platform
import random
import re
import statistics
import time
from collections import Counter
from contextlib import contextmanager

from perfbench import eventlog

#: Spark worker threads. Two, not every core: on a shared VM the hypervisor
#: takes turns away from single vCPUs (steal time), and a stage waiting on
#: all of its tasks runs at the pace of the slowest vCPU; spare vCPUs let
#: the guest move work off a stolen one.
CPUS = max(1, min(2, len(os.sched_getaffinity(0))))
MB = 1024.0 * 1024.0
END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


class Ctx:
    """What an operation sees: the session, the inputs and the tracer."""

    def __init__(self, spark, work: str, data_dir: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.data_dir = data_dir
        self.seed = seed
        self.tracing = False
        self.spans: list[dict] = []
        self.counters: Counter = Counter()   # per-operation layer counts
        self.op_id: str | None = None
        self._stack: list[int] = []
        self.state: dict = {}                # carried between ETL stages

    @contextmanager
    def span(self, name: str):
        """Time a call into one layer (only when tracing)."""
        if not self.tracing:
            yield
            return
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def plan_probe(self, df) -> None:
        """Catalyst phases and plan shape of ``df`` (only when tracing).

        The sink plans a fresh command, so the DataFrame's own
        QueryExecution is planned here to make its optimization and
        planning phases visible."""
        if not self.tracing:
            return
        with self.span("catalyst.plan"):
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                if phases.contains(ph):
                    self.counters[f"catalyst.{ph}_s"] += \
                        phases.apply(ph).durationMs() / 1e3
        for k, v in plan_shape(plan).items():
            self.counters[k] += v


def plan_shape(plan: str) -> dict:
    """Node counts of a physical plan string."""
    names = [re.sub(r"^[\s:+\-*]*", "", line).split(" ")[0].split("(")[0]
             for line in plan.splitlines()]
    return {
        "catalyst.plan_chars": len(plan),
        "catalyst.exchanges": sum(n == "Exchange" for n in names),
        "catalyst.sort_merge_joins": sum(n == "SortMergeJoin" for n in names),
        "catalyst.broadcast_joins": sum(n.startswith("BroadcastHashJoin") or
                                        n.startswith("BroadcastNestedLoopJoin")
                                        for n in names),
        "catalyst.python_nodes": sum(eventlog.is_python_node(n) for n in names),
    }


# ------------------------------------------------------------------ session

def make_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    from data_engineering__spark.session import RUNTIME_CONF

    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)   # the program's tune() reads it
    b = (SparkSession.builder.master(f"local[{CPUS}]").appName("perfbench")
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(CPUS))
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         # a fixed heap size: a growing heap made peak RSS depend on when
         # the JVM happened to expand it
         .config("spark.driver.extraJavaOptions",
                 f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"))
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    # warnings stay on; only the per-query "No Partition Defined for Window
    # operation" notice of bounded global windows is silenced
    jvm = spark.sparkContext._jvm
    spark.sparkContext.setLogLevel("WARN")
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR)
    return spark


def clear_cache(spark) -> int:
    """Drop every cached table and persisted RDD; returns how many RDDs
    were still registered."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    rdds = sc._jsc.getPersistentRDDs()
    left = rdds.size()
    for rid in list(rdds.keySet()):
        rdds.get(rid).unpersist(True)
    return left


def stored_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------- environment

def cpu_probe_s() -> float:
    """Fixed single-thread Python work; compares host speed across runs."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the driver JVM, the Python daemon and its workers.
    Unlike wall time it does not grow while the hypervisor runs other
    guests on our vCPUs."""
    ticks = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(f[1]), int(f[11]) + int(f[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0))[1]
        stack += children.get(pid, [])
    return total / ticks


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def environment(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "cpus_online": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "machine": platform.machine(),
    }


# --------------------------------------------------------------------- run

def run_pass(ctx: Ctx, wl, pass_no: int, traced: bool,
             failures: list) -> list[dict]:
    """Run one pass; pass 0 is the warm-up pass, which checks outputs."""
    sc = ctx.spark.sparkContext
    order = wl.ops(random.Random(ctx.seed * 1000 + pass_no))
    ctx.tracing = traced
    records = []
    for op in order:
        op_id = f"p{pass_no}.{op.name}"
        ctx.op_id = op_id
        ctx.counters = Counter()
        ctx.spans = []
        sc.setJobGroup(op_id, op.name)
        cpu0 = tree_cpu_s()
        t0, p0 = time.time(), time.perf_counter()
        try:
            out, err = op.fn(ctx), None
        except Exception as e:  # counted as a failed operation
            out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        wall = time.perf_counter() - p0
        cpu = tree_cpu_s() - cpu0
        rec = {"op": op.name, "id": op_id, "pass": pass_no, "traced": traced,
               "start": t0, "end": t0 + wall, "wall_s": wall, "cpu_s": cpu,
               "error": err}
        ctx.tracing = False
        if traced:
            rec["cache.stored_mb"] = stored_mb(ctx.spark)
            # a pipeline keeps its stages' data on purpose until the pass ends
            if wl.clear_per_op or op is order[-1]:
                rec["cache.leaked_rdds"] = \
                    ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
        if pass_no == 0 and err is None:
            c0 = time.perf_counter()
            try:
                ok, msg = wl.check(ctx, op, out)
            except Exception as e:
                ok, msg = False, f"{type(e).__name__}: {str(e)[:300]}"
            rec["check_s"] = time.perf_counter() - c0
            if msg is not None:
                rec["check"] = msg
            if not ok:
                rec["error"] = f"output check: {msg}"
        if rec["error"]:
            failures.append({"op": op_id, "error": rec["error"]})
        if wl.clear_per_op:
            clear_cache(ctx.spark)
        rec["counters"] = dict(ctx.counters)
        rec["spans"] = ctx.spans
        records.append(rec)
        ctx.tracing = traced
    ctx.tracing = False
    sc.setJobGroup("perfbench.idle", "between passes")
    wl.end_pass(ctx)
    return records


def run(wl, seed: int, seconds: float, trace: bool, work: str,
        t_start: float) -> tuple[dict, dict]:
    load_start = os.getloadavg()[0]
    probe = cpu_probe_s()
    os.makedirs(work, exist_ok=True)
    data_dir = os.path.join(work, "data")
    gen = wl.generate(data_dir, seed)

    t = time.perf_counter()
    spark = make_session(work, trace)
    session_start_s = time.perf_counter() - t
    ctx = Ctx(spark, work, data_dir, seed)
    env = environment(spark)
    failures: list[dict] = []
    try:
        # the warm-up pass also checks each output, right after the
        # operation's timer stops; check time is left out of set-up time
        t = time.perf_counter()
        warmup = run_pass(ctx, wl, 0, False, failures)
        check_s = sum(r.get("check_s", 0.0) for r in warmup)
        warmup_s = time.perf_counter() - t - check_s
        setup_s = time.perf_counter() - t_start - check_s

        # whole passes for about ``seconds`` of operation time, counted from
        # the workload's expected pass wall so that every run of a workload
        # measures the same passes. A traced run traces every even-numbered
        # pass and ends on an untraced one (U T U ...).
        n_passes = max(1, round(seconds / wl.pass_s))
        if trace:
            n_passes = max(3, n_passes | 1)
        steal0, total0 = cpu_ticks()
        passes: list[list[dict]] = []
        for n in range(1, n_passes + 1):
            traced = trace and n % 2 == 0
            passes.append(run_pass(ctx, wl, n, traced, failures))
        rss = vm_hwm_mb(jvm_pid(spark) or 0) + vm_hwm_mb("self")
        steal1, total1 = cpu_ticks()
    finally:
        stop_session(spark)
    env.update({"load_1m_start": load_start,
                "load_1m_end": os.getloadavg()[0],
                "cpu_probe_s": probe, "inputs": gen,
                # share of CPU time the hypervisor gave to other guests
                # while the passes ran
                "steal_frac": (steal1 - steal0) / max(total1 - total0, 1)})

    timed = [r for p in passes for r in p]
    attempted = len(warmup) + len(timed)
    failed = sum(1 for r in warmup + timed if r["error"])
    walls = sorted(r["wall_s"] for r in timed if not r["traced"])
    untraced = [sum(r["wall_s"] for r in p) for p in passes if not p[0]["traced"]]
    untraced_cpu = [sum(r["cpu_s"] for r in p) for p in passes
                    if not p[0]["traced"]]
    tail_val, tail_pct, beyond = op_tail(walls)
    # latency: reported in every result's environment line and, per run,
    # as per-layer metrics of a traced run; not end-to-end gates, because
    # on a shared VM it follows the hypervisor's steal (see README)
    latency = {"latency.wall_s": statistics.median(untraced),
               "latency.op_p50_s": statistics.median(walls),
               "latency.op_tail_s": tail_val}
    summary = {
        "workload": wl.name, "seed": seed, "trace": int(trace),
        "passes": len(passes), "ops_per_pass": len(passes[0]),
        "op_samples": len(walls), "op_tail_percentile": tail_pct,
        "op_tail_samples_beyond": beyond, "failed_frac": failed / attempted,
        "checked_ops": sum("check" in r for r in warmup + timed),
        **latency,
        "untraced_pass_walls_s": untraced,
        "untraced_pass_cpu_s": untraced_cpu,
        "session_start_s": session_start_s, "warmup_s": warmup_s,
    }
    if trace:
        metrics = layer_metrics(work, passes, session_start_s, warmup_s, gen)
        metrics.update(latency)
        result_metrics = {k: {"value": v, "unit": unit_of(k)}
                          for k, v in metrics.items()}
    else:
        e2e = {"setup_s": setup_s, "cpu_s": statistics.median(untraced_cpu),
               "peak_rss_mb": rss}
        result_metrics = {k: {"value": round(v, 6), "unit": END_TO_END_UNITS[k]}
                          for k, v in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": result_metrics}
    detail = {"env": {**env, **summary}, "result": result,
              "failures": failures[:50],
              "ops": warmup + timed}
    return result, detail


def op_tail(walls: list[float]) -> tuple[float, int, int]:
    """Highest per-operation percentile with at least ten samples beyond
    it: (value, percentile, samples beyond). Below 20 samples that
    percentile would not be above the median, so the maximum is reported
    instead (percentile 100, no sample beyond)."""
    n = len(walls)
    if n < 20:
        return walls[-1], 100, 0
    k = n - 11
    return walls[k], int(100 * (k + 1) / n), n - k - 1


# -------------------------------------------------------------- per layer

def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_amp")):
        return "ratio"
    return "count"


def layer_metrics(work: str, passes: list[list[dict]],
                  session_start_s: float, warmup_s: float, gen: dict) -> dict:
    """Per-layer sums over one traced pass (mean over traced passes)."""
    from perfbench.workloads import LAYERS

    log_files = [os.path.join(work, "eventlog", f)
                 for f in os.listdir(os.path.join(work, "eventlog"))]
    log = eventlog.parse(max(log_files, key=os.path.getsize))
    traced = [p for p in passes if p[0]["traced"]]
    sums = Counter()
    for p in traced:
        for rec in p:
            rec["layers"] = op_layers(log, rec)
            sums.update(rec["layers"])
    n = len(traced)
    out = {name: sums.get(name, 0.0) / n for name in LAYERS}
    walls = [sum(r["wall_s"] for r in p) for p in passes]
    wall = statistics.mean(walls[i] for i, p in enumerate(passes)
                           if p[0]["traced"])
    out["driver.gap_frac"] = out["driver.gap_s"] / wall if wall else 0.0
    out["session.start_s"] = session_start_s
    out["session.warmup_s"] = warmup_s
    # a traced pass against its untraced neighbours, so that the drift of
    # a warming JIT from pass to pass cancels
    out["trace.overhead_s"] = statistics.mean(
        walls[i] - (walls[i - 1] + walls[i + 1]) / 2
        for i, p in enumerate(passes) if p[0]["traced"])
    if "sources.io.write_amp" in out:
        json_bytes = gen.get("json_bytes", 0)
        out["sources.io.write_amp"] = (out["sources.io.written_mb"] * MB /
                                       json_bytes) if json_bytes else 0.0
    return out


def op_layers(log: eventlog.EventLog, rec: dict) -> Counter:
    """Layer metrics of one traced operation."""
    lo, hi = rec["start"], rec["end"]
    jobs = log.jobs_of(rec["id"], (lo * 1e3, hi * 1e3))
    spans = rec.get("spans", [])
    c = Counter(rec["counters"])
    s = log.summary(jobs)
    for k in ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks"):
        c[f"exec.{k}"] += s.get(k, 0)
    for k in ("job_s", "task_cpu_s", "task_run_s", "sched_delay_s", "gc_s"):
        c[f"exec.{k}"] += s.get(k, 0.0)
    for k, name in (("input_bytes", "input_mb"),
                    ("shuffle_write_bytes", "shuffle_write_mb"),
                    ("shuffle_read_bytes", "shuffle_read_mb"),
                    ("spill_bytes", "spill_mb")):
        c[f"exec.{name}"] += s.get(k, 0) / MB
    c["functions.arrow.sent_mb"] += s.get("py_sent_bytes", 0) / MB
    c["functions.arrow.received_mb"] += s.get("py_received_bytes", 0) / MB
    c["functions.arrow.rows_received"] += s.get("py_rows_received", 0)
    for k in ("boot", "init", "run"):
        c[f"functions.arrow.{k}_s"] += s.get(f"py_{k}", 0.0)
    in_jobs = eventlog.union_s(log.intervals(jobs), lo, hi)
    gap = max(rec["wall_s"] - in_jobs, 0.0)
    c["driver.gap_s"] += gap
    for sp in spans:
        dur = sp["end"] - sp["start"]
        c[sp["name"] + "_s"] += dur
        if sp["name"] in ("conformance.build",) or \
                sp["name"].startswith("plans.pipeline."):
            n_jobs = sum(1 for j in jobs
                         if sp["start"] * 1e3 <= log.jobs[j]["start_ms"]
                         <= sp["end"] * 1e3)
            key = ("conformance.build_jobs" if sp["name"] == "conformance.build"
                   else "plans.pipeline.jobs")
            c[key] += n_jobs
    c["cache.stored_mb"] += rec.get("cache.stored_mb", 0.0)
    c["cache.leaked_rdds"] += rec.get("cache.leaked_rdds", 0)
    c[f"op.{rec['op']}.wall_s"] += rec["wall_s"]
    c[f"op.{rec['op']}.gap_s"] += gap
    if rec["op"] == "incremental":
        c["etl.incremental_s"] += rec["wall_s"]
    return c

