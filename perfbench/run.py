"""Federation benchmark: one workload, one seed, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload remote_adhoc --seed 1 --seconds 10 --trace 0

The run sets up once (Spark session, provider and catalog
registration, a fixed warm-up), then drives the workload's seeded ops
through the public API for ``--seconds``, one op at a time, and checks
the kept results after the window. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a JSON ``info`` record with the
seed, host, versions, sample counts and the error ratio.

With ``--trace 1`` every other rotation of the query templates runs with
span-recording wrappers installed around the layers' public functions
(tracing.py); the untraced rotations in between give the tracing
overhead. Without it no wrapper is ever installed.

See README.md in this directory for the metrics and workloads.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HEAP = "1g"             # Spark's default driver heap, set explicitly
LSH_PRECISION_BATCHES = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_share():
    """(steal ticks, all ticks) of the whole machine, from /proc/stat: the
    share of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class Session:
    """One SparkSession at a time over a single JVM; every scratch path
    (Spark local dirs, warehouse, JVM and Python temp files) stays in the
    benchmark's work directory."""

    def __init__(self, cores):
        self.master = f"local[{cores}]"
        self.cores = cores
        self.spark = None
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)

    def start(self):
        from pyspark.sql import SparkSession
        tmp = os.path.join(WORK, "tmp")
        self.spark = (
            SparkSession.builder.master(self.master)
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", HEAP)
            .config("spark.local.dir", os.path.join(WORK, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                    f"-Dderby.system.home={tmp}")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm(self):
        return self.spark.sparkContext._jvm

    def jvm_pid(self):
        return int(self.jvm.java.lang.ProcessHandle.current().pid())

    def heap_peak_mb(self):
        """Peak use of the JVM's heap pools (MemoryPoolMXBean), in MiB."""
        mf = self.jvm.java.lang.management.ManagementFactory
        heap = self.jvm.java.lang.management.MemoryType.HEAP
        return sum(p.getPeakUsage().getUsed()
                   for p in mf.getMemoryPoolMXBeans()
                   if p.getType() == heap) / 2.0 ** 20

    def gc_ms(self):
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def versions(self):
        import duckdb
        import pyspark
        return {"pyspark": pyspark.__version__,
                "jvm": str(self.jvm.java.lang.System.getProperty(
                    "java.version")),
                "duckdb": duckdb.__version__,
                "python": sys.version.split()[0]}

    def job_counts(self, group):
        """(jobs, completed tasks) run under a job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def close(self):
        """Stop Spark and wait for the JVM (and its children) to exit."""
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()      # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def fresh_ops(wl, rng, count, seen, start=0):
    """Ops ``start`` .. ``start + count - 1`` from ``rng``; a SQL text
    already in ``seen`` is drawn again for the same index, so no text
    repeats within a run (the writeback read is the one op meant to
    repeat) and the template rotation stays fixed."""
    ops = []
    for i in range(start, start + count):
        while True:
            op = wl.make_op(rng, i)
            sql = op.get("sql")
            if sql is None or op.get("kind") == "read" or sql not in seen:
                break
        if sql is not None:
            seen.add(sql)
        ops.append(op)
    return ops


def run_window(sess, wl, rng, seen, seconds, tracer, patches_for):
    """Closed loop until ``seconds`` have passed; returns the op records
    and the window's resource deltas."""
    from stats import self_cpu_seconds, tree_cpu_seconds
    jvm_pid = sess.jvm_pid()
    done = []
    patches = patches_for() if tracer is not None else None
    py0, jvm0 = self_cpu_seconds(), tree_cpu_seconds(jvm_pid)
    gc0 = sess.gc_ms()
    steal0 = cpu_steal_share()
    start = time.perf_counter()
    deadline = start + seconds
    i = 0
    while True:
        op = fresh_ops(wl, rng, 1, seen, start=i)[0]
        # whole template cycles alternate, so traced and untraced ops
        # run the same query mix
        traced = tracer is not None and (i // wl.cycle) % 2 == 1
        group = f"perfbench-op-{i}"
        if traced:
            sess.spark.sparkContext.setJobGroup(group, "traced op")
            tracer.op = i
            wl.tracer = tracer
            patches.install()
        rec = {"op": op, "i": i, "traced": traced}
        t0 = time.perf_counter()
        try:
            rec["rows"] = wl.run_op(op)
        except Exception as e:  # an op that raises counts as failed
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        t1 = time.perf_counter()
        if traced:
            patches.remove()
            wl.tracer = None
            tracer.op = -1
            sess.spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                     None)
            rec["jobs"], rec["tasks"] = sess.job_counts(group)
        rec["ms"] = (t1 - t0) * 1000.0
        done.append(rec)
        i += 1
        # a traced run needs at least one traced and one untraced rotation
        if t1 >= deadline and (tracer is None or i >= 2 * wl.cycle):
            break
    window_s = time.perf_counter() - start
    steal1 = cpu_steal_share()
    return done, {
        "window_s": window_s,
        "py_cpu_s": self_cpu_seconds() - py0,
        "jvm_cpu_s": tree_cpu_seconds(jvm_pid) - jvm0,
        "gc_ms": sess.gc_ms() - gc0,
        "heap_peak_mb": sess.heap_peak_mb(),
        "jvm_pid": jvm_pid,
        "steal_pct": 100.0 * (steal1[0] - steal0[0])
                     / max(1, steal1[1] - steal0[1]),
    }


def end_to_end(done, res, setup_s):
    import stats
    ms = [d["ms"] for d in done]
    ok = [d for d in done if "error" not in d]
    rss_kb = (stats.parse_vmhwm_kb(open("/proc/self/status").read()),
              stats.tree_peak_rss_kb(res["jvm_pid"]))
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "p50_ms": (stats.median(ms), "ms", len(ms)),
        "ops_per_s": (len(ok) / res["window_s"], "1/s", len(ok)),
        "cpu_ms_per_op": (stats.cpu_ms_per_op(res["py_cpu_s"],
                                              res["jvm_cpu_s"], len(done)),
                          "ms", len(done)),
        "peak_rss_mb": (stats.peak_rss_mb(*rss_kb), "MB", 1),
    }
    return metrics, stats.percentile(ms, 0.9), {
        "driver_hwm": rss_kb[0] / 1024.0, "jvm_hwm": rss_kb[1] / 1024.0,
        "jvm_heap_peak": res["heap_peak_mb"]}


PER_LAYER_SPANS = {
    "sqlfront.parse_ms": ["sqlfront.parse"],
    "optimizer.push_filters_ms": ["optimizer.push_filters"],
    "optimizer.prune_scans_ms": ["optimizer.prune_scans"],
    "unparser.plan_to_sql_ms": ["unparser.plan_to_sql"],
    "federation.federate_ms": ["federation.federate"],
    "schema_infer.infer_ms": ["schema_infer.infer", "schema_infer.analyze"],
    "schema_cast.cast_ms": ["schema_cast.cast"],
    "sources.remote_exec_ms": ["sources.remote_exec"],
    "sources.arrow_to_spark_ms": ["sources.arrow_to_spark"],
    "sources.insert_ms": ["sources.insert"],
    "sources.statement_ms": ["sources.statement"],
    "compiler.compile_self_ms": ["compiler.compile"],
    "spark.collect_ms": ["spark.collect"],
    "operators.minhash_dedup_ms": ["operators.minhash_dedup"],
    "operators.quality_features_ms": ["operators.quality_features"],
}


def per_layer(tracer, done, res, wl):
    """Per-op means over the traced ops: self time per layer (ms), counts,
    and the tracing overhead against the interleaved untraced ops."""
    import stats
    traced = [d for d in done if d["traced"]]
    untraced = [d for d in done if not d["traced"]]
    n = len(traced)
    self_ms = defaultdict(float)
    calls = defaultdict(int)
    attr = defaultdict(float)
    st = tracer.self_times()
    for s in tracer.spans:
        self_ms[s.name] += st[s.id] * 1000.0
        calls[s.name] += 1
        for k, v in s.attrs.items():
            attr[(s.name, k)] += v
    m = {}
    for metric, names in PER_LAYER_SPANS.items():
        m[metric] = (sum(self_ms[x] for x in names) / n, "ms")
    infer_calls = calls["schema_infer.infer"]
    m.update({
        "federation.remote_queries_per_op":
            (calls["sources.remote_exec"] / n, "count"),
        "schema_infer.calls_per_op": (infer_calls / n, "count"),
        "schema_infer.cache_hit_ratio":
            ((infer_calls - calls["schema_infer.analyze"]) / infer_calls
             if infer_calls else 0.0, "ratio"),
        "sources.remote_rows_per_op":
            (attr[("sources.arrow_to_spark", "rows")] / n, "count"),
        "sources.remote_bytes_per_op":
            (attr[("sources.arrow_to_spark", "bytes")] / n, "bytes"),
        "sources.insert_rows_per_op":
            (attr[("sources.insert", "rows")] / n, "count"),
        "spark.jobs_per_op": (sum(d["jobs"] for d in traced) / n, "count"),
        "spark.tasks_per_op": (sum(d["tasks"] for d in traced) / n, "count"),
        "jvm.gc_ms_per_op": (res["gc_ms"] / len(done), "ms"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "driver.py_cpu_ms_per_op":
            (res["py_cpu_s"] * 1000.0 / len(done), "ms"),
        "jvm.cpu_ms_per_op": (res["jvm_cpu_s"] * 1000.0 / len(done), "ms"),
        "operators.lsh_candidate_precision":
            (lsh_precision(wl, traced), "ratio"),
    })
    p_tr = stats.median([d["ms"] for d in traced])
    p_un = stats.median([d["ms"] for d in untraced])
    m["trace.p50_ms_traced"] = (p_tr, "ms")
    m["trace.p50_ms_untraced"] = (p_un, "ms")
    m["trace.overhead_pct"] = ((p_tr / p_un - 1.0) * 100.0, "%")
    return m


def lsh_precision(wl, traced):
    """Verified pairs over LSH candidate pairs, on a few traced batches
    (candidates recounted after the window, so no op pays for it)."""
    batches = [d for d in traced if "df" in d["op"] and "rows" in d]
    if not batches:
        return 0.0
    from datafusion_federation_spark.operators import dedup
    import workloads
    verified = cands = 0
    for d in batches[:LSH_PRECISION_BATCHES]:
        cands += dedup.minhash_lsh_candidates(
            d["op"]["df"], "text", "doc_id",
            shingle_n=workloads.DEDUP_SHINGLE_N).count()
        verified += len(d["rows"]["pairs"])
    return verified / cands if cands else 0.0


def main(argv=None):
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import datafusion_federation_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    import datagen
    import stats
    import tracing
    import workloads
    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; have "
            f"{sorted(workloads.WORKLOADS)}")
        return 2
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # a SPARK_LOCAL_DIRS from the environment would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit first runs a small launcher JVM, which would otherwise
    # leave its perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = None

    load_start = loadavg()
    t_gen = time.perf_counter()
    data_dir = datagen.data_dir(WORK)
    gen_s = time.perf_counter() - t_gen

    cores = min(4, os.cpu_count() or 1)
    sess = Session(cores)
    wl = workloads.WORKLOADS[args.workload](data_dir)
    warm_rng = random.Random(f"perfbench-warmup:{wl.name}")
    seen = set()
    warm = fresh_ops(wl, warm_rng, wl.warmup_ops, seen)
    try:
        t_start = time.perf_counter()
        wl.setup(sess.start())
        t_warm = time.perf_counter()
        for op in warm:
            wl.run_op(op)
        # process start to the first timed op, less the one-time input
        # generation of a fresh checkout
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        versions = sess.versions()

        rng = random.Random(args.seed)
        tracer = tracing.Tracer() if args.trace else None
        done, res = run_window(
            sess, wl, rng, seen, args.seconds, tracer,
            lambda: tracing.layer_patches(tracer, wl))
        e2e, p90, mem = end_to_end(done, res, setup_s)

        errors = [i for i, d in enumerate(done) if "error" in d]
        wrong = wl.check(done, random.Random(f"perfbench-check:{args.seed}"))
        layers = per_layer(tracer, done, res, wl) if args.trace else None
        wl.teardown()
    finally:
        sess.close()

    attempted = len(done)
    failed = len(set(errors) | set(wrong))
    for i in errors:
        log(f"op {i} failed: {done[i]['error']}")
    for i in wrong:
        log(f"op {i} returned a wrong result: {done[i]['op']}")
    info = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": os.cpu_count(),
        "master": sess.master, "loadavg_start": load_start,
        "loadavg_end": loadavg(), "versions": versions,
        "data_gen_s": gen_s,
        "setup_parts_s": {"imports": t_start - PROCESS_START - gen_s,
                          "session": t_warm - t_start,
                          "warmup": PROCESS_START + gen_s + setup_s - t_warm},
        "window_s": res["window_s"], "steal_pct": res["steal_pct"],
        "attempted": attempted, "raised": len(errors), "wrong": len(wrong),
        "error_ratio": stats.error_ratio(attempted, len(errors),
                                         len(set(wrong) - set(errors))),
        "p90_ms": p90,
        "mem_mb": mem,
        "latencies_ms": [round(d["ms"], 1) for d in done],
        "samples": {k: v[2] for k, v in e2e.items()},
    }
    if tracer is not None:
        path = os.path.join(WORK, f"trace-{wl.name}-{args.seed}.jsonl")
        with open(path, "w") as f:
            for r in tracer.to_records():
                f.write(json.dumps(r) + "\n")
        info["trace_file"] = os.path.relpath(path, ROOT)
    shown = layers if args.trace else e2e
    for k, v in shown.items():
        extra = f"  (n={v[2]})" if len(v) > 2 else ""
        log(f"{wl.name:>13} {k:<36} {v[0]:14.4f} {v[1]}{extra}")
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]}
                    for k, v in shown.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
