"""Benchmark of dask_geomodeling_spark, run from the repository root:

    python3 perfbench/run.py --workload tiles|batch \\
        --seed N --seconds S --trace 0|1

One process, one local Spark session on every available core, one client
thread in a closed loop.  The seed makes the input tables (and, for
``tiles``, the request windows and filters).  Set-up runs a warm-up pass;
the timed phase then runs whole passes of the workload's ops until
``--seconds`` have passed.  Every output is checked outside the timed
region.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it holds details that are not metrics (per-type latencies,
failures and their causes, the set-up breakdown).  A traced run also
writes its spans to ``.perfbench_out/``.
"""

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
from collections import Counter  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

DEFAULT_SCALE = 0.01
SHUFFLE_PARTITIONS = "8"
DRIVER_MEMORY = "1g"

# per-layer metric -> unit; a traced run prints exactly these, per pass
PER_LAYER = {
    "core.construct_s": "s", "core.build_s": "s", "core.build_jobs": "count",
    "sources.schema_jobs": "count", "sources.input_rows": "count",
    "sources.input_bytes": "B",
    "sources.rows_scanned_per_row_returned": "ratio",
    "catalyst.plan_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_cpu_s": "s",
    "exec.executor_run_s": "s", "exec.gc_s": "s", "exec.idle_core_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "geometry.action_s": "s", "geometry.executor_cpu_s": "s",
    "raster.action_s": "s", "raster.executor_cpu_s": "s",
    "pipeline.action_s": "s", "pipeline.executor_cpu_s": "s",
    "raster.hydrology.build_jobs": "count",
    "geometry.spatial_join.build_jobs": "count",
    "pipeline.dedup.build_jobs": "count",
    "raster.components.build_jobs": "count",
    "sinks.write_s": "s", "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "storage.persisted_rdds": "count", "storage.mem_bytes": "B",
    "trace.wall_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("tiles", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                    help="input size as a TPC-H scale factor")
    return ap.parse_args(argv)


def configure_env(run_dir):
    """Keep every file Spark, its workers and DuckDB write inside
    ``run_dir``, give Spark every core this process may use, and size
    shuffles and the driver heap for the small inputs.
    Runs before the package is imported: its config reads these."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = SHUFFLE_PARTITIONS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.sql.warehouse.dir={wh} "
        "--driver-java-options '-Djava.io.tmpdir={tmp} "
        "-Dderby.system.home={run} -XX:-UsePerfData' pyspark-shell"
    ).format(wh=os.path.join(run_dir, "warehouse"), tmp=tmp, run=run_dir)


def vm_hwm_bytes(pid):
    with open("/proc/{}/status".format(pid)) as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class Bench:
    """Run state shared by the workload and the op executor."""

    def __init__(self, spark, data_dir, work_dir, seed, parity, con):
        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.parity = parity
        self.con = con
        self.cores = self.sc.defaultParallelism
        self.tracer = None
        self.query_check = {}
        self.query_rows = {}
        self.warm_s = {}
        self.clock = time.monotonic

    def execute(self, op, op_id):
        """Run one op: construct, build, (traced: force the physical
        plan), action.  Returns its record; an exception is recorded as
        the op's error, not raised."""
        tr = self.tracer

        def span(name):
            return tr.span(name, op_id) if tr else contextlib.nullcontext()

        rec = {"op": op, "id": op_id, "error": None, "result": None}
        if tr:
            tr.begin_op(op_id, op.name)
        t0 = self.clock()
        try:
            with span("op"):
                with span("core.construct"):
                    block = op.construct(self)
                with span("core.build"):
                    df = op.build(self, block)
                if tr:
                    rec["build_end_job"] = tr.next_job_id()
                    if hasattr(df, "_jdf"):
                        with span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                with span(op.action_layer):
                    rec["result"] = op.action(self, df)
        except Exception as e:  # an op failure is data, not a crash
            rec["error"] = "{}: {}".format(
                type(e).__name__, str(e).splitlines()[0][:300]
                if str(e) else "")
        rec["latency"] = self.clock() - t0
        if tr:
            jobs = tr.op_jobs(op_id)
            cut = rec.get("build_end_job", float("inf"))
            rec["build"] = tr.job_stats([j for j in jobs if j < cut])
            rec["exec"] = tr.job_stats([j for j in jobs if j >= cut])
            rec["spans"] = {s["name"]: s["end"] - s["start"]
                            for s in tr.spans if s["op"] == op_id}
        return rec


def run_pass(bench, workload, pass_index):
    recs = [bench.execute(op, "{}:{}:{}".format(pass_index, i, op.name))
            for i, op in enumerate(workload.ops(pass_index))]
    return {"wall": sum(r["latency"] for r in recs), "recs": recs}


def timed_phase(bench, workload, seconds):
    """Whole passes until ``seconds`` have passed (at least one)."""
    passes, t0, p = [], bench.clock(), 0
    while not passes or bench.clock() - t0 < seconds:
        passes.append(run_pass(bench, workload, p))
        p += 1
    return passes


def check_outputs(bench, workload, recs):
    """Check every op's output; returns the failures as
    ``(op kind, reason, known defect?)``."""
    from perfbench.workloads import KNOWN_DEFECT_KIND
    if hasattr(workload, "prepare_checks"):
        workload.prepare_checks()
    failures = []
    for r in recs:
        op = r["op"]
        reason = r["error"] or op.check(bench, r["result"])
        if reason:
            known = r["error"] is None and op.kind == KNOWN_DEFECT_KIND
            failures.append((op.kind, reason, known))
        elif "build" in r:
            r["rows"] = op.rows(bench, r["result"])
    return failures


def quantile(values, q):
    """The ``q``-th percentile of ``values``, interpolated between the
    samples (``statistics.quantiles``' inclusive method, which unlike the
    exclusive one never reads beyond the largest of a few samples)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(setup_s, passes, failures, peak_rss):
    lat = [r["latency"] for p in passes for r in p["recs"]]
    walls = [p["wall"] for p in passes]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "ops_per_s": (len(lat) / sum(walls), "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (quantile(lat, 90), "s"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
        "success_rate": (1 - len(failures) / len(lat), "ratio"),
    }


def per_layer(bench, passes, storage, sink_setup):
    """Per-layer figures per pass, summed over the traced ops.  ``exec.*``
    covers jobs run by actions; ``core.build_jobs`` the jobs a Block
    stack ran while it was building."""
    n = len(passes)
    recs = [r for p in passes for r in p["recs"]]
    m = {}

    def add(key, value):
        m[key] = m.get(key, 0.0) + value

    for r in recs:
        sp, b, e = r["spans"], r["build"], r["exec"]
        busy = sp.get("exec.action", 0.0) + sp.get("sinks.write", 0.0)
        top = r["op"].owner.split(".")[0]
        add("core.construct_s", sp.get("core.construct", 0.0))
        add("core.build_s", sp.get("core.build", 0.0))
        add("core.build_jobs", b["jobs"])
        add("sources.schema_jobs", b["schema_jobs"] + e["schema_jobs"])
        add("sources.input_rows", b["input_rows"] + e["input_rows"])
        add("sources.input_bytes", b["input_bytes"] + e["input_bytes"])
        add("_rows_returned", r.get("rows", 0))
        add("catalyst.plan_s", sp.get("catalyst.plan", 0.0))
        add("exec.action_s", sp.get("exec.action", 0.0))
        for key in ("jobs", "stages", "tasks", "executor_cpu_s",
                    "executor_run_s", "gc_s", "shuffle_write_bytes",
                    "shuffle_read_bytes", "spill_bytes"):
            add("exec." + key, e[key])
        add("exec.idle_core_s", busy * bench.cores - e["executor_run_s"])
        add(top + ".action_s", busy)
        add(top + ".executor_cpu_s", e["executor_cpu_s"])
        add(r["op"].owner + ".build_jobs", b["jobs"])
        if r["op"].action_layer == "sinks.write":
            add("sinks.write_s", sp["sinks.write"])
            files, size = dir_usage(r["result"])
            add("sinks.files_written", files)
            add("sinks.bytes_written", size)
    out = {k: m.get(k, 0.0) / n for k in PER_LAYER}
    if sink_setup is not None:
        out["sinks.write_s"], out["sinks.files_written"], \
            out["sinks.bytes_written"] = sink_setup
    rows = m["_rows_returned"]
    out["sources.rows_scanned_per_row_returned"] = (
        m["sources.input_rows"] / rows if rows else 0.0)
    out["storage.persisted_rdds"], out["storage.mem_bytes"] = storage
    # the tracing overhead is this minus the untraced runs' wall_s
    out["trace.wall_s"] = statistics.median(p["wall"] for p in passes)
    return out


def dir_usage(path):
    files = size = 0
    for d, _, names in os.walk(path or ""):
        for name in names:
            if name.endswith(".crc") or name.startswith("_"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, name))
    return files, size


def main(argv=None):
    args = parse_args(argv)
    run_dir = os.path.join(ROOT, ".perfbench_work", "{}-{}-{}".format(
        args.workload, args.seed, os.getpid()))
    configure_env(run_dir)
    import duckdb

    import dask_geomodeling_spark  # noqa: F401  fails outside a checkout
    from perfbench import datagen
    from perfbench.trace import Tracer, persisted_storage
    from perfbench.workloads import WORKLOADS, load_parity_module, sql_str

    parity = load_parity_module(ROOT)
    os.makedirs(os.environ["TMPDIR"])
    spark = gateway = con = None
    try:
        t = time.monotonic()
        data_dir = datagen.write(os.path.join(run_dir, "data"), args.seed,
                                 args.scale)
        gen_s = time.monotonic() - t

        from dask_geomodeling_spark.config import get_spark
        spark = get_spark()
        gateway = spark.sparkContext._gateway
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - T0 - gen_s

        con = duckdb.connect()
        con.execute("SET temp_directory = '{}'".format(
            os.path.join(run_dir, "duckdb")))
        for table in datagen.TABLES:
            con.execute("CREATE VIEW {} AS SELECT * FROM read_parquet({})"
                        .format(table, sql_str(os.path.join(
                            data_dir, table + ".parquet"))))
        parity.SF_DIR = data_dir   # assert_parity runs queries there
        bench = Bench(spark, data_dir, run_dir, args.seed, parity, con)
        workload = WORKLOADS[args.workload](bench)
        workload.setup()
        export_s = getattr(workload, "export_s", None)
        t = time.monotonic()
        warm_ops = workload.warm()
        warm_s = time.monotonic() - t
        # set-up: process start to the first timed op, without making
        # the input tables
        setup_s = time.monotonic() - T0 - gen_s

        if args.trace:
            bench.tracer = Tracer(spark.sparkContext)
        passes = timed_phase(bench, workload, args.seconds)
        storage = persisted_storage(spark.sparkContext)
        peak_rss = (vm_hwm_bytes(os.getpid())
                    + vm_hwm_bytes(gateway.proc.pid))
        recs = [r for p in passes for r in p["recs"]]
        failures = check_outputs(bench, workload, recs)

        if args.trace:
            sink_setup = None
            if export_s is not None:
                sink_setup = (export_s,) + dir_usage(
                    workload.cells_url)
            metrics = per_layer(bench, passes, storage, sink_setup)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(out_dir, "trace-{}-{}.json"
                                           .format(args.workload,
                                                   args.seed)))
            metrics = {k: (metrics[k], u) for k, u in PER_LAYER.items()}
        else:
            metrics = end_to_end(setup_s, passes, failures, peak_rss)

        detail = {
            "workload": args.workload, "seed": args.seed,
            "scale": args.scale, "passes": len(passes),
            "ops": len(recs), "cores": bench.cores,
            "setup": {"make_inputs_s": gen_s, "session_s": session_s,
                      "export_s": export_s, "warm_s": warm_s,
                      "warm_ops": len(warm_ops),
                      "warm_check_s": bench.warm_s},
            "latency_by_type": latency_by_type(recs),
            "error_rate": len(failures) / len(recs),
            "failures_by_type": Counter(f[0] for f in failures),
            "known_defect_failures": sum(f[2] for f in failures),
            "failure_samples": sorted({"{}: {}".format(k, why)
                                       for k, why, _ in failures})[:8],
            "query_check_failures": {k: v for k, v in
                                     bench.query_check.items() if v},
            "retained_storage_mb": storage[1] / 1e6,
        }
        result = {
            "correct": all(known for _, _, known in failures),
            "attempted": len(recs),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        if con is not None:
            con.close()
        if spark is not None:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


def latency_by_type(recs):
    """Median latency and sample count per op type (tiles) or per op
    name (batch)."""
    groups = {}
    for r in recs:
        key = r["op"].kind if r["op"].name.startswith("tile_") \
            else r["op"].name
        groups.setdefault(key, []).append(r["latency"])
    return {k: {"p50_s": statistics.median(v), "n": len(v)}
            for k, v in groups.items()}


if __name__ == "__main__":
    sys.exit(main())
