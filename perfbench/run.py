"""Benchmark runner for the oeem_etl_spark engine.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 16 --trace 0

One client process drives the engine through its public calls only:
``session.get_session``, ``catalog.load_table``, the registry's query
functions and one DataFrame action (``.count()``). Ops run closed loop, one
after another, on ``local[nproc]``, over sf0.1 tables generated from the
fixed DATA_SEED (perfbench/datagen.py), so every run reads the same inputs.
``--seed`` fixes the op order of every pass after the cold one. A run goes:

1. generate the inputs (untimed);
2. set up: import the engine, ``get_session``, ``load_table`` x 10 (setup_s);
3. a cold pass over the ops in the fresh session, in the listed order,
   that collects every result for the correctness check (cold_pass_s);
4. WARMUP_PASSES untimed passes;
5. ``timed_passes(workload, --seconds)`` timed passes (pass_s, op_p50_s):
   a count fixed by ``--seconds``, not by the clock, so every run times the
   same pass indices of the warm-up curve;
6. stop Spark, run every op's DuckDB oracle on the same inputs and compare:
   the collected rows value by value, and every count of every pass by
   row count.

Caches are reset after every op, outside the timed interval, and each op
first checks that no persisted RDD is left. With ``--trace 1`` spans and
Spark, JVM and /proc counters are recorded and the per-layer metrics are
printed instead of the end-to-end ones; spans go to
``.perfbench_out/trace-<workload>-<seed>.json``. The last line of stdout is
one JSON object; the exit code is non-zero if any op failed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import stats  # noqa: E402

DATA_SEED = 42  # the fixtures' seed (TESTDATA.md); --seed only orders the ops

# Untimed passes between the cold pass and the timed ones, the same on every
# commit; chosen from the per-pass wall and JIT curves in RESULTS.md.
WARMUP_PASSES = 3

WORKLOADS = {
    # Analytic reads bound by driver build and scheduling; i1 runs the
    # streaming availableNow path.
    "headline": [
        "q01_pricing_summary", "q02_top_revenue_customers",
        "t05_regional_volume", "e5_topk_per_group", "i1_tumbling_window",
    ],
    # fetch -> parse -> transform -> upload: a14's mapInPandas fetch, XML
    # parse, k34's site-to-station join (persists an intermediate), and
    # parquet and CSV sink writes with their commits.
    "etl_ingest": [
        "a14_fetch_upload_pipeline", "a11_espi_xml_parse",
        "k34_nearest_station", "a6_parquet_sink_roundtrip", "a2_csv_roundtrip",
    ],
}

# Warm pass wall (s) on 4 vCPUs, from RESULTS.md: --seconds divided by it
# gives the number of timed passes.
NOMINAL_PASS_S = {"headline": 2.7, "etl_ingest": 4.2}

# op_tail_s, the (1 - 10/n) quantile of the op samples, is printed but not
# gated: a run has n <= 25 samples, so that quantile is at or below the
# median (RESULTS.md).
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "catalog.load_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_self_s": "s",
    "action.s": "s", "action.jobs": "count",
    "sched.stages": "count", "sched.tasks": "count", "sched.tasks_failed": "count",
    "sched.gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_ratio": "1",
    "scan.input_bytes": "B", "scan.input_records": "count",
    "shuffle.read_bytes": "B", "shuffle.write_bytes": "B", "spill.bytes": "B",
    "sources.self_s": "s", "sources.calls": "count",
    "sink.output_bytes": "B", "sink.output_records": "count",
    "operators.self_s": "s", "operators.calls": "count",
    "functions.self_s": "s", "py.worker_cpu_s": "s",
    "cache.entries_left": "count", "cache.bytes_left": "B",
    "jvm.jit_compile_s": "s", "jvm.gc_s": "s", "jvm.cpu_s": "s",
    "jvm.rss_peak_mb": "MB", "py.driver_cpu_s": "s",
    "trace.pass_s": "s",
}
PEAK_METRICS = {"jvm.rss_peak_mb"}  # a pass reports its max, not its sum
SPAN_LAYERS = ("sources", "operators", "functions")  # wrapped packages


def pin_environment(run_dir: str) -> None:
    """Fix everything the engine reads from the environment, and keep every
    file the run writes under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(2, min(8, int(ram_gib * 0.3)))}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # Python workers import the engine (mapInPandas, UDFs).
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def timed_passes(workload: str, seconds: float) -> int:
    """Timed passes that fill about ``seconds``; the same on every run."""
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def oracle_rows(sf_dir: str, ops: list[str]) -> dict[str, list[str]]:
    """Sorted row reprs of each op's DuckDB oracle on the same inputs."""
    import duckdb
    from oeem_etl_spark.catalog import TABLES
    from oeem_etl_spark.plans import registry

    sqls = registry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        return {op: sorted(repr(tuple(r)) for r in con.sql(sqls[op]).fetchall())
                for op in ops}
    finally:
        con.close()


class Runner:
    """One Spark session and the records of every op run in it."""

    def __init__(self, sf_dir: str, tracer) -> None:
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.spark = None
        self.errors: list[str] = []
        self.counts: list[tuple[str, int, int]] = []  # (op, pass, rows)
        self.collected: dict[str, list[str]] = {}
        self.curve: list[dict] = []  # per pass: wall, JIT compile, steal

    def setup(self) -> dict:
        """Import, session and catalog: what every job pays before its
        first op. Returns the set-up timings."""
        t0 = time.perf_counter()
        if self.tracer is not None:
            probes.wrap_packages(self.tracer)
        from oeem_etl_spark import plans
        from oeem_etl_spark.catalog import TABLES, ensure_session_confs, load_table
        from oeem_etl_spark.plans import registry
        from oeem_etl_spark.session import get_session

        plans.load_all()
        self.fns = registry.queries()
        t1 = time.perf_counter()
        spark = self._call("session.get_session", get_session, "perfbench")
        self.spark = spark
        # bench.py's local-latency regime, after the set-once session confs.
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        t2 = time.perf_counter()
        for t in TABLES:
            self._call("catalog.load_table", load_table, spark, self.sf_dir, t).schema
        t3 = time.perf_counter()
        self.probe = probes.SparkProbe(spark)
        return {"setup_s": t3 - t0, "import_s": t1 - t0,
                "session.start_s": t2 - t1, "catalog.load_s": t3 - t2}

    def _call(self, name, fn, *a):
        if self.tracer is None:
            return fn(*a)
        return self.tracer.call(name, fn, *a)

    def run_op(self, op: str, pass_no: int, collect: bool = False) -> dict:
        """One op: build, then one action. Returns its record; an exception
        is recorded as a failure. Caches are reset afterwards, untimed."""
        spark, probe, tracer = self.spark, self.probe, self.tracer
        if probe.cache_state()[0]:
            raise RuntimeError(f"{op} would start with persisted RDDs")
        sc = spark.sparkContext
        group = f"pb-{pass_no}-{op}"
        rec = {"op": op, "pass": pass_no, "ok": False}
        if tracer is not None:
            tracer.op, tracer.pass_no = op, pass_no
            cpu0 = self._counters()
        epoch = time.time() - time.perf_counter()
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(group + "-build", op)
            df = self._call("plans.build", self.fns[op], spark, self.sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(group + "-action", op)
            if collect:
                rows = self._call("action.collect", df.collect)
                n = len(rows)
            else:
                n = self._call("action.count", df.count)
            t2 = time.perf_counter()
            if collect:
                self.collected[op] = sorted(repr(tuple(r)) for r in rows)
            self.counts.append((op, pass_no, n))
            rec.update(ok=True, build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            self.errors.append(f"pass {pass_no} {op}: {type(e).__name__}: "
                               f"{str(e)[:300]}")
        window = (t0 + epoch, time.perf_counter() + epoch)
        sc.setLocalProperty("spark.jobGroup.id", None)
        if tracer is not None:
            rec.update(self._layer_record(group, window, epoch, rec, cpu0))
        probe.reset_cache(spark)
        return rec

    def _counters(self) -> dict:
        p = self.probe
        t = os.times()
        return {"jvm.jit_compile_s": p.jit_s(), "jvm.gc_s": p.gc_s(),
                "jvm.cpu_s": p.jvm_cpu_s(), "py.worker_cpu_s": p.worker_cpu_s(),
                "py.driver_cpu_s": t.user + t.system}

    def _layer_record(self, group, window, epoch, rec, cpu0) -> dict:
        """Per-layer metrics of the op just run (traced runs only)."""
        p = self.probe
        p.drain()
        entries, size = p.cache_state()
        b = p.group_stats(group + "-build")
        a = p.group_stats(group + "-action")
        out = {k: v - cpu0[k] for k, v in self._counters().items()}
        wall = window[1] - window[0]
        out.update({
            "cache.entries_left": entries, "cache.bytes_left": size,
            "plans.build_s": rec.get("build_s", 0.0), "plans.build_jobs": b["jobs"],
            "action.s": rec.get("action_s", 0.0), "action.jobs": a["jobs"],
            "sched.gap_s": wall - stats.covered(
                window, b["stage_spans"] + a["stage_spans"]),
            "jvm.rss_peak_mb": p.jvm_rss_peak_mb(),
            "trace.pass_s": rec.get("wall_s", 0.0),
        })
        # Build time not covered by the jobs the build itself launched.
        build = next(s for s in reversed(self.tracer.spans)
                     if s.name == "plans.build" and s.op == rec["op"])
        out["plans.build_self_s"] = build.duration - stats.covered(
            (build.start + epoch, build.end + epoch), b["job_spans"])
        for key, src in (("sched.stages", "stages"), ("sched.tasks", "tasks"),
                         ("sched.tasks_failed", "tasks_failed"),
                         ("exec.run_s", "run_s"), ("exec.cpu_s", "cpu_s"),
                         ("exec.gc_s", "gc_s"), ("scan.input_bytes", "input_bytes"),
                         ("scan.input_records", "input_records"),
                         ("shuffle.read_bytes", "shuffle_read_bytes"),
                         ("shuffle.write_bytes", "shuffle_write_bytes"),
                         ("spill.bytes", "spill_bytes"),
                         ("sink.output_bytes", "output_bytes"),
                         ("sink.output_records", "output_records")):
            out[key] = b[src] + a[src]
        out["exec.busy_ratio"] = out["exec.run_s"] / (wall * p.cores)
        return out

    def run_pass(self, ops: list[str], pass_no: int, collect=False) -> list[dict]:
        jit0, steal0 = self.probe.jit_s(), probes.steal_s()
        t0 = time.perf_counter()
        recs = [self.run_op(op, pass_no, collect) for op in ops]
        self.curve.append({"pass": pass_no, "wall_s": time.perf_counter() - t0,
                           "jit_s": self.probe.jit_s() - jit0,
                           "steal_s": probes.steal_s() - steal0})
        return recs

    def check(self, expected: dict[str, list[str]]) -> None:
        """Compare the collected rows and every count with the oracle."""
        for op, want in expected.items():
            if op in self.collected and self.collected[op] != want:
                self.errors.append(f"pass 0 {op}: collected rows differ "
                                   "from the oracle")
        for op, pass_no, n in self.counts:
            if n != len(expected[op]):
                self.errors.append(f"pass {pass_no} {op}: {n} rows, "
                                   f"oracle has {len(expected[op])}")

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids = probes.descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 10
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def layer_metrics(setup: dict, timed: list[list[dict]], cores: int) -> dict:
    """Per-layer metrics: each op's record summed per pass (the peak for
    peak metrics), then the median over the timed passes."""
    out = {"session.start_s": setup["session.start_s"],
           "catalog.load_s": setup["catalog.load_s"]}
    per_pass: dict[str, list[float]] = {}
    for recs in timed:
        for name in PER_LAYER:
            vals = [r.get(name, 0.0) for r in recs]
            per_pass.setdefault(name, []).append(
                max(vals) if name in PEAK_METRICS else sum(vals))
        # Busy share of the pass's core time, not a sum of per-op shares.
        per_pass["exec.busy_ratio"][-1] = per_pass["exec.run_s"][-1] / (
            per_pass["trace.pass_s"][-1] * cores)
    for name, vals in per_pass.items():
        out.setdefault(name, stats.median(vals))
    return out


def span_metrics(tracer, passes: set[int]) -> dict[str, float]:
    """Self time and calls of the wrapped layers, summed per pass and
    medianed over ``passes``."""
    acc: dict[int, dict[str, float]] = {p: {} for p in passes}
    for span, self_s in zip(tracer.spans, stats.self_times(tracer.spans)):
        layer = span.name.split(".")[0]
        if span.pass_no not in acc or layer not in SPAN_LAYERS:
            continue
        d = acc[span.pass_no]
        d[f"{layer}.self_s"] = d.get(f"{layer}.self_s", 0.0) + self_s
        d[f"{layer}.calls"] = d.get(f"{layer}.calls", 0) + 1
    keys = [k for k in PER_LAYER if k.split(".")[0] in SPAN_LAYERS
            and k.split(".")[1] in ("self_s", "calls")]
    return {k: stats.median([acc[p].get(k, 0.0) for p in acc]) for k in keys}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="oeem_etl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "oeem_etl_spark")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run
    os.makedirs(run_dir)
    tracer = runner = None
    try:
        pin_environment(run_dir)
        sys.path.insert(0, ROOT)
        sf_dir = os.path.join(run_dir, "data")
        # In a child process, so that set-up imports its libraries cold.
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), sf_dir,
                        "--seed", str(DATA_SEED)],
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
        ops = WORKLOADS[args.workload]
        if args.trace:
            tracer = probes.Tracer()
        runner = Runner(sf_dir, tracer)
        setup = runner.setup()

        # The cold pass runs in the listed order, so that which op pays the
        # session's first-use costs does not change with the seed.
        cold = runner.run_pass(ops, 0, collect=True)
        rng = random.Random(args.seed)
        for i in range(WARMUP_PASSES):
            runner.run_pass(rng.sample(ops, len(ops)), 1 + i)
        first = 1 + WARMUP_PASSES
        timed = [runner.run_pass(rng.sample(ops, len(ops)), first + i)
                 for i in range(timed_passes(args.workload, args.seconds))]
        cores = runner.probe.cores
        runner.close()
        runner.check(oracle_rows(sf_dir, ops))
    finally:
        if runner is not None:
            runner.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(ops) * (first + len(timed))
    failed = len({e.split(":")[0] for e in runner.errors})
    op_walls = [r["wall_s"] for recs in timed for r in recs if r["ok"]]
    if args.trace:
        metrics = layer_metrics(setup, timed, cores)
        metrics.update(span_metrics(tracer, {recs[0]["pass"] for recs in timed}))
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup["setup_s"],
            "cold_pass_s": sum(r.get("wall_s", 0.0) for r in cold),
            "pass_s": stats.median(
                [sum(r.get("wall_s", 0.0) for r in recs) for recs in timed]),
            "op_p50_s": stats.median(op_walls) if op_walls else 0.0,
        }
        units = END_TO_END

    for row in runner.curve:
        print(f"pass {row['pass']:>2}  wall {row['wall_s']:.3f} s  "
              f"jit {row['jit_s']:.3f} s  steal {row['steal_s']:.2f} s")
    for k in ("import_s", "session.start_s", "catalog.load_s"):
        print(f"setup {k} = {setup[k]:.3f} s")
    for e in runner.errors:
        print("FAILED", e)
    for name, v in metrics.items():
        print(f"{name} = {v:.6g} {units[name]}")
    if op_walls:
        tail, q, n = stats.tail(op_walls)
        print(f"op_tail_s = {tail:.6g} s, the q={q:.3f} quantile of n={n} "
              "timed op samples")
    print(f"op_fail_ratio = {failed / attempted:.6g} ({failed} of {attempted})")
    if tracer is not None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                  "w") as f:
            json.dump({"spans": tracer.to_json(),
                       "ops": [r for recs in timed for r in recs],
                       "passes": runner.curve}, f)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
