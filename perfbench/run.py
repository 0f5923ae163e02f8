"""Closed-loop benchmark of the reference aggregates and the curation /
ingest pipeline.

    python3 perfbench/run.py --workload ref_aggs --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  One client in one process issues an
operation (one suite query, one ``curate_corpus`` call or one ingest
batch) only after the previous one's result has been collected.  Every
run starts a fresh JVM, warms it with an untimed pass, runs a fixed
schedule of timed passes, checks every result against its DuckDB oracle,
and prints the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``), ending with one JSON line.

Workloads (the seed drives query order and ingest batch assignment):

* ``ref_aggs`` -- the 20 reference-aggregate suite queries (``mode_*``,
  ``max_by_*``, ``min_by_*``, ``skewness_*``, ``kurtosis*``,
  ``lineitem_pricing_summary``) at sf0.1.  Fixed per-query costs dominate:
  build, plan and job scheduling are a large share of each query.
* ``pipeline_ingest`` -- passes of one ``curate_corpus`` call over the
  sf0.1 documents into a fresh output directory, then
  ``ingest_dedup_batch`` over seeded batches of the same documents into a
  fresh stage and sink.  The only workload that writes parquet,
  checkpoints leaves and runs MinHash-LSH.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

from helpers import (  # noqa: E402
    assign_batches,
    geomean_of_medians,
    result_hash,
    self_times,
    tail_percentile,
)

REF_AGG_QUERIES = (
    "skewness_extendedprice_global",
    "skewness_by_returnflag",
    "kurtosis_totalprice_global",
    "kurtosis_events_by_type",
    "kurtosis_pop_quantity_global",
    "kurtosis_pop_by_linestatus",
    "lineitem_pricing_summary",
    "mode_returnflag_global",
    "mode_mktsegment_by_nation",
    "mode_linenumber_by_returnflag",
    "mode_quantity_global",
    "mode_shipdate_by_linestatus",
    "mode_orderdate_by_priority",
    "mode_events_value_global",
    "mode_events_ts_by_type",
    "max_by_customer_global",
    "min_by_supplier_global",
    "max_by_orders_by_priority",
    "min_by_lineitem_by_returnflag",
    "max_by_part_by_brand",
)

#: the benchmark slice the ``corpus_curation_funnel`` oracle screens
#: against; the rest of the documents are the training corpus
BENCH_PRED = "source IN ('src0', 'src1')"
FUNNEL_ORACLE = "corpus_curation_funnel"
INGEST_BATCHES = 5
#: the first warm-up batch creates the stage, the second probes it
WARM_BATCHES = 2

#: seconds one timed pass takes on a 4-core host; ``--seconds`` buys
#: round(seconds / pass) passes, at least two, so every run does the same
#: work whatever the program's speed
PASS_SECONDS = {"ref_aggs": 10.0, "pipeline_ingest": 16.0}
MIN_PASSES = 2

E2E_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_geomean_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

#: per-layer metric -> (unit, the end-to-end metric and workload it should move)
LAYER_METRICS = {
    "sources.session_start_s": ("s", "setup_s, all workloads"),
    "sources.load_table_calls": ("count", "op_p50_s on ref_aggs"),
    "sources.load_table_s": ("s", "op_p50_s on ref_aggs"),
    "suite.build_s": ("s", "op_geomean_s on ref_aggs"),
    "functions.py4j_calls": ("count", "op_geomean_s on ref_aggs"),
    "suite.build_jobs": ("count", "op_geomean_s on ref_aggs"),
    "catalyst.plan_s": ("s", "op_p50_s on ref_aggs"),
    "catalyst.plan_nodes": ("count", "op_p50_s on ref_aggs"),
    "catalyst.exchanges": ("count", "op_p50_s on ref_aggs"),
    "exec.collect_s": ("s", "op_p50_s on ref_aggs; run_s on pipeline_ingest"),
    "exec.jobs": ("count", "op_p50_s on ref_aggs; run_s on pipeline_ingest"),
    "exec.stages": ("count", "op_p50_s on ref_aggs; run_s on pipeline_ingest"),
    "exec.tasks": ("count", "op_p50_s on ref_aggs; run_s on pipeline_ingest"),
    "exec.shuffle_bytes": ("bytes", "run_s and rows_per_s on ref_aggs"),
    "exec.spill_bytes": ("bytes", "run_s and rows_per_s on ref_aggs"),
    "exec.peak_memory_bytes": ("bytes", "run_s and rows_per_s on ref_aggs"),
    "exec.output_rows": ("count", "run_s and rows_per_s on ref_aggs"),
    "exec.gc_s": ("s", "op_tail_s (printed, not gated) on ref_aggs; run_s on pipeline_ingest"),
    "cache.checkpoint_calls": ("count", "run_s on pipeline_ingest; zero on ref_aggs"),
    "cache.checkpoint_s": ("s", "run_s on pipeline_ingest; zero on ref_aggs"),
    "cache.released": ("count", "run_s on pipeline_ingest; zero on ref_aggs"),
    "pipeline.curate_s": ("s", "run_s on pipeline_ingest"),
    "pipeline.write_calls": ("count", "run_s on pipeline_ingest"),
    "pipeline.write_s": ("s", "run_s on pipeline_ingest"),
    "pipeline.bytes_written": ("bytes", "run_s on pipeline_ingest"),
    "streaming.batch_s": ("s", "run_s and op_p50_s on pipeline_ingest"),
    "streaming.stage_rows": ("count", "run_s and op_p50_s on pipeline_ingest"),
    "streaming.kept_ratio": ("ratio", "run_s and op_p50_s on pipeline_ingest"),
    "duckdb.oracle_s": ("s", "none (reference line)"),
    **{
        f"selftime.{layer}_s": ("s", "the workload's run_s")
        for layer in ("sources", "build", "catalyst", "exec", "cache", "pipeline", "streaming")
    },
    "trace.untraced_run_s": ("s", "none (overhead base)"),
    "trace.traced_run_s": ("s", "none (overhead base)"),
    "trace.overhead_s": ("s", "none (traced minus untraced run_s)"),
}


def log(msg: str) -> None:
    print(msg, flush=True)


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm() -> None:
    """Restart this process's VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def oracle_hashes(sf_dir: str, names, tmp: str) -> dict[str, str]:
    """Result hash of each oracle in ``names``, evaluated in DuckDB over
    the parquet files in ``sf_dir``."""
    import duckdb

    from datafusion_functions_extra_spark import suite
    from datafusion_functions_extra_spark.sources import catalog

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        for t in catalog.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            cur = con.execute(suite.ORACLES[name])
            out[name] = result_hash([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    return out


#: a child Python that prints the oracle hashes as one JSON line; argv is
#: the benchmark directory, the repo root, then oracle_hashes' arguments
ORACLE_CHILD = (
    "import json, sys; sys.path[:0] = sys.argv[1:3]; from run import oracle_hashes; "
    "print(json.dumps(oracle_hashes(sys.argv[3], [sys.argv[4]], sys.argv[5])))"
)

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (the
    launcher's subshells, PySpark's Python workers), so that
    ``reap_children`` can wait for every process the run started."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap_children(grace: float = 10.0) -> None:
    """Wait until no child of this process is left, adopted orphans
    included; after ``grace`` seconds send SIGTERM to those still running,
    and SIGKILL five seconds later."""
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def pin_environment(work: str) -> None:
    """Fresh-JVM settings sized to the host, with every scratch file of
    Spark, the JVM and Python kept under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # a quarter of physical memory, at most 2g: sf0.1 fits with room,
        # and a heap the run fills keeps the JVM's peak RSS from varying
        # with when G1 chooses to grow it (4g gave 1.9-2.8 GB run to run)
        SPARK_GRAFT_DRIVER_MEM=f"{min(2048, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    )
    time.tzset()


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.input_rows = 0
        self.rows_by_op: dict[str, int] = {}
        self.pass_wall: list[tuple[bool, float]] = []
        self.layer: dict[str, float] = dict.fromkeys(LAYER_METRICS, 0)
        self.per_op: list[dict] = []
        self.tracer = None
        self.inst = None
        self.spark = None
        self.datagen_s = 0.0
        self.tmp = os.path.join(work, "tmp")

    # -- set-up -----------------------------------------------------------

    def start(self) -> None:
        from datafusion_functions_extra_spark import suite
        from datafusion_functions_extra_spark.cache import release_all
        from datafusion_functions_extra_spark.pipeline import curate_corpus
        from datafusion_functions_extra_spark.sources import catalog
        from datafusion_functions_extra_spark.streaming.ingest import ingest_dedup_batch

        self.suite, self.catalog = suite, catalog
        self.release_all = release_all
        self.curate_corpus = curate_corpus
        self.ingest_dedup_batch = ingest_dedup_batch
        self.target = catalog.sf_dir()

        if self.args.workload == "pipeline_ingest":
            t0 = time.perf_counter()
            self.prepare_pipeline()
            self.datagen_s = time.perf_counter() - t0

        # the Python side of peak_rss_mb starts here, after the benchmark's
        # own data generation
        reset_hwm()
        t0 = time.perf_counter()
        self.spark = catalog.get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["sources.session_start_s"] = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        if self.trace:
            from tracing import Instrumentation, Tracer

            self.tracer = Tracer()
            self.inst = Instrumentation(
                self.tracer, self.spark, {"catalog": catalog, "suite": suite}
            )

    def stop(self) -> None:
        if self.inst is not None:
            self.inst.close()
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def between_ops(self) -> int:
        """Drop the finished operation's cached blocks and collect the JVM's
        garbage, as bench.py does, so one operation's leftovers are not paid
        for inside the next one's latency."""
        released = self.release_all()
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        return released

    def passes(self) -> int:
        return max(MIN_PASSES, round(self.args.seconds / PASS_SECONDS[self.args.workload]))

    def timed_passes(self, run_pass) -> None:
        """Run ``run_pass(p, traced)`` for every pass and record each pass's
        wall time; a traced run traces every other pass, so its untraced
        passes give the overhead base.  The peak RSS is read as soon as the
        schedule ends, before any oracle runs."""
        ticks0 = cpu_ticks()
        for p in range(self.passes()):
            traced = self.trace and p % 2 == 0
            t0 = time.perf_counter()
            run_pass(p, traced)
            self.pass_wall.append((traced, time.perf_counter() - t0))
        self.peak_rss_parts = (vm_hwm_mb("self"), vm_hwm_mb(self.jvm_pid))
        self.peak_rss_mb = sum(self.peak_rss_parts)
        # CPU time the hypervisor gave to other guests (field 8 of the cpu
        # line); a high share means the host, not the program, slowed the run
        delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
        self.steal_share = delta[7] / sum(delta[:8])

    # -- one timed operation ------------------------------------------------

    def run_op(self, key: str, kind: str, traced: bool, fn) -> object:
        """Time ``fn(span_or_None)``; a failure is counted, not raised.
        Latencies are kept only for untraced operations."""
        self.attempted += 1
        group = f"op{self.attempted}"
        if traced:
            self.spark.sparkContext.setJobGroup(group, key)
            gc0 = self.inst.gc_seconds()
        t0 = time.perf_counter()
        try:
            if traced:
                layer = {"query": "bench", "curate": "pipeline", "ingest": "streaming"}[kind]
                with self.tracer.span(key, layer, op=group) as span:
                    out = fn(span)
            else:
                out = fn(None)
        except Exception as e:  # noqa: BLE001 -- one failed operation must not end the run
            self.failed += 1
            log(f"FAIL {key}: {type(e).__name__}: {e}")
            out = None
        else:
            if not traced:
                self.samples.setdefault(key, []).append(time.perf_counter() - t0)
                self.input_rows += self.rows_by_op[key]
        if traced:
            counts = self.inst.job_counts(group)
            span["gc_s"] = self.inst.gc_seconds() - gc0
            span.update(counts)
            self.per_op.append(span)
        return out

    # -- ref_aggs -------------------------------------------------------------

    def query(self, name: str, sf_dir: str, span):
        if span is None:
            df = self.suite.QUERIES[name](self.spark, sf_dir)
            return df, df.collect()
        tr = self.tracer
        with tr.span("build", "build"):
            df = self.suite.QUERIES[name](self.spark, sf_dir)
        span["build_jobs"] = self.inst.job_counts(span["op"])["jobs"]
        with tr.span("plan", "catalyst"):
            span.update(self.inst.plan_shape(df._jdf))
        with tr.span("collect", "exec"):
            rows = df.collect()
        span.update(self.inst.final_plan_metrics(df._jdf))
        return df, rows

    def ref_aggs(self) -> None:
        import pyarrow.parquet as pq

        # one untimed pass at the target input compiles every query's code
        # and JIT-warms the JVM; it also records which tables each query
        # loads, for rows_per_s's input row count
        tables: dict[str, set[str]] = {}
        current = None
        owners = (self.suite, self.catalog)
        origs = [o.load_table for o in owners]

        def recorder(orig):
            def load_table(spark, sf_dir, name):
                tables.setdefault(current, set()).add(name)
                return orig(spark, sf_dir, name)
            return load_table

        for o, orig in zip(owners, origs):
            o.load_table = recorder(orig)
        try:
            for current in REF_AGG_QUERIES:
                self.query(current, self.target, None)
                self.between_ops()
        finally:
            for o, orig in zip(owners, origs):
                o.load_table = orig
        used = set().union(*tables.values())
        rows = {
            t: pq.ParquetFile(os.path.join(self.target, f"{t}.parquet")).metadata.num_rows
            for t in used
        }
        self.rows_by_op = {q: sum(rows[t] for t in tables[q]) for q in REF_AGG_QUERIES}
        self.setup_s = process_age() - self.datagen_s

        results: dict[str, list] = {}

        def run_pass(p, traced):
            order = list(REF_AGG_QUERIES)
            random.Random(f"{self.args.seed}:{p}").shuffle(order)
            for name in order:
                out = self.run_op(name, "query", traced, lambda s, n=name: self.query(n, self.target, s))
                if out is not None:
                    df, got = out
                    results.setdefault(name, []).append((df.columns, got))
                released = self.between_ops()
                if traced:
                    self.layer["cache.released"] += released

        self.timed_passes(run_pass)

        t0 = time.perf_counter()
        oracle = oracle_hashes(self.target, REF_AGG_QUERIES, self.tmp)
        self.layer["duckdb.oracle_s"] = time.perf_counter() - t0
        for name, outs in results.items():
            for cols, got in outs:
                if result_hash(cols, [tuple(r) for r in got]) != oracle[name]:
                    self.failed += 1
                    log(f"WRONG {name}: result differs from its DuckDB oracle")
        self.stated_rows = f"{sum(self.rows_by_op.values())} input rows per pass of {len(REF_AGG_QUERIES)} queries"

    # -- pipeline_ingest ------------------------------------------------------

    def write_batches(self) -> list[str]:
        """One parquet file of documents per seeded ingest batch."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.target, "documents.parquet"))
        paths = []
        for b, ids in enumerate(assign_batches(docs["doc_id"].to_pylist(), INGEST_BATCHES, self.args.seed)):
            path = os.path.join(self.work, f"batch{b}.parquet")
            pq.write_table(docs.filter(pc.is_in(docs["doc_id"], pa.array(ids))), path)
            self.rows_by_op[f"ingest_batch{b}"] = len(ids)
            paths.append(path)
        return paths

    def curate(self, sf_dir: str, out_dir: str, span):
        from pyspark.sql import functions as F

        docs = self.catalog.load_table(self.spark, sf_dir, "documents")
        report = self.curate_corpus(
            self.spark, docs.where(~F.expr(BENCH_PRED)), docs.where(F.expr(BENCH_PRED)), out_dir
        )
        if span is None:
            return report, report.collect()
        with self.tracer.span("collect", "exec"):
            return report, report.collect()

    def ingest(self, batch: str, stage: str, sink: str) -> None:
        self.ingest_dedup_batch(self.spark.read.parquet(batch), stage_path=stage, out_path=sink)

    def prepare_pipeline(self) -> None:
        """Data generation of pipeline_ingest, before the session starts:
        the seeded batch files and the funnel oracle's hash."""
        self.batches = self.write_batches()
        self.funnel_oracle = self.cached_oracle(FUNNEL_ORACLE)

    def pipeline_ingest(self) -> None:
        import pyarrow.parquet as pq

        batches = self.batches
        n_docs = pq.ParquetFile(os.path.join(self.target, "documents.parquet")).metadata.num_rows
        self.rows_by_op["curate"] = n_docs

        # untimed warm-up at the target input: one curate call and the first
        # WARM_BATCHES ingest batches, into directories no timed pass uses
        self.curate(self.target, os.path.join(self.work, "warm-curate"), None)
        self.between_ops()
        for b in batches[:WARM_BATCHES]:
            self.ingest(b, os.path.join(self.work, "warm-stage"), os.path.join(self.work, "warm-sink"))
            self.between_ops()
        self.setup_s = process_age() - self.datagen_s

        reports, kept, sinks = [], [], []

        def run_pass(p, traced):
            out_dir = os.path.join(self.work, f"pass{p}-curate")
            stage = os.path.join(self.work, f"pass{p}-stage")
            sink = os.path.join(self.work, f"pass{p}-sink")
            got = self.run_op("curate", "curate", traced, lambda s: self.curate(self.target, out_dir, s))
            if got is not None:
                reports.append((got[0].columns, got[1]))
            released = self.between_ops()
            ok_batches = 0
            for b, path in enumerate(batches):
                failed = self.failed
                self.run_op(f"ingest_batch{b}", "ingest", traced, lambda s, x=path: self.ingest(x, stage, sink))
                ok_batches += self.failed == failed
                released += self.between_ops()
            sinks.append((traced, stage, sink, ok_batches))
            if traced:
                self.layer["cache.released"] += released

        self.timed_passes(run_pass)

        for p, (traced, stage, sink, ok_batches) in enumerate(sinks):
            ids = pq.read_table(sink, columns=["doc_id"])["doc_id"].to_pylist()
            if len(ids) != len(set(ids)) or (kept and len(ids) != kept[0]):
                self.failed += ok_batches
                log(f"WRONG ingest pass {p}: {len(ids)} kept, {len(set(ids))} distinct, pass 0 kept {kept[:1]}")
            kept.append(len(ids))
            if traced:
                self.layer["streaming.stage_rows"] = pq.read_table(stage, columns=["doc_id"]).num_rows
                self.layer["streaming.kept_ratio"] = len(ids) / n_docs
        self.layer["duckdb.oracle_s"] = self.funnel_oracle["seconds"]
        for cols, got in reports:
            if result_hash(cols, [tuple(r) for r in got]) != self.funnel_oracle["hash"]:
                self.failed += 1
                log("WRONG curate_corpus: funnel report differs from its DuckDB oracle")
        log(f"ingest kept per pass: {kept}")
        self.stated_rows = (
            f"{n_docs} documents per pass, each curated once and ingested in {INGEST_BATCHES} batches"
        )

    def cached_oracle(self, name: str) -> dict:
        """``{"hash", "seconds"}`` of oracle ``name`` over the target input,
        evaluated in DuckDB once per checkout: the funnel oracle replays the
        whole MinHash pipeline in SQL (about 45 s at sf0.1 on a 4-core
        host), longer than a run.  It runs in a child process, so its
        memory stays out of peak_rss_mb.  Keyed on the oracle text and the
        input file's size and mtime."""
        import hashlib
        import subprocess

        st = os.stat(os.path.join(self.target, "documents.parquet"))
        key = hashlib.sha256(
            f"{self.suite.ORACLES[name]}|{self.target}|{st.st_size}|{st.st_mtime_ns}".encode()
        ).hexdigest()[:24]
        path = os.path.join(WORK, f"oracle-{name}-{key}.json")
        if not os.path.exists(path):
            t0 = time.perf_counter()
            child = subprocess.run(
                [sys.executable, "-c", ORACLE_CHILD, HERE, ROOT, self.target, name, self.tmp],
                stdout=subprocess.PIPE, text=True, check=True,
            )
            h = json.loads(child.stdout.splitlines()[-1])[name]
            with open(path + ".tmp", "w") as f:
                json.dump({"hash": h, "seconds": time.perf_counter() - t0}, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return json.load(f)

    # -- metrics ----------------------------------------------------------------

    def e2e_metrics(self) -> dict[str, float]:
        flat = [x for v in self.samples.values() for x in v]
        run_s = sum(w for traced, w in self.pass_wall if not traced)
        try:
            p, tail, beyond = tail_percentile(flat)
            self.tail_line = f"op_tail_s {tail:.6g} s  (p{p} with {beyond} of {len(flat)} samples beyond it)"
        except ValueError as e:
            self.tail_line = f"op_tail_s n/a  ({e})"
        return {
            "setup_s": self.setup_s,
            "run_s": run_s,
            "op_p50_s": statistics.median(flat),
            "op_geomean_s": geomean_of_medians(self.samples),
            "rows_per_s": self.input_rows / run_s,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def layer_metrics(self) -> dict[str, float]:
        m = self.layer
        spans = self.tracer.spans
        st = self_times(spans)
        for s in spans:
            m[f"selftime.{s['layer']}_s"] = m.get(f"selftime.{s['layer']}_s", 0.0) + st[s["id"]]
            dur = s["end"] - s["start"]
            name = s["name"]
            if name == "load_table":
                m["sources.load_table_calls"] += 1
                m["sources.load_table_s"] += dur
            elif name == "build":
                m["suite.build_s"] += dur
                m["functions.py4j_calls"] += s["py4j"]
            elif name == "plan":
                m["catalyst.plan_s"] += dur
            elif name in ("collect", "count"):
                m["exec.collect_s"] += dur
            elif name == "checkpoint":
                m["cache.checkpoint_calls"] += 1
                m["cache.checkpoint_s"] += dur
            elif name == "write":
                m["pipeline.write_calls"] += 1
                m["pipeline.write_s"] += dur
                m["pipeline.bytes_written"] += s.get("bytes", 0)
        for s in self.per_op:
            dur = s["end"] - s["start"]
            if s["layer"] == "pipeline":
                m["pipeline.curate_s"] += dur
            elif s["layer"] == "streaming":
                m["streaming.batch_s"] += dur
            for key in ("jobs", "stages", "tasks"):
                m[f"exec.{key}"] += s[key]
            m["exec.gc_s"] += s["gc_s"]
            m["suite.build_jobs"] += s.get("build_jobs", 0)
            m["catalyst.plan_nodes"] += s.get("plan_nodes", 0)
            m["catalyst.exchanges"] += s.get("exchanges", 0)
            for key in ("shuffle_bytes", "spill_bytes", "peak_memory_bytes", "output_rows"):
                m[f"exec.{key}"] += s.get(key, 0)
        n = len(self.pass_wall)
        traced = [w for t, w in self.pass_wall if t]
        plain = [w for t, w in self.pass_wall if not t]
        m["trace.traced_run_s"] = statistics.mean(traced) * n
        m["trace.untraced_run_s"] = statistics.mean(plain) * n
        m["trace.overhead_s"] = m["trace.traced_run_s"] - m["trace.untraced_run_s"]
        return {k: m[k] for k in LAYER_METRICS}

    def report_ops(self) -> None:
        cols = ("jobs", "stages", "tasks", "build_jobs", "plan_nodes", "exchanges",
                "shuffle_bytes", "spill_bytes", "peak_memory_bytes", "output_rows")
        log("per-operation trace (traced passes):")
        log("  op | wall_s py4j gc_s | " + " ".join(cols))
        for s in self.per_op:
            kids = {c["name"]: c for c in self.tracer.spans if c["parent"] == s["id"]}
            parts = [f"{k}_s={kids[k]['end'] - kids[k]['start']:.4f}" for k in ("build", "plan", "collect") if k in kids]
            log(
                f"  {s['name']} | {s['end'] - s['start']:.4f} {s['py4j']} {s['gc_s']:.3f} | "
                + " ".join(str(s.get(c, "-")) for c in cols)
                + (" | " + " ".join(parts) if parts else "")
            )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    sys.path.insert(0, ROOT)
    bench = Bench(args, work)
    try:
        bench.start()
        getattr(bench, args.workload)()
    finally:
        try:
            bench.stop()
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)

    e2e = bench.e2e_metrics()
    log(f"workload {args.workload}, seed {args.seed}, {len(bench.pass_wall)} passes, "
        f"{bench.attempted} operations, closed loop with one client")
    log(f"datagen_s {bench.datagen_s:.4f} s (pipeline_ingest's batch files, and its funnel oracle "
        "on a checkout's first run; not in setup_s)")
    log(f"pass wall s: {' '.join(f'{w:.3f}' for _, w in bench.pass_wall)}; "
        f"host CPU steal during them: {100 * bench.steal_share:.1f}%")
    log(f"input: {bench.stated_rows}")
    log("peak RSS: Python %.1f MB + driver JVM %.1f MB" % bench.peak_rss_parts)
    for k, v in e2e.items():
        log(f"{k} {v:.6g} {E2E_UNITS[k]}")
    log(bench.tail_line)
    log("median s per operation: " + " ".join(
        f"{k}={statistics.median(v):.4f}" for k, v in sorted(bench.samples.items(), key=lambda kv: statistics.median(kv[1]))
    ))
    log(f"error_rate {bench.failed / bench.attempted:.6g}  ({bench.failed} of {bench.attempted} operations)")
    if args.trace:
        layers = bench.layer_metrics()
        bench.report_ops()
        log("per-layer metrics (traced passes), each with what it should move:")
        for k, v in layers.items():
            unit, moves = LAYER_METRICS[k]
            log(f"  {k} {v:.6g} {unit}  -> {moves}")
        log(f"tracing overhead: traced run_s {layers['trace.traced_run_s']:.4f} s - untraced run_s "
            f"{layers['trace.untraced_run_s']:.4f} s = {layers['trace.overhead_s']:.4f} s")
        spans_path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        bench.tracer.write(spans_path)
        log(f"spans: {os.path.relpath(spans_path, ROOT)}")
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
