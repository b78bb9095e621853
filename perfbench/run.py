#!/usr/bin/env python3
"""Layer-traced benchmark of the engine: one closed-loop client (a single
driver thread issues one operation after another) over a workload's
passes, then a check of every operation's output.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/_work``; nothing outside the checkout is read or written.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layer boundaries and reports the per-layer metrics. The last line of
stdout is the result JSON; the lines before it are a host/config header
and a human-readable listing. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "custom_python_etl_data_connector_keerthana2k4_tech_spark"
WORKLOADS = ("query_mix", "etl_upsert")

#: fixture scale of the query workloads (lineitem rows = 6M x SF)
SF = 0.001
#: a run stops starting passes after this many seconds, to end within 180 s
HARD_STOP_S = 140.0
MIN_WARM_PASSES = 2
#: nominal warm-pass time of each workload on a four-core host. A run has
#: round(--seconds / it) warm passes: a fixed number, so every run does the
#: same work whatever the program's speed (the etl_upsert target grows with
#: every batch, so a window that a faster program fills with more passes
#: would give it more work per pass)
WARM_PASS_S = {"query_mix": 5.0, "etl_upsert": 7.5}
#: traced runs order their warm passes in blocks of untraced, traced,
#: traced, untraced, after one untraced lead-in pass (the first warm pass
#: is still markedly slower than the next), so trace.overhead_s is not
#: confounded with warm passes speeding up from one to the next
TRACE_BLOCK = (False, True, True, False)

E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_p90_s": "s", "records_per_s": "1/s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s", "registry.import_s": "s", "warmup_s": "s",
    "tables.load_calls": "count", "tables.load_s": "s",
    "plans.construct_s": "s", "plans.construct_jobs": "count",
    "cache.materialize_hits": "count", "cache.materialize_misses": "count",
    "cache.store_builds": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "python.eval_nodes": "count", "python.bytes_sent": "B", "python.bytes_returned": "B",
    "python.worker_start_s": "s", "python.run_s": "s",
    "sources.requests": "count", "sources.retries": "count", "sources.fetch_amplification": "ratio",
    "pipeline.records_seen": "count", "pipeline.records_valid": "count",
    "pipeline.records_invalid": "count",
    "upsert.s": "s", "upsert.bytes_written": "B", "upsert.write_amplification": "ratio",
    "stores.build_s": "s", "stores.upsert_s": "s", "stores.delete_s": "s",
    "stores.compact_s": "s", "stores.read_s": "s", "stores.bytes_written": "B",
    "concurrency.run_jobs_s": "s", "concurrency.overlap": "ratio",
    "self.plans_s": "s", "self.tables_s": "s", "self.caches_s": "s", "self.stores_s": "s",
    "self.concurrency_s": "s", "self.exec_s": "s", "self.pipeline_s": "s",
    "self.sources_s": "s", "self.upsert_s": "s",
    "trace.spans": "count", "trace.collect_s": "s", "trace.overhead_s": "s",
}
#: per-layer values taken from the cold pass: they read 0 once the caches are
#: warm (the shared store's build writes, and runs its legs under run_jobs)
COLD_ONLY = ("cache.materialize_misses", "cache.store_builds", "stores.build_s",
             "stores.bytes_written", "concurrency.run_jobs_s", "concurrency.thunk_s",
             "self.concurrency_s")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny ETL batches and one warm pass, for the self-test")
    p.add_argument("--perturb", default=None,
                   help="deliberately alter this query's expected result (checker self-test)")
    return p.parse_args(argv)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def source_digest() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PKG)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.traced = bool(args.trace)
        self.work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.out_dir = os.path.join(HERE, "_out")
        for sub in ("tmp", "local", "data"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        self.cpus = len(os.sched_getaffinity(0))
        # a small explicit heap: the package's 16g default does not fit a
        # 15 GB host, and a small heap keeps the JVM's peak RSS repeatable
        self.heap_mb = min(1024, max(512, mem_total_mb() // 4 // 256 * 256))
        tmp = os.path.join(self.work, "tmp")
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{self.heap_mb}m",
            # every JVM started (spark-submit's launcher too) keeps its
            # scratch files inside the work directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        self.t_inputs = 0.0  # benchmark-side input generation, not part of setup_s
        self.layer = defaultdict(lambda: defaultdict(float))  # pass -> metric -> value
        self.results = defaultdict(list)
        self.op_log: list[dict] = []  # {pass, op, s, failed, rows, aside_s}
        self.pass_s: dict[int, float] = {}
        self.failures: dict[str, str] = {}
        self.spark = None
        self.stub = None

    # -- set-up ------------------------------------------------------------

    def setup(self):
        t = time.perf_counter()
        import datagen

        self.data_dir = datagen.write_tables(self.args.seed, SF, os.path.join(self.work, "data"))
        self.t_inputs += time.perf_counter() - t

        t = time.perf_counter()
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.session_s = time.perf_counter() - t

        t = time.perf_counter()
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry

        self.qs = registry.queries()
        self.oracles = registry.oracle_sql()
        self.registry_s = time.perf_counter() - t

        if self.traced:
            import tracing

            self.tracer = tracing.Tracer()
            tracing.install(self.tracer)
            self.probe = tracing.SparkProbe(self.spark)

        t = time.perf_counter()
        self._warmup()
        self.warmup_s = time.perf_counter() - t

        import workloads

        t = time.perf_counter()
        if self.workload == "etl_upsert":
            import reststub

            kw = {"per_page": 20, "pages": 3, "batches": 2} if self.args.smoke else {}
            self.wl = workloads.EtlWorkload(self.args.seed, **kw)
            self.stub = reststub.PageStub(self.args.seed)
            self.target = os.path.join(self.work, "etl", "pulses")
            self.snapshots: list = []
        else:
            import pyarrow.parquet as pq

            self.wl = workloads.QueryWorkload(self.args.seed)
            rows = {t: pq.ParquetFile(os.path.join(self.data_dir, f"{t}.parquet")).metadata.num_rows
                    for t in datagen.TABLES}
            self.input_rows = {q: sum(rows[t] for t in ts) for q, ts in workloads.READS.items()}
        self.t_inputs += time.perf_counter() - t

    def _warmup(self):
        """JVM, codegen and Python workers, on data no workload reads."""
        from pyspark.sql import functions as F

        df = self.spark.range(20_000).select((F.col("id") % 97).alias("k"), F.col("id"))
        df.groupBy("k").agg(F.sum("id")).toPandas()
        self.spark.range(64).mapInPandas(lambda it: it, schema="id long").toPandas()

    # -- operations --------------------------------------------------------

    def run(self):
        self.setup()
        self.setup_s = time.perf_counter() - T_START - self.t_inputs
        self._run_pass(0)  # the cold pass
        if self.args.smoke:
            n_warm = 2 if self.traced else 1
        else:
            n_warm = max(MIN_WARM_PASSES, round(self.args.seconds / WARM_PASS_S[self.workload]))
            if self.traced:  # whole blocks
                n_warm = -(-n_warm // len(TRACE_BLOCK)) * len(TRACE_BLOCK)
        if self.traced:
            n_warm += 1  # the lead-in
        for pass_no in range(1, n_warm + 1):
            if pass_no > MIN_WARM_PASSES and time.perf_counter() - T_START > HARD_STOP_S:
                break
            self._run_pass(pass_no)
        self.peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self._jvm_pid())
        self._check()

    def _pass_traced(self, pass_no: int) -> bool:
        # the cold pass, and the middle two of each block of four warm
        # passes after the lead-in: the others measure the overhead
        if not self.traced:
            return False
        if pass_no <= 1:
            return pass_no == 0
        return TRACE_BLOCK[(pass_no - 2) % len(TRACE_BLOCK)]

    def _run_pass(self, pass_no: int):
        ops = self.wl.pass_ops(pass_no)
        prepared = {}
        if self.workload == "etl_upsert":
            for k in ops:  # inputs are generated before the pass, outside its time
                run_ts, pages = self.wl.make_batch(k)
                self.stub.publish(k, pages)
                prepared[k] = (run_ts, len(pages))
        traced = self._pass_traced(pass_no)
        if self.traced:
            self.tracer.enabled = traced
        t0 = time.perf_counter()
        for op in ops:
            if self.workload == "etl_upsert":
                self._etl_op(pass_no, op, *prepared[op], traced)
            else:
                self._query_op(pass_no, op, traced)
        # snapshots for the checks and the traced run's metric collection
        # happen between operations and are not part of the pass
        self.pass_s[pass_no] = time.perf_counter() - t0 - sum(
            o["aside_s"] for o in self.op_log if o["pass"] == pass_no)
        if self.traced:
            self.tracer.enabled = False

    def _begin_op(self, pass_no, label, traced):
        if not traced:
            return None
        tr = self.tracer
        t = time.perf_counter()
        # executions of earlier operations, untraced ones included, are
        # not this operation's
        self.probe.skip_executions()
        self.layer[pass_no]["trace.collect_s"] += time.perf_counter() - t
        self._skip_s = time.perf_counter() - t
        tr.op = f"p{pass_no}:{label}"
        tr.counts.clear()
        return tr.begin("bench", f"op {label}")

    def _query_op(self, pass_no: int, name: str, traced: bool):
        root = self._begin_op(pass_no, name, traced)
        gid = f"pb-{pass_no}-{name}"
        failed = False
        t0 = time.perf_counter()
        try:
            if traced:
                self.probe.set_group(gid + "-c")
                span = self.tracer.begin("plans", "plans.construct")
            df = self.qs[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            if traced:
                self.tracer.end(span)
                self.probe.set_group(gid + "-x")
                span = self.tracer.begin("exec", "exec.collect")
            out = df.toPandas()
            if traced:
                self.tracer.end(span)
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            out, failed, t1 = f"{type(e).__name__}: {e}"[:300], True, time.perf_counter()
        t2 = time.perf_counter()
        self.results[name].append(out)
        op = {"pass": pass_no, "op": name, "s": t2 - t0, "failed": failed,
              "rows": 0 if failed else self.input_rows[name], "aside_s": 0.0}
        self.op_log.append(op)
        if traced:
            import tracing

            self.tracer.end(root)
            self.probe.clear_group()
            m = self.layer[pass_no]
            m["plans.construct_s"] += t1 - t0
            m["plans.construct_jobs"] += len(self.probe.jobs(gid + "-c"))
            if not failed:
                for k, v in tracing.catalyst_phases(df).items():
                    m[k] += v
            self._collect_layers(pass_no, [gid + "-c", gid + "-x"])
            collect_s = time.perf_counter() - t2
            m["trace.collect_s"] += collect_s
            op["aside_s"] = collect_s + self._skip_s

    def _etl_op(self, pass_no: int, index: int, run_ts, n_pages: int, traced: bool):
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import run_batch
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import pulses_df

        label = f"batch{index}"
        root = self._begin_op(pass_no, label, traced)
        gid = f"pb-{pass_no}-{label}"
        if traced:
            self.probe.set_group(gid)
        ok0, refused0 = self.stub.counts()
        failed = False
        t0 = time.perf_counter()
        try:
            raw = pulses_df(
                self.spark, self.stub.base_url(index), RAW_PULSE_SCHEMA,
                api_key="perfbench", per_page=str(self.wl.per_page),
                max_pages=str(n_pages), backoff_initial_s="0",
            )
            out = run_batch(self.spark, raw, PipelineConfig(api_key="perfbench"),
                            self.target, run_ts=run_ts)
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            out, failed = f"{type(e).__name__}: {e}"[:300], True
        t1 = time.perf_counter()
        ok1, refused1 = self.stub.counts()
        if traced:
            self.tracer.end(root)
            self.probe.clear_group()
        # snapshot the target for the check (outside the operation's time)
        tc = time.perf_counter()
        snap = None if failed else self._read_target()
        self.snapshots.append(snap)
        self.results[label].append(out)
        records = 0 if failed else out["records_upserted"]
        op = {"pass": pass_no, "op": label, "s": t1 - t0, "failed": failed,
              "rows": records}
        self.op_log.append(op)
        if traced:
            m = self.layer[pass_no]
            m["sources.requests"] += (ok1 - ok0) + (refused1 - refused0)
            m["sources.retries"] += refused1 - refused0
            m["sources.pages_published"] += n_pages
            m["sources.ok"] += ok1 - ok0
            if not failed:
                m["pipeline.records_seen"] += out["records_seen"]
                m["pipeline.records_valid"] += out["records_upserted"]
                m["pipeline.records_invalid"] += out["records_skipped_invalid"]
                table, nbytes = snap
                bytes_per_row = nbytes / max(1, table.num_rows)
                m["upsert.valid_bytes"] += out["records_upserted"] * bytes_per_row
            self._collect_layers(pass_no, [gid])
            m["trace.collect_s"] += time.perf_counter() - tc
        op["aside_s"] = time.perf_counter() - tc + (self._skip_s if traced else 0.0)

    def _read_target(self):
        import pyarrow.parquet as pq

        cols = ["pulse_id", "ingestion_timestamp", "pulse_modified", "pulse_name"]
        files = [os.path.join(self.target, f) for f in sorted(os.listdir(self.target))
                 if f.endswith(".parquet")]
        return pq.ParquetDataset(files).read(columns=cols), sum(map(os.path.getsize, files))

    def _collect_layers(self, pass_no: int, groups: list[str]):
        """Fold one traced operation's spans, counters and Spark metrics
        into its pass."""
        import tracing

        tr, m = self.tracer, self.layer[pass_no]
        jobs = [j for g in groups for j in self.probe.jobs(g)]
        for k, v in self.probe.stage_metrics(jobs).items():
            m[k] += v
        op_spans = [s for s in tr.spans if s["op"] == tr.op]
        for rec in self.probe.new_executions():
            m["python.eval_nodes"] += rec["python_nodes"]
            m["python.bytes_sent"] += rec["data sent to Python workers"]
            m["python.bytes_returned"] += rec["data returned from Python workers"]
            m["python.worker_start_s"] += rec["time to start Python workers"]
            m["python.run_s"] += rec["time to run Python workers"]
            written = rec["written output"]
            if written:
                layer = self._writer_layer(op_spans, rec["submitted"])
                if layer == "stores":
                    m["stores.bytes_written"] += written
                elif layer == "upsert":
                    m["upsert.bytes_written"] += written
        for k, v in tr.counts.items():
            m[k] += v
        tr.counts.clear()
        for layer, s in tracing.self_times(op_spans).items():
            if f"self.{layer}_s" in LAYER_UNITS:
                m[f"self.{layer}_s"] += s
        by_id = {s["id"]: s for s in op_spans}
        for s in op_spans:
            dur = (s["end"] or s["start"]) - s["start"]
            if s["layer"] == "tables":
                m["tables.load_s"] += dur
            elif s["layer"] == "upsert":
                m["upsert.s"] += dur
            elif s["layer"] == "stores" and not self._has_store_parent(s, by_id):
                m[f"stores.{s['name'].split('.')[1]}_s"] += dur
        m["trace.spans"] += len(op_spans)

    @staticmethod
    def _has_store_parent(span, by_id) -> bool:
        p = by_id.get(span["parent"])
        while p is not None:
            if p["layer"] == "stores":
                return True
            p = by_id.get(p["parent"])
        return False

    @staticmethod
    def _writer_layer(spans, submitted: float) -> str | None:
        """Layer of the innermost stores/upsert span open when a write
        execution was submitted."""
        best = None
        for s in spans:
            if s["layer"] in ("stores", "upsert") and s["wall_start"] <= submitted <= s.get(
                    "wall_end", float("inf")):
                if best is None or s["wall_start"] >= best["wall_start"]:
                    best = s
        return best["layer"] if best else None

    def _jvm_pid(self) -> int:
        try:
            return self.spark.sparkContext._gateway.proc.pid
        except AttributeError:
            return 0

    # -- checks ------------------------------------------------------------

    def _check(self):
        import checks

        t = time.perf_counter()
        if self.workload == "etl_upsert":
            states = checks.replay(self.wl.batches)
            for i, (keyed, keyless, want_counts) in enumerate(states):
                label = f"batch{i}"
                out = self.results[label][0]
                if isinstance(out, str):
                    self.failures[label] = f"raised: {out}"
                    continue
                if out != want_counts:
                    self.failures[label] = f"counts {out} != generator {want_counts}"
                    continue
                if self.args.perturb == label:
                    keyed = dict(keyed)
                    keyed.pop(next(iter(keyed)))
                why = checks.check_target(self.snapshots[i][0].to_pandas(), keyed, keyless)
                if why:
                    self.failures[label] = why
        else:
            import datagen

            oracle = checks.Oracle(self.data_dir, datagen.TABLES)
            try:
                sqls = {n: self.oracles[n] for n in self.results if n in self.oracles}
                self.failures = checks.check_queries(self.results, sqls, oracle,
                                                     perturb=self.args.perturb)
            finally:
                oracle.close()
        self.check_s = time.perf_counter() - t

    # -- metrics -----------------------------------------------------------

    def e2e(self) -> dict:
        warm = [p for p in self.pass_s if p > 0]
        if self.traced:
            warm = [p for p in warm if not self._pass_traced(p)]
        ops = [o for o in self.op_log if o["pass"] in warm]
        lat = [o["s"] for o in ops]
        warm_time = sum(self.pass_s[p] for p in warm)
        self.op_samples = len(lat)
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": self.pass_s[0],
            "pass_s": statistics.median(self.pass_s[p] for p in warm),
            "op_p50_s": percentile(lat, 0.5),
            "op_p90_s": percentile(lat, 0.9),
            "records_per_s": sum(o["rows"] for o in ops) / warm_time,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def layers(self) -> dict:
        traced_warm = [p for p in self.layer if p > 0] or [0]
        med = {}
        names = set(LAYER_UNITS) | {k for p in self.layer.values() for k in p}
        for k in names:
            src = [0] if k in COLD_ONLY else traced_warm
            med[k] = statistics.median(self.layer[p].get(k, 0.0) for p in src)
        out = {k: med.get(k, 0.0) for k in LAYER_UNITS}
        out["session.start_s"] = self.session_s
        out["registry.import_s"] = self.registry_s
        out["warmup_s"] = self.warmup_s
        pages = med.get("sources.pages_published", 0.0)
        out["sources.fetch_amplification"] = med.get("sources.ok", 0.0) / pages if pages else 0.0
        valid_bytes = med.get("upsert.valid_bytes", 0.0)
        out["upsert.write_amplification"] = (
            med.get("upsert.bytes_written", 0.0) / valid_bytes if valid_bytes else 0.0)
        rj = med.get("concurrency.run_jobs_s", 0.0)
        out["concurrency.overlap"] = med.get("concurrency.thunk_s", 0.0) / rj if rj else 0.0
        # means over whole blocks (untraced, traced, traced, untraced),
        # without the lead-in pass
        traced_s = [self.pass_s[p] for p in self.pass_s if p > 1 and self._pass_traced(p)]
        plain_s = [self.pass_s[p] for p in self.pass_s if p > 1 and not self._pass_traced(p)]
        out["trace.overhead_s"] = (
            statistics.fmean(traced_s) - statistics.fmean(plain_s)
            if traced_s and plain_s else 0.0)
        return out

    def family_times(self) -> dict:
        """Median warm-pass time of each query family (query workloads)."""
        import workloads

        per = defaultdict(lambda: defaultdict(float))
        for o in self.op_log:
            if o["pass"] > 0 and o["op"] in workloads.FAMILY_OF:
                per[workloads.FAMILY_OF[o["op"]]][o["pass"]] += o["s"]
        return {f: round(statistics.median(p.values()), 3) for f, p in per.items()}

    def header(self) -> dict:
        import pyspark

        jvm = self.spark._jvm.System
        return {
            "workload": self.workload, "seed": self.args.seed, "seconds": self.args.seconds,
            "trace": int(self.traced), "sf": SF, "nproc": os.cpu_count(),
            "cpus_used": self.cpus, "mem_total_mb": mem_total_mb(),
            "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "java": jvm.getProperty("java.version"), "spark": pyspark.__version__,
            "python": platform.python_version(), "git_commit": git_commit(),
            "source_sha1": source_digest(),
        }

    def close(self):
        if self.stub is not None:
            self.stub.close()
        if self.spark is not None:
            gw = self.spark.sparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    bench = Bench(args)
    try:
        bench.run()
        e2e = bench.e2e()
        header = bench.header()
        layers = bench.layers() if bench.traced else None
        if bench.traced:
            bench.tracer.dump(os.path.join(
                bench.out_dir, f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl"))
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        bench.close()
        return 1
    bench.close()

    # every operation's output is checked, so a raising operation is a failure too
    attempted, failed = len(bench.op_log), len(bench.failures)
    header["op_samples"] = bench.op_samples
    header["op_p90_tail_samples"] = round(bench.op_samples * 0.1, 1)
    header["passes"] = len(bench.pass_s)
    header["check_s"] = round(bench.check_s, 3)
    header["setup_parts_s"] = {"inputs": round(bench.t_inputs, 3),
                               "session": round(bench.session_s, 3),
                               "registry": round(bench.registry_s, 3),
                               "warmup": round(bench.warmup_s, 3)}
    header["pass_times_s"] = [round(bench.pass_s[p], 3) for p in sorted(bench.pass_s)]
    header["family_pass_s"] = bench.family_times()
    header["error_rate"] = failed / attempted
    print("# host " + json.dumps(header))
    for name, why in sorted(bench.failures.items()):
        print(f"# FAILED {name}: {why}")
    for k, v in e2e.items():
        print(f"# e2e {k:<18} {v:>14.6f} {E2E_UNITS[k]}")
    print(f"# e2e {'error_rate':<18} {failed / attempted:>14.6f} ratio "
          f"({failed} of {attempted} operations)")
    if layers is not None:
        for k, v in layers.items():
            print(f"# layer {k:<30} {v:>16.6f} {LAYER_UNITS[k]}")
    if bench.traced:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
