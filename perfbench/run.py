"""Layered, seeded benchmark of the omigo-spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run:

1. sets up ``SETUP_REPS`` times, each from a cold JVM (session start
   while a child process generates the seeded inputs), and keeps the
   last set-up;
2. warms up: runs every pipeline once, side by side and untimed, checks
   each output against its DuckDB oracle and records the output digest;
3. runs the workload's pipelines round-robin as a closed loop with one
   client, whole cycles only, at least ``MIN_CYCLES`` of them and until
   ``--seconds`` of pipeline time have been measured; after each
   pipeline, outside the timed region, reads Spark's status stores;
4. prints a detail line, then one JSON result line.

With ``--trace 0`` the result holds the end-to-end metrics. With
``--trace 1`` untraced and traced cycles take turns and the result holds
the per-layer metrics, taken from the traced cycles, per workload cycle.
See README.md in this directory for the metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from oracle import normalize, same_rows
from statusstore import StatusReader
from tracing import OPERATOR_FAMILIES, Tracer, check_tree, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Each set-up starts a JVM; two of them, with the warm-up cycle and two
# timed cycles, keep a run under a minute on a 4-core VM.
SETUP_REPS = 2
# A first timed cycle runs faster than the cold warm-up and a second one
# faster again; a fixed minimum keeps the sample mix the same from run
# to run.
MIN_CYCLES = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every input's base rows (the self-test uses a small one)")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep everything Spark, Python and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.files.minPartitionNum={4 * min(4, os.cpu_count() or 1)} "
            "pyspark-shell"),
    })
    time.tzset()
    import tempfile
    tempfile.tempdir = tmp


def import_engine():
    """The engine must come from this checkout, never from elsewhere."""
    sys.path[:0] = [ROOT, HERE]
    try:
        import omigo_data_analytics_spark as pkg
    except ImportError as e:
        sys.exit(f"perfbench: engine package not found in {ROOT}: {e}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: engine imported from {pkg.__file__}, not from {ROOT}")
    return pkg


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ---------------------------------------------------------------- sinks

def digest(rows: list) -> str:
    """Order-independent digest of collected rows: their count plus a hash
    of the sorted normalized rows, floats rounded to 6 places."""
    def canon(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, list):
            return [canon(x) for x in v]
        return v

    lines = sorted(json.dumps(canon(normalize(list(r))), default=str) for r in rows)
    return f"{len(rows)}:{hashlib.sha256(chr(10).join(lines).encode()).hexdigest()[:16]}"


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.scratch_dir = os.path.join(work, "scratch")
        self.cores = min(4, os.cpu_count() or 1)
        self.spark = None
        self.info = None

    # ------------------------------------------------------------ setup
    def setup(self) -> dict:
        """One set-up from a cold JVM. Returns seconds from its start to
        the session's start and to the end of input generation (the
        total)."""
        from omigo_data_analytics_spark import get_spark

        from workloads import Ctx, WORKLOADS

        t0 = time.perf_counter()
        # the inputs are generated in a child process while the JVM starts
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--out", self.data_dir,
             "--workload", self.args.workload, "--seed", str(self.args.seed),
             "--scale", str(self.args.scale)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            self.spark = get_spark("perfbench", cpus=self.cores)
            t1 = time.perf_counter()
            self.spark.sparkContext.setLogLevel("ERROR")
        finally:
            out, err = gen.communicate()
        t2 = time.perf_counter()
        if gen.returncode != 0:
            raise RuntimeError(f"input generation failed: {err.strip()[-1000:]}")
        self.info = json.loads(out)
        self.ctx = Ctx(self.spark, self.data_dir, self.scratch_dir,
                       {t: self.info["offset"] for t in self.info["tables"]})
        self.workload = WORKLOADS[self.args.workload]
        return {"total": t2 - t0, "start": t1 - t0}

    # --------------------------------------------------------- pipelines
    def run_pipeline(self, p, tracer=None) -> dict:
        """Build one pipeline and run its sink, which collects the output;
        returns timings, the output rows and, for streaming, the
        micro-batch statistics."""
        res = {"name": p.name, "error": None, "stream": None, "rows": None}
        pid = uuid.uuid4().hex[:12]
        root = sink = None
        t0 = time.perf_counter()
        try:
            if tracer:
                root = tracer.open(p.name, "pipeline", pid)
            out = p.build(self.ctx)
            if tracer:
                sink = tracer.open(f"sink:{p.name}", "sink")
            res["rows"], res["stream"] = self._sink(out, pid)
        except Exception as e:  # noqa: BLE001 - a failed pipeline is counted, not fatal
            traceback.print_exc()
            res["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            for span in (sink, root):
                if span is not None and span.end == 0.0:
                    tracer.close(span)
        res["wall"] = time.perf_counter() - t0
        return res

    def _sink(self, out, pid: str):
        if not out.isStreaming:
            return out.collect(), None
        name = f"perfbench_{pid}"
        ckpt = os.path.join(self.scratch_dir, f"ckpt-{pid}")
        q = (out.writeStream.format("memory").queryName(name).outputMode("complete")
             .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
        try:
            q.awaitTermination(150)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = [pr for pr in q.recentProgress if pr.get("numInputRows", 0) > 0]
            stream = {"batches": len(progress),
                      "batch_s": [pr["durationMs"]["triggerExecution"] / 1e3 for pr in progress],
                      "rows": sum(pr["numInputRows"] for pr in progress)}
            return self.spark.table(name).collect(), stream
        finally:
            q.stop()
            self.spark.catalog.dropTempView(name)

    def input_rows(self, p) -> int:
        return sum(self.info["tables"][t]["rows"] for t in p.tables)

    def start_oracle(self) -> subprocess.Popen:
        """Expected rows of every pipeline, from DuckDB in its own process
        (it runs while the untimed warm-up cycle does)."""
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), "--data", self.data_dir,
             "--workload", self.args.workload, "--offset", str(self.info["offset"]),
             "--out", os.path.join(self.work, "oracle.json")],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)

    def finish_oracle(self, proc: subprocess.Popen) -> dict:
        _, err = proc.communicate()
        if proc.returncode != 0:
            raise RuntimeError(f"oracle failed: {err.strip()[-1000:]}")
        with open(os.path.join(self.work, "oracle.json")) as f:
            return json.load(f)

    def clean_scratch(self) -> None:
        shutil.rmtree(self.scratch_dir, ignore_errors=True)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has ended;
        the next session then starts a new JVM."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ----------------------------------------------------------- aggregation

class LayerTotals:
    """Per-layer sums over the traced pipeline executions."""

    def __init__(self):
        self.v = defaultdict(float)
        self.batch_s: list[float] = []
        self.busy_ms = 0.0

    def add(self, res: dict, spans, jobs, execs, offset_ms: float) -> None:
        v = self.v
        selft = self_times(spans)
        by_id = {s.span_id: s for s in spans}
        for s in spans:
            t = selft[s.span_id]
            if s.layer == "sink":
                v["core.action_s"] += t
            elif s.layer == "core":
                v["core.build_s"] += t
            elif s.layer == "sources":
                v["sources.write_s" if ".write" in s.name else "sources.build_s"] += t
            elif s.layer in ("functions", "streaming") or s.layer.startswith("operators."):
                v[f"{s.layer}.build_s"] += t

        def owner(job):
            if job.group in by_id:
                return by_id[job.group]
            # jobs outside any job group we set (a streaming query's own
            # thread): the innermost span open when the job was submitted
            inner = None
            for s in spans:
                if s.start * 1e3 + offset_ms <= job.submitted_ms <= s.end * 1e3 + offset_ms:
                    if inner is None or s.start >= inner.start:
                        inner = s
            return inner

        intervals = []
        for job in jobs:
            span = owner(job)
            layer = span.layer if span else "pipeline"
            v["core.jobs"] += 1
            if layer == "core":
                v["core.build_jobs"] += 1
            if layer.startswith("operators."):
                v[f"{layer}.build_jobs"] += 1
            if job.submitted_ms and job.completed_ms:
                intervals.append((job.submitted_ms, job.completed_ms))
            for st in job.stages:
                v["core.stages"] += 1
                v["spark.tasks"] += st.tasks
                v["spark.failed_tasks"] += st.failed_tasks
                v["spark.task_run_s"] += st.run_ms / 1e3
                v["spark.task_cpu_s"] += st.cpu_ns / 1e9
                v["spark.gc_s"] += st.gc_ms / 1e3
                v["spark.shuffle_read_bytes"] += st.shuffle_read
                v["spark.shuffle_write_bytes"] += st.shuffle_write
                v["spark.spill_bytes"] += st.spill
                v["spark.slot_idle_s"] += st.task_wait_ms / 1e3
                v["sources.output_bytes"] += st.output_bytes
                if st.input_records > 0:
                    v["sources.scan_tasks"] += st.tasks
                if layer.startswith("operators."):
                    v[f"{layer}.task_cpu_s"] += st.cpu_ns / 1e9
                    v[f"{layer}.shuffle_write_bytes"] += st.shuffle_write
        self.busy_ms += _union_ms(intervals)

        calls_dedup = any(s.layer == "operators.dedup" for s in spans)
        for ex in execs:
            for node, ms in ex.nodes:
                if node.startswith(("Scan parquet", "Scan orc", "Scan json", "Scan csv",
                                    "Scan text")):
                    v["sources.input_rows"] += ms.get("number of output rows", 0)
                    v["sources.input_bytes"] += ms.get("size of files read", 0)
                v["functions.python_bytes"] += (ms.get("data sent to Python workers", 0)
                                                + ms.get("data returned from Python workers", 0))
                if calls_dedup and "Join" in node:
                    v["operators.dedup.join_rows"] += ms.get("number of output rows", 0)
        if res["stream"]:
            v["streaming.batches"] += res["stream"]["batches"]
            v["streaming.rows"] += res["stream"]["rows"]
            self.batch_s += res["stream"]["batch_s"]


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# per-layer metrics and their units, in report order
LAYER_METRICS = (
    ("session.start_s", "s"),
    ("sources.build_s", "s"), ("sources.write_s", "s"), ("sources.input_rows", "rows"),
    ("sources.input_bytes", "bytes"), ("sources.scan_tasks", "count"),
    ("sources.output_bytes", "bytes"),
    ("core.build_s", "s"), ("core.build_jobs", "count"), ("core.action_s", "s"),
    ("core.jobs", "count"), ("core.stages", "count"),
    ("functions.build_s", "s"), ("functions.python_bytes", "bytes"),
    *((f"operators.{fam}.{m}", unit) for fam in OPERATOR_FAMILIES
      for m, unit in (("build_s", "s"), ("build_jobs", "count"), ("task_cpu_s", "s"),
                      ("shuffle_write_bytes", "bytes"))),
    ("operators.dedup.join_rows", "rows"),
    ("streaming.batches", "count"), ("streaming.batch_p50_s", "s"), ("streaming.rows", "rows"),
    ("spark.tasks", "count"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.core_util", "frac"), ("spark.slot_idle_s", "s"), ("spark.failed_tasks", "count"),
    ("trace.overhead_frac", "frac"),
)


def layer_metrics(totals: LayerTotals, cycles: int, cores: int, session_start: float,
                  overhead: float) -> dict:
    """Per-layer values per workload cycle; a few are ratios or medians."""
    v = totals.v
    busy_s = totals.busy_ms / 1e3
    special = {
        "session.start_s": session_start,
        "streaming.batch_p50_s": statistics.median(totals.batch_s) if totals.batch_s else 0.0,
        "spark.core_util": v["spark.task_run_s"] / (busy_s * cores) if busy_s else 0.0,
        "trace.overhead_frac": overhead,
    }
    return {name: {"value": special[name] if name in special else v.get(name, 0.0) / cycles,
                   "unit": unit}
            for name, unit in LAYER_METRICS}


# ------------------------------------------------------------------ main

def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    import_engine()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {', '.join(WORKLOADS)}")
    runner = Runner(args, work)
    phases = {}
    t_run = time.perf_counter()
    try:
        setups = []
        for rep in range(SETUP_REPS):
            setups.append(runner.setup())
            if rep < SETUP_REPS - 1:
                runner.shutdown()
        spark = runner.spark
        reader = StatusReader(spark)
        tracer = Tracer(spark.sparkContext) if args.trace else None

        phases["setup_s"] = time.perf_counter() - t_run
        pipelines = runner.workload.pipelines
        digests, problems = {}, []
        attempted = failed = 0

        def check(p, r) -> None:
            """The warm-up execution sets the digest; every later one must
            give the same digest."""
            nonlocal attempted, failed
            attempted += 1
            bad = r["error"]
            if bad is None:
                d = digest(r["rows"])
                if p.name not in digests:
                    digests[p.name] = d
                elif d != digests[p.name]:
                    bad = f"digest {d}, warm-up execution gave {digests[p.name]}"
            if bad:
                failed += 1
                problems.append(f"{p.name}: {bad}")

        # untimed warm-up cycle, its pipelines run side by side while the
        # oracle computes the expected outputs; checked against the oracle
        oracle_proc = runner.start_oracle()
        with ThreadPoolExecutor(max_workers=runner.cores) as pool:
            warm = dict(zip([p.name for p in pipelines],
                            pool.map(runner.run_pipeline, pipelines)))
        phases["warm_cycle_s"] = time.perf_counter() - t_run - phases["setup_s"]
        for p in pipelines:
            check(p, warm[p.name])
        runner.clean_scratch()
        want = runner.finish_oracle(oracle_proc)
        for p in pipelines:
            if warm[p.name]["error"] is None:
                rows = [[normalize(v) for v in row] for row in warm[p.name]["rows"]]
                diff = same_rows(rows, want[p.name])
                if diff:
                    failed += 1
                    problems.append(f"{p.name}: {diff}")
        del warm, want
        phases["warmup_s"] = time.perf_counter() - t_run - phases["setup_s"]

        walls = {False: [], True: []}
        # untraced samples per pipeline: wall seconds, executor CPU seconds
        wall_by, cpu_by, out_rows = defaultdict(list), defaultdict(list), {}
        window = 0.0
        cycles = {False: 0, True: 0}
        totals = LayerTotals()
        trace_problems = []
        offset_ms = (time.time() - time.perf_counter()) * 1e3
        while True:
            # untraced, traced, traced, untraced, ...: each later cycle runs
            # a little faster, and this order splits that between the two
            traced = bool(args.trace) and sum(cycles.values()) % 4 in (1, 2)
            if window >= args.seconds and cycles[False] >= MIN_CYCLES and \
                    (not args.trace or cycles[True] == cycles[False]):
                break
            if traced:
                tracer.install()
            try:
                for p in pipelines:
                    mark = reader.mark()
                    n_spans = len(tracer.spans) if tracer else 0
                    r = runner.run_pipeline(p, tracer if traced else None)
                    window += r["wall"]
                    check(p, r)
                    walls[traced].append(r["wall"])
                    jobs = reader.jobs_since(mark, task_detail=traced)
                    if not traced:
                        wall_by[p.name].append(r["wall"])
                        cpu_by[p.name].append(
                            sum(st.cpu_ns for j in jobs for st in j.stages) / 1e9)
                        out_rows[p.name] = len(r["rows"] or [])
                    if traced:
                        spans = tracer.spans[n_spans:]
                        bad = check_tree(spans, r["wall"])
                        if bad:
                            trace_problems.append(f"{p.name}: {bad}")
                        totals.add(r, spans, jobs, reader.executions_since(mark), offset_ms)
                    runner.clean_scratch()
            finally:
                if traced:
                    tracer.uninstall()
            cycles[traced] += 1

        phases["loop_s"] = time.perf_counter() - t_run - phases["setup_s"] - phases["warmup_s"]
        gw_proc = getattr(spark.sparkContext._gateway, "proc", None)
        peak_kb = {"python": vm_hwm_kb("self"),
                   "jvm": vm_hwm_kb(gw_proc.pid) if gw_proc is not None else 0}

        base = walls[False]
        if args.trace:
            overhead = statistics.median(walls[True]) / statistics.median(base) - 1.0
            metrics = layer_metrics(totals, cycles[True], runner.cores,
                                    statistics.median(s["start"] for s in setups), overhead)
            tracer.write(os.path.join(ROOT, ".perfbench_work",
                                      f"spans-{args.workload}-seed{args.seed}.jsonl"))
            problems += trace_problems
        else:
            # throughput and cost of a typical cycle: per-pipeline medians, so
            # a burst of load on the host moves one sample, not the total
            cycle_rows = sum(runner.input_rows(p) for p in pipelines)
            cycle_wall = sum(statistics.median(w) for w in wall_by.values())
            cycle_cpu = sum(statistics.median(c) for c in cpu_by.values())
            metrics = {
                "setup_s": {"value": statistics.median(s["total"] for s in setups),
                            "unit": "s"},
                "pipeline_p50_s": {"value": statistics.median(base), "unit": "s"},
                "rows_per_s": {"value": cycle_rows / cycle_wall, "unit": "rows/s"},
                "cpu_s_per_mrow": {"value": cycle_cpu / (cycle_rows / 1e6), "unit": "s/Mrow"},
                "peak_rss_mb": {"value": sum(peak_kb.values()) / 1024.0, "unit": "MB"},
            }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": runner.cores, "window_s": window, "cycles": cycles[False] + cycles[True],
            "samples": len(base),
            "failed_frac": failed / max(1, attempted), "setups_s": setups,
            "phases_s": phases, "peak_rss_kb": peak_kb,
            "pipelines": {k: {"walls_s": w, "cpu_s": cpu_by[k], "output_rows": out_rows[k]}
                          for k, w in wall_by.items()},
            "digests": digests, "inputs": runner.info["tables"], "problems": problems[:20],
        }
        with open(os.path.join(ROOT, ".perfbench_work",
                               f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
        correct = not problems
        print("perfbench detail " + json.dumps(detail))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        runner.shutdown()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
