"""The engine's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload medallion_days --seed 1 --seconds 20 --trace 0

Workloads (why each exists: ``BENCHMARK.json``; predictions: ``DESIGN.md``):

* ``medallion_days`` — op: one ``plans.runner.run_day`` on seeded JHU
  daily CSVs, every op the next day of one fresh parquet warehouse
  (day 0 is the warm-up).
* ``curation_corpus`` — op: ``harness.registry.QUERIES
  ["curation_pipeline_docs"].fn`` (``plans.curation.curate_documents``
  with 16 hashes, 8 bands, threshold 0.9, every 50th doc as the
  decontamination set) over a seeded corpus, collected for the output
  check, then ``clearCache()``.

Set-up starts the session, makes the inputs from ``--seed`` and runs one
untimed warm-up op that pays the JVM's cold start (class loading, JIT,
codegen): day 0 of the warehouse, and for the curation chain the oracle
check on a small corpus. Then ops run back to back for ``--seconds`` (each
op starts when the previous one returns) and the outputs are checked. On
4 cores the session takes about 12 s and a cold op 17-35 s against 8-14 s
warm, which is why one run times few ops: about three in 20 s. The
medallion ops run days 1, 2, ... of the warehouse, so each reads one day
more history than the one before.

The last stdout line is the JSON result. With ``--trace 1`` the timed ops
run inside spans (``tracing.py``) and the per-layer metrics are reported
instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("medallion_days", "curation_corpus")
CORPUS_DOCS = 5000
ORACLE_DOCS = 200
CURATION_QUERY = "curation_pipeline_docs"
MEDALLION_LAYERS = ("process_raw", "process_ods", "process_dds", "process_mart", "run_all_alerts")
CURATION_STAGES = ("input", "quality", "exact_dedup", "neardup_kept", "decontaminated")
# operator -> per-op metrics reported for its span
OPERATORS = {
    "exact_dedup": ("s",),
    "minhash_dedup": ("s", "jobs"),
    "connected_components": ("s", "self_s", "jobs", "shuffle_mb"),
    "contaminated_ids": ("s", "jobs"),
    "hash_split": ("s",),
    "pack_greedy_bins": ("s", "jobs"),
}
SPARK_COUNTERS = {
    "jobs": "count/op", "stages": "count/op", "stages_skipped": "count/op",
    "tasks": "count/op", "tasks_failed": "count/op", "exec_s": "s/op",
    "exec_cpu_s": "s/op", "gc_s": "s/op", "shuffle_read_mb": "MB/op",
    "shuffle_write_mb": "MB/op", "spill_mb": "MB/op", "input_mb": "MB/op",
    "busy_share": "ratio",
}
END_TO_END = {
    "setup_s": "s", "ops_per_s": "ops/s", "op_p50_s": "s", "op_tail_s": "s",
    "ok_op_share": "ratio", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. Span and Spark figures are per
    timed op; a metric a workload does not touch reads 0."""
    u = {
        "sources.read_csv.s": "s/op",
        "sources.Warehouse.read.calls": "count/op",
        "sources.Warehouse.write.calls": "count/op",
        "sources.Warehouse.write.s": "s/op",
        "sources.Warehouse.write.jobs": "count/op",
        "sources.Warehouse.write.files": "count/op",
        "sources.Warehouse.write.mb": "MB/op",
        "sources.stored_bytes_per_input_byte": "ratio",
    }
    for layer in MEDALLION_LAYERS:
        for m, unit in (("s", "s/op"), ("self_s", "s/op"), ("jobs", "count/op"),
                        ("exec_s", "s/op"), ("shuffle_mb", "MB/op")):
            u[f"plans.{layer}.{m}"] = unit
    for m, unit in (("build_s", "s/op"), ("exec_s", "s/op"),
                    ("build_jobs", "count/op"), ("exec_jobs", "count/op")):
        u[f"plans.curate_documents.{m}"] = unit
    for stage in CURATION_STAGES:
        u[f"plans.curate_documents.rows.{stage}"] = "rows"
    for op, ms in OPERATORS.items():
        for m in ms:
            u[f"operators.{op}.{m}"] = {"jobs": "count/op", "shuffle_mb": "MB/op"}.get(m, "s/op")
    u.update({"harness.build_s": "s/op", "harness.exec_s": "s/op", "harness.build_share": "ratio"})
    u.update({f"spark.{k}": v for k, v in SPARK_COUNTERS.items()})
    u.update({
        "driver.no_job_s": "s/op", "driver.no_job_share": "ratio",
        "trace.ops_per_s": "ops/s", "failed_op_share": "ratio",
    })
    return u


# ---------------------------------------------------------------- statistics


def tail_quantile(n: int) -> float:
    """The highest quantile with at least 10 of ``n`` samples beyond it,
    ``1 - 10/n``. Below 20 samples that quantile falls under the median,
    so the tail is the maximum (quantile 1)."""
    return 1.0 - 10.0 / n if n >= 20 else 1.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (``q`` in [0, 1])."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        boot = time.time() - float(f.read().split()[0])
    return boot + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root`` (hidden and ``_`` marker files skipped):
    path -> (size, mtime_ns)."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            if not name.startswith((".", "_")):
                st = os.stat(os.path.join(d, name))
                out[os.path.join(d, name)] = (st.st_size, st.st_mtime_ns)
    return out


# ----------------------------------------------------------------- workloads


class Medallion:
    """``run_day`` over seeded JHU days into one fresh warehouse."""

    def __init__(self, spark, work: str, seed: int):
        from covid_data_pipeline_spark.plans.runner import bootstrap_population
        from covid_data_pipeline_spark.plans.schemas import POPULATION_SCHEMA
        from covid_data_pipeline_spark.sources.writers import Warehouse

        from covid_days import CovidDays

        self.spark = spark
        self.gen = CovidDays(seed, 0)
        self.landing = os.path.join(work, "landing")
        os.makedirs(self.landing)
        self.wh = Warehouse(spark, os.path.join(work, "warehouse"))
        bootstrap_population(
            spark, self.wh, spark.createDataFrame(self.gen.population_rows(), POPULATION_SCHEMA)
        )
        self.csv: list[str] = []  # landed days
        self.done = 0  # days run so far
        self.prepare()
        self.op(None)  # warm-up: day 0

    def prepare(self) -> None:
        """Draw and land the day the next op runs (outside its latency)."""
        self.gen.add_day()
        self.csv.append(self.gen.write_csv(self.done, self.landing))

    def op(self, tracer) -> None:
        from covid_data_pipeline_spark.plans.runner import run_day

        d = self.done
        self.done += 1
        run_day(self.spark, self.wh, self.gen.days[d], self.csv[d])

    def check(self, n: int) -> set[int]:
        """Compare every day run with the generator's expected mart rows
        and alerts; return the failing timed ops (op i ran day i + 1). A
        wrong warm-up day is the history of every later day."""
        from covid_data_pipeline_spark.plans import schemas as S
        from covid_days import MartRow

        got_mart: dict[str, set] = {}
        for r in self.wh.read(S.MART_TABLE).select(*MartRow.__dataclass_fields__).collect():
            row = MartRow(**{**r.asDict(), "report_date": str(r["report_date"])})
            got_mart.setdefault(row.report_date, set()).add(row)
        got_alerts: dict[str, set] = {}
        if self.wh.exists(S.ALERTS_TABLE):
            for r in self.wh.read(S.ALERTS_TABLE).select("alert_date", "country", "alert_type").collect():
                got_alerts.setdefault(str(r[0]), set()).add((str(r[0]), r[1], r[2]))
        bad = set()
        for d in range(self.done):
            day = self.gen.days[d]
            if (got_mart.get(day, set()) != set(self.gen.expected_mart(d))
                    or got_alerts.get(day, set()) != self.gen.expected_alerts(d)):
                bad.add(d)
                print(f"# check failed: medallion day {day}", file=sys.stderr)
        return set(range(n)) if 0 in bad else {d - 1 for d in bad}

    def stored_bytes_per_input_byte(self) -> float:
        landed = sum(os.path.getsize(p) for p in self.csv[: self.done])
        return sum(size for size, _ in dir_files(self.wh.root).values()) / landed

    def trace(self, tracer) -> None:
        from covid_data_pipeline_spark.plans import raw, runner
        from covid_data_pipeline_spark.sources.writers import Warehouse

        for layer in MEDALLION_LAYERS:
            tracer.wrap(runner, layer, f"plans.{layer}")
        tracer.wrap(raw, "read_csv", "sources.read_csv")
        tracer.wrap(Warehouse, "read", "sources.Warehouse.read")

        def files_written(wh, df, table, *a, **k):
            before = dir_files(wh.path(table))

            def after():
                new = {p: v for p, v in dir_files(wh.path(table)).items() if before.get(p) != v}
                return {"files": len(new), "bytes": sum(size for size, _ in new.values())}

            return after

        for verb in ("append", "overwrite_partitions", "replace"):
            tracer.wrap(Warehouse, verb, "sources.Warehouse.write", probe=files_written)


class Curation:
    """The curation chain through the query registry over a seeded corpus.

    The registry query calls ``plans.curation.curate_documents`` without
    ``metrics``; the benchmark hands it an empty dict where the query
    looks it up, so every pass carries the per-stage Observations.
    """

    def __init__(self, spark, work: str, seed: int):
        from covid_data_pipeline_spark.harness.oracle import compare
        from covid_data_pipeline_spark.harness.registry import QUERIES
        from covid_data_pipeline_spark.plans import curation

        from corpus import write_documents

        self.spark = spark
        self.spec = QUERIES[CURATION_QUERY]
        self.sf_dir = os.path.join(work, "corpus")
        write_documents(seed, CORPUS_DOCS, self.sf_dir)
        self.metrics: dict = {}
        self.outputs: list[tuple[list[tuple], dict[str, int]]] = []
        curate = curation.curate_documents

        def observed(*args, **kwargs):
            if kwargs.get("metrics") is None:
                self.metrics = kwargs["metrics"] = {}
            return curate(*args, **kwargs)

        curation.curate_documents = observed
        # Warm-up op, and the oracle check: DuckDB replays the chain too
        # slowly at full size, so it runs on a small corpus of the same seed.
        small = os.path.join(work, "oracle_corpus")
        write_documents(seed, ORACLE_DOCS, small)
        self.oracle_error = None
        try:
            compare(self.spec, spark, small)
        except AssertionError as e:
            self.oracle_error = str(e)[:300]
        spark.catalog.clearCache()

    def prepare(self) -> None:
        pass

    def op(self, tracer) -> None:
        self.outputs.append(None)  # stays None if the op raises
        span = tracer.span if tracer else contextlib.nullcontext
        with span("harness.build"):
            df = self.spec.fn(self.spark, self.sf_dir)
        with span("harness.exec"):
            rows = df.collect()
        self.spark.catalog.clearCache()
        self.outputs[-1] = ([tuple(r) for r in rows], {k: o.get["rows"] for k, o in self.metrics.items()})

    @property
    def rows(self) -> dict[str, int]:
        """Stage row counts of the last pass that returned."""
        return next((out[1] for out in reversed(self.outputs) if out), {})

    def check(self, n: int) -> set[int]:
        """Output invariants of every timed pass: unique doc ids, known
        splits, packing within budget, output rows equal to the
        ``decontaminated`` Observation, and one output digest for all
        passes. An oracle mismatch fails every op."""
        if self.oracle_error:
            print(f"# check failed: curation oracle {self.oracle_error}", file=sys.stderr)
            return set(range(n))
        bad, first_digest = set(), None
        for i, out in enumerate(self.outputs):
            if out is None:
                bad.add(i)
                continue
            got, counts = out
            digest = hashlib.sha256(repr(sorted(got)).encode()).hexdigest()
            first_digest = first_digest or digest
            # The packer opens bin k for a doc whose preceding tokens in
            # the split reach k * budget, so a bin's tokens before its
            # last doc stay under the budget.
            bins: dict[tuple, list[tuple[int, int]]] = {}
            for doc_id, split, n_tokens, bin_id in got:
                bins.setdefault((split, bin_id), []).append((doc_id, n_tokens))
            problems = [
                msg for ok, msg in (
                    (len({r[0] for r in got}) == len(got), "doc_id not unique"),
                    ({r[1] for r in got} <= {"train", "valid", "test"}, "unknown split"),
                    (all(sum(t for _, t in sorted(b)[:-1]) < 2048 for b in bins.values()),
                     "bin holds 2048 tokens before its last doc"),
                    (len(got) == counts.get("decontaminated"), "rows != decontaminated observation"),
                    (counts.get("input") == CORPUS_DOCS and got, "input count or empty output"),
                    (digest == first_digest, "output differs from the first pass"),
                ) if not ok
            ]
            for msg in problems:
                print(f"# check failed: curation op {i}: {msg}", file=sys.stderr)
            if problems:
                bad.add(i)
        return bad

    def trace(self, tracer) -> None:
        from covid_data_pipeline_spark.plans import curation

        tracer.wrap(curation, "curate_documents", "plans.curate_documents")
        for op in OPERATORS:
            tracer.wrap(curation, op, f"operators.{op}")


# ------------------------------------------------------------------- metrics


def layer_metrics(tracer, jobs, op_spans, nproc: int) -> dict[str, float]:
    """Per-layer figures of the traced ops, per op."""
    from tracing import jobs_of, self_times, union_length

    n = len(op_spans)
    selfs = self_times(tracer.spans)
    m = dict.fromkeys(per_layer_units(), 0.0)

    def span_figures(name: str) -> dict[str, float]:
        ss = tracer.outermost(name)
        js = jobs_of(jobs, ss)
        return {
            "calls": len(ss) / n,
            "s": sum(s.duration for s in ss) / n,
            "self_s": sum(selfs[s.id] for s in tracer.spans if s.name == name) / n,
            "jobs": len(js) / n,
            "exec_s": sum(j.exec_s for j in js) / n,
            "shuffle_mb": sum(j.shuffle_write_b for j in js) / 1e6 / n,
            "files": sum(s.attrs.get("files", 0) for s in ss) / n,
            "mb": sum(s.attrs.get("bytes", 0) for s in ss) / 1e6 / n,
        }

    m["sources.read_csv.s"] = span_figures("sources.read_csv")["s"]
    m["sources.Warehouse.read.calls"] = span_figures("sources.Warehouse.read")["calls"]
    write = span_figures("sources.Warehouse.write")
    for k in ("calls", "s", "jobs", "files", "mb"):
        m[f"sources.Warehouse.write.{k}"] = write[k]
    for layer in MEDALLION_LAYERS:
        f = span_figures(f"plans.{layer}")
        for k in ("s", "self_s", "jobs", "exec_s", "shuffle_mb"):
            m[f"plans.{layer}.{k}"] = f[k]
    for op, ks in OPERATORS.items():
        f = span_figures(f"operators.{op}")
        for k in ks:
            m[f"operators.{op}.{k}"] = f[k]

    build, execute = span_figures("harness.build"), span_figures("harness.exec")
    m["harness.build_s"], m["harness.exec_s"] = build["s"], execute["s"]
    if build["s"] + execute["s"] > 0:
        m["harness.build_share"] = build["s"] / (build["s"] + execute["s"])
    cur = span_figures("plans.curate_documents")
    m["plans.curate_documents.build_s"] = cur["s"]
    m["plans.curate_documents.build_jobs"] = cur["jobs"]
    if cur["calls"]:
        m["plans.curate_documents.exec_s"] = execute["s"]
        m["plans.curate_documents.exec_jobs"] = execute["jobs"]

    op_jobs = jobs_of(jobs, op_spans)
    wall = sum(s.duration for s in op_spans)
    sums = {
        "jobs": len(op_jobs),
        "stages": sum(j.stages for j in op_jobs),
        "stages_skipped": sum(j.stages_skipped for j in op_jobs),
        "tasks": sum(j.tasks for j in op_jobs),
        "tasks_failed": sum(j.tasks_failed for j in op_jobs),
        "exec_s": sum(j.exec_s for j in op_jobs),
        "exec_cpu_s": sum(j.exec_cpu_s for j in op_jobs),
        "gc_s": sum(j.gc_s for j in op_jobs),
        "shuffle_read_mb": sum(j.shuffle_read_b for j in op_jobs) / 1e6,
        "shuffle_write_mb": sum(j.shuffle_write_b for j in op_jobs) / 1e6,
        "spill_mb": sum(j.spill_b for j in op_jobs) / 1e6,
        "input_mb": sum(j.input_b for j in op_jobs) / 1e6,
    }
    for k, v in sums.items():
        m[f"spark.{k}"] = v / n
    m["spark.busy_share"] = sums["exec_s"] / (wall * nproc)
    covered = union_length(
        (max(j.start, s.start), min(j.end, s.end))
        for s in op_spans for j in op_jobs
        if s.tag in j.tags and min(j.end, s.end) > max(j.start, s.start)
    )
    m["driver.no_job_s"] = (wall - covered) / n
    m["driver.no_job_share"] = (wall - covered) / wall
    return m


# ---------------------------------------------------------------------- main


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    started = process_start_epoch()

    # The engine is imported from the checkout this file sits in; without
    # it there is nothing to measure.
    if not os.path.isfile(os.path.join(ROOT, "covid_data_pipeline_spark", "__init__.py")):
        sys.exit(f"perfbench: no covid_data_pipeline_spark package under {ROOT}")
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Keep Spark's scratch files inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # No hsperfdata files: HotSpot writes them to /tmp whatever
    # java.io.tmpdir says, for the launcher JVM and the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"

    # The JVM and Ivy write to fd 1; keep stdout for the result line only.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    spark = jvm = None
    try:
        from covid_data_pipeline_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        spark = get_spark(
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._gateway.proc
        workload = {"medallion_days": Medallion, "curation_corpus": Curation}[args.workload](
            spark, work, args.seed
        )
        setup_s = time.time() - started

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            workload.trace(tracer)
        latencies, failed, op_spans = [], set(), []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds:
            i = len(latencies)
            workload.prepare()
            a = time.perf_counter()
            try:
                if tracer:
                    tracer.op = i
                    with tracer.span("op") as s:
                        op_spans.append(s)
                        workload.op(tracer)
                else:
                    workload.op(None)
            except Exception:  # a failed op is counted, the run goes on
                traceback.print_exc()
                failed.add(i)
            latencies.append(time.perf_counter() - a)
        wall = time.perf_counter() - t0
        if tracer:
            tracer.op = None
            tracer.unwrap()

        n = len(latencies)
        check_t0 = time.perf_counter()
        failed |= workload.check(n)
        check_s = time.perf_counter() - check_t0
        correct = not failed
        q = tail_quantile(n)
        ops_per_s = n / wall
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": ops_per_s,
            "op_p50_s": statistics.median(latencies),
            "op_tail_s": quantile(latencies, q),
            "ok_op_share": 1.0 - len(failed) / n,
            "peak_rss_mb": vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid()),
        }
        print(
            "# detail " + json.dumps({
                "workload": args.workload, "seed": args.seed, "setup_s": round(setup_s, 3),
                "check_s": round(check_s, 3), "n_ops": n, "tail_quantile": q,
                "latencies_s": [round(x, 4) for x in latencies], "failed_ops": sorted(failed),
            }),
            file=sys.stderr,
        )
        if tracer:
            from tracing import read_jobs

            jobs = read_jobs(spark.sparkContext)
            metrics = layer_metrics(tracer, jobs, op_spans, nproc)
            spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump(
                    [{**dataclasses.asdict(s), "jobs": [j.id for j in jobs if s.tag in j.tags]}
                     for s in tracer.spans],
                    f,
                )
            print(f"# spans: {spans_path}", file=sys.stderr)
            metrics["trace.ops_per_s"] = ops_per_s
            metrics["failed_op_share"] = len(failed) / n
            if isinstance(workload, Medallion):
                metrics["sources.stored_bytes_per_input_byte"] = workload.stored_bytes_per_input_byte()
            else:
                for stage in CURATION_STAGES:
                    metrics[f"plans.curate_documents.rows.{stage}"] = workload.rows.get(stage, 0)
            units = per_layer_units()
        else:
            metrics, units = e2e, END_TO_END
        result = {
            "correct": correct,
            "attempted": n,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        if jvm is not None:
            # The JVM exits when its stdin closes; wait so no process
            # outlives the run.
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
