"""Benchmark harness (driver contract).

Runs the headline queries (``bench=True`` in the registry) against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. The last stdout line is the driver's, one
compact JSON object (``separators=(",", ":")``):

    {"metric":"headline_queries_total","value":N,"unit":"sec","sf":0.1,
     "queries":{"mart_analytics":0.81,...}}

``value`` is the total of every timed median; ``queries`` maps each
headline query to its median in seconds, rounded to 2 dp, except the
``DRIVER_OMIT`` twins and overhead-floor queries, which keep the line
inside the driver's 2,000-char tail capture (``tests/test_bench.py``
holds it to 1,990 chars for the whole registry).

Output discipline (BENCH_r03 landed ``parsed: null`` because JVM/Ivy
chatter interleaved with the result on stdout): file descriptor 1 is
redirected to stderr for the entire run, so the result is the sole
stdout line. The comparison summary (vs_prev with worst-3/best-3
ratios, geomean vs r1 and vs the idle record, regressions, drift) is
one ``# {...}`` stderr line. The FULL payload goes to
``bench_result.json`` next to this script: every median, every raw
sample, and per query the median split into Python build time, sink
execution time and Spark jobs (``query_layers``; jobs are counted by
job tag through ``covid_data_pipeline_spark.observe``).

Subset runs for A/Bs: ``python <tree>/bench.py q1,q2,...`` times only
the named registry queries, with the same warm-up, timed runs and
output. Run each tree's own copy in pairs, swapping which tree goes
first from pair to pair (with the parent always first, the second run
of each pair read ~7% slower on dedup_minhash, and the gap reversed
when the order did), and compare the ``queries`` maps (or
``bench_result.json`` for ``DRIVER_OMIT`` names).

Timing discipline: after an untimed warmup pass (JIT/codegen caches),
each query is run **three** times and the per-query **median** is
reported — single-run times on this box swing ±40% for sub-second
queries, which made a single-run 1.5x regression gate untrustworthy.

Contention discipline (BENCH_r04 recorded 4.6x/2.8x phantom
"regressions" on queries whose code had not changed — the whole machine
was contended during the driver run): any query whose first-pass median
trips the gate is RE-RUN once with a fresh set of timed passes and the
better median wins. Median-of-3 alone does not defend against a
machine-wide stall that spans all three samples.

Each query is materialized through the no-op sink (``format("noop")``)
so every column and operator executes end-to-end — ``count()`` alone
would let Catalyst prune work a real consumer pays for.

Regression gate: ADVISORY by default. If a previous round's
BENCH_r{N}.json exists, per-query ``vs_prev`` ratios are computed
(recorded in bench_result.json, surviving regressions echoed as
``# REGRESSION`` stderr lines and listed in the ``#`` summary line) —
but the exit code stays 0: round 4 proved a nonzero exit turns pure
machine contention into an rc=1 official record. Set
SPARK_GRAFT_STRICT_GATE=1 to restore exit-1 for local development.

``regressions`` vs ``drift_advisory`` (r11, VERDICT r10 ask #2): the
``regressions`` list carries only PER-QUERY trips (min-of-runs > 1.5x
a committed per-query time AND > 1s absolute). Suite-wide geomean
drift against a committed record — uniform environment slowdown the
per-query gate cannot see, observed at 1.2-1.3x between idle windows
on unchanged code in r09 AND r10 — is reported under its own
``drift_advisory`` key instead: two rounds running, the driver treated
a drift-flagged run as unusable and lost the whole per-query
comparison (PERF n_common=0). Genuine code regressions still land in
``regressions``; drift stays visible but no longer poisons the run.

``methodology`` field (ADVICE r10 #4): clearCache-between-runs changed
what some queries measure (curation_pipeline_docs 4.19s cache-mixed →
~6s full recompute), so every payload now carries a methodology id and
comparisons against records from a DIFFERENT methodology are annotated
``cross_methodology: true`` rather than silently mixed, and per-query
trips against such a record land in ``drift_advisory``, not
``regressions`` (see ``gate_trips``).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from covid_data_pipeline_spark.observe import spark_jobs

# Bump when what a timed sample MEASURES changes (not when queries are
# added): v2 = clearCache between timed runs (r10 honesty fix — every
# sample is a full recompute from parquet). Records without the field
# predate v2; ratios against them get cross_methodology: true.
METHODOLOGY = "noop-median-clearcache-v2"

# Timed and kept in bench_result.json, left out of the stdout map: the
# numpy / native / pretrained twins of other headline queries and the
# queries that only measure the per-query overhead floor.
DRIVER_OMIT = frozenset({
    "similarity_topk_bruteforce_np",
    "dedup_minhash_native",
    "similarity_topk_ivf_pretrained",
    "similarity_topk_pq_pretrained",
    "mixture_sample_docs",
    "filter_project",
    "events_tumbling_window",
})


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _geomean(values: list[float]) -> float | None:
    import math

    # A sub-millisecond median rounds to 0.0 and its ratio drops out;
    # if EVERY ratio drops out there is nothing to average — return
    # None (rendered as null) instead of dividing by zero.
    vals = [v for v in values if v > 0]
    if not vals:
        return None
    return round(math.exp(sum(math.log(v) for v in vals) / len(vals)), 3)


def bench_spark(app_name: str, driver_memory: str = "8g"):
    """The session ``bench.py`` and the timing tools measure with.

    ``session.get_spark`` with an ``$SPARK_GRAFT_DRIVER_MEM`` (default
    ``driver_memory``) heap, no console progress bars (they filled the
    driver's tail capture of the stdout line), and quiet logs.
    """
    from covid_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", driver_memory),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # VERDICT r7 #2: localCheckpoint(eager=False) lineage cuts whose
    # stages are GC'd/cancelled mid-bench spew harmless "non-existent
    # accumulator" ERROR stacks from DAGScheduler, burying the per-query
    # medians in the driver's tail capture. Raise just that logger to
    # FATAL (log4j2 API; Spark 4 has no log4j1 bridge for setLevel).
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception as exc:  # log tuning must never fail the bench
        print(f"# log4j tuning skipped: {exc}", file=sys.stderr)
    return spark


def run_once(spark, fn, sf_dir: str) -> tuple[float, float, int]:
    """One timed run of a registry-style query ``fn(spark, sf_dir)``.

    Builds the DataFrame, materializes it through the no-op sink and
    returns ``(build_s, exec_s, jobs)``. Build time includes the eager jobs
    iterative operators run while building (CC rounds, Lloyd, BPE).
    ``jobs`` counts those and the sink's: the job tag is set before the
    clock starts and read back after it stops.
    """

    def timed() -> tuple[float, float]:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    (build_s, exec_s), jobs = spark_jobs(spark, timed)
    # Cross-run honesty (r10 optimization round): operators that
    # persist() an intermediate (e.g. curation's exact-dedup slice)
    # register it in the session CacheManager keyed on the
    # CANONICALIZED plan — the next timed run of the same query
    # builds an identical plan and silently reuses run 1's cached
    # stage, so runs 2..n measure cache reads, not computation.
    # Clearing between runs keeps every timed sample a full
    # recompute from parquet. The clear itself is OUTSIDE the timed
    # window. localCheckpoint blocks are per-DataFrame RDDs — never
    # shared across runs — and are freed by the ContextCleaner when
    # the run's DataFrames are GC'd. (An explicit unpersist sweep of
    # getPersistentRDDs() between runs was tried and REVERTED: its
    # async block removal races the next run's Arrow transfers and
    # produced reproducible 13s stalls on the Python-boundary
    # queries — knn_graph_lsh 2.7s → 13.3s.)
    spark.catalog.clearCache()
    return build_s, exec_s, jobs


def gate_trips(
    timings: dict[str, float],
    run_samples: dict[str, list[float]],
    prev: dict,
    retry,
) -> tuple[list[str], list[str]]:
    """Per-query regression gate against a previous bench record.

    Returns ``(regressions, advisories)``. A query trips when its best
    run is over 1.5x AND over 1 s slower than ``prev``'s time for it.
    Each tripped query gets ONE full retry, ``retry(name)`` returning a
    fresh median and extending ``run_samples`` — defends against a
    machine-wide contention window that swallows all first-pass samples
    (the BENCH_r04 4.6x phantom). ``timings`` keeps the better median.
    A trip that survives is a regression, unless ``prev`` was measured
    with a different methodology: then it is an annotated advisory, so
    SPARK_GRAFT_STRICT_GATE cannot fail a run on a methodology change.
    """
    prev_q = prev.get("queries", {})
    cross = prev.get("methodology") != METHODOLOGY

    # Sub-second queries vary ±40% run-to-run on this box (measured):
    # trip on ratio AND absolute delta so only regressions that move
    # real wall-clock count. The regression DECISION uses the
    # MIN-of-runs (VERDICT r6 ask #4): a machine-wide contention
    # window inflates every sample's median, but a genuine plan
    # regression slows even the best run — r6's dedup_minhash
    # 1.536x flag on an unchanged operator was pure load noise the
    # median gate couldn't reject. Reported timings stay medians.
    def tripped(name: str) -> bool:
        p = prev_q.get(name)
        if not p or p <= 0:
            return False
        best = min(run_samples[name])
        return best / p > 1.5 and best - p > 1.0

    regressions: list[str] = []
    advisories: list[str] = []
    for name in [n for n in timings if tripped(n)]:
        print(f"# retrying tripped query {name}", file=sys.stderr)
        timings[name] = min(timings[name], retry(name))
        if tripped(name):
            p, t = prev_q[name], timings[name]
            line = f"{name}: {p}s -> {t}s ({round(t / p, 3)}x)"
            if cross:
                advisories.append(
                    f"cross-methodology trip ({prev.get('methodology')} -> "
                    f"{METHODOLOGY}) {line}"
                )
            else:
                regressions.append(line)
    return regressions, advisories


def stdout_line(timings: dict[str, float], sf: float) -> str:
    """The driver's stdout line (see the module docstring)."""
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "sf": sf,
            "queries": {
                n: round(t, 2) for n, t in timings.items() if n not in DRIVER_OMIT
            },
        },
        separators=(",", ":"),
    )


def main() -> None:
    # Reserve the real stdout for the single result line; everything
    # else (including JVM output inherited through fd 1) goes to stderr.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    spark = bench_spark("bench")

    from covid_data_pipeline_spark.harness.registry import QUERIES

    if len(sys.argv) > 1:
        bench_specs = {n: QUERIES[n] for n in sys.argv[1].split(",")}
    else:
        bench_specs = {n: s for n, s in QUERIES.items() if s.bench}

    def sample(name: str) -> tuple[float, float, int]:
        return run_once(spark, bench_specs[name].fn, sf_dir)

    run_samples: dict[str, list[float]] = {}
    run_splits: dict[str, list[tuple[float, float, int]]] = {}

    def timed_median(name: str) -> float:
        splits = [sample(name) for _ in range(runs)]
        run_splits.setdefault(name, []).extend(splits)
        samples = [round(b + e, 3) for b, e, _ in splits]
        run_samples.setdefault(name, []).extend(samples)
        med = round(statistics.median(samples), 3)
        print(f"# {name}: median {med}s (runs: {samples})", file=sys.stderr)
        return med

    # Warmup pass (untimed): populates the JVM's codegen/JIT caches so the
    # timed passes measure steady-state query time, not one-time class
    # compilation. run_once clears data caches so timed passes recompute.
    for name in bench_specs:
        sample(name)

    timings = {name: timed_median(name) for name in bench_specs}

    # Per-query regression check against the latest committed BENCH_r{N}.
    prev_file, prev = _latest_prev_bench()
    regressions: list[str] = []
    drift_advisory: list[str] = []
    vs_prev: dict | None = None
    if prev and abs(_sf_from_dir(sf_dir) - prev.get("sf", -1)) < 1e-9:
        regressions, drift_advisory = gate_trips(
            timings, run_samples, prev, timed_median
        )
        prev_q = prev.get("queries", {})
        ratios = {
            n: round(t / p, 3)
            for n, t in timings.items()
            if (p := prev_q.get(n)) and p > 0
        }
        if ratios:
            geomean = _geomean(list(ratios.values()))
            vs_prev = {"file": prev_file, "geomean": geomean, "ratios": ratios}
            if prev.get("methodology") != METHODOLOGY:
                vs_prev["cross_methodology"] = True
            # systemic slowdown across the whole set: DRIFT advisory,
            # not a per-query regression (see module docstring)
            if geomean is not None and geomean > 1.25:
                drift_advisory.append(f"geomean vs {prev_file}: {geomean}x")
                print(f"# DRIFT {drift_advisory[-1]}", file=sys.stderr)
        for line in regressions:
            print(f"# REGRESSION {line}", file=sys.stderr)

    spark.stop()

    # Fixed r1 anchor (VERDICT r5 structural caution): vs_prev re-baselines
    # against the newest committed record every round, which can hide slow
    # cumulative drift. The driver's 2x contract is against the ROUND-1
    # record, so the ratio vs r1's 19 original headline queries stays
    # visible in every payload alongside vs_prev.
    vs_r1: dict | None = None
    r1 = _load_bench_record("BENCH_r01.json")
    if r1 and abs(_sf_from_dir(sf_dir) - r1.get("sf", -1)) < 1e-9:
        r1_ratios = {
            n: round(timings[n] / p, 3)
            for n, p in r1.get("queries", {}).items()
            if n in timings and p > 0
        }
        if r1_ratios:
            vs_r1 = {
                "n_shared": len(r1_ratios),
                "geomean": _geomean(list(r1_ratios.values())),
                "ratios": r1_ratios,
            }

    # Suite-level drift tripwire (VERDICT r8 ask #3 / What's wrong #2):
    # the per-query min-of-runs rule judges queries one at a time, so a
    # uniform fleet-wide slowdown — environment drift or a global
    # session-config cost — is structurally invisible to it (r8 drifted
    # 1.11x idle-vs-idle with regressions: []). Compare against the
    # newest committed IDLE record (BENCH_full_r{N}.json, written by
    # the end-of-round idle run, never by the contended driver run) and
    # NAME a >1.05 geomean in the regressions list so it gets
    # investigated, not averaged away.
    vs_idle: dict | None = None
    idle_file, idle = _latest_idle_bench()
    if idle and abs(_sf_from_dir(sf_dir) - idle.get("sf", -1)) < 1e-9:
        idle_ratios = {
            n: round(timings[n] / p, 3)
            for n, p in idle.get("queries", {}).items()
            if n in timings and p > 0
        }
        if idle_ratios:
            g = _geomean(list(idle_ratios.values()))
            vs_idle = {
                "file": idle_file,
                "n_shared": len(idle_ratios),
                "geomean": g,
            }
            if idle.get("methodology") != METHODOLOGY:
                vs_idle["cross_methodology"] = True
            if g is not None and g > 1.05:
                drift_advisory.append(
                    f"suite geomean vs idle record {idle_file}: {g}x over "
                    f"{len(idle_ratios)} shared queries — uniform drift "
                    "the per-query gate cannot see; A/B a pinned commit "
                    "idle before attributing to code"
                )
                print(f"# DRIFT {drift_advisory[-1]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # Raw per-query sample lists (warm timed passes, plus any retry
        # passes) — lets a reader separate contention noise from drift
        # without re-running (VERDICT r6 ask #4).
        "query_runs": {n: run_samples[n] for n in timings},
        # Per-query medians of the split: Python build time (with the
        # eager jobs it runs), sink execution time, and Spark jobs.
        "query_layers": {
            n: {
                "build_s": round(statistics.median(b for b, _, _ in sp), 3),
                "exec_s": round(statistics.median(e for _, e, _ in sp), 3),
                "jobs": statistics.median_low(j for _, _, j in sp),
            }
            for n, sp in run_splits.items()
        },
        "sf": _sf_from_dir(sf_dir),
        "runs_per_query": runs,
        "aggregation": "median",
        "methodology": METHODOLOGY,
        "regressions": regressions,
        "drift_advisory": drift_advisory,
    }
    if vs_prev:
        payload["vs_prev"] = vs_prev
    if vs_r1:
        payload["vs_r1"] = vs_r1
    if vs_idle:
        payload["vs_idle"] = vs_idle

    here = os.path.dirname(os.path.abspath(__file__))
    # Full payload lives in the file; stdout gets the driver's line.
    try:
        with open(os.path.join(here, "bench_result.json"), "w") as f:
            f.write(json.dumps(payload) + "\n")
    except OSError:
        pass

    summary = {
        "n_queries": len(timings),
        "runs_per_query": runs,
        "methodology": METHODOLOGY,
        "full_results": "bench_result.json",
    }
    if vs_prev:
        srt = sorted(vs_prev["ratios"].items(), key=lambda kv: -kv[1])
        summary["vs_prev"] = vs_prev["file"]
        summary["geomean_vs_prev"] = vs_prev["geomean"]
        summary["worst3"] = dict(srt[:3])
        summary["best3"] = dict(srt[-3:])
    if vs_r1:
        summary["geomean_vs_r1"] = vs_r1["geomean"]
        summary["n_shared_r1"] = vs_r1["n_shared"]
    if vs_idle:
        summary["geomean_vs_idle"] = vs_idle["geomean"]
    if regressions:
        summary["regressions"] = regressions
    if drift_advisory:
        summary["drift_advisory"] = drift_advisory
    print("# " + json.dumps(summary), file=sys.stderr)
    line = stdout_line(timings, payload["sf"])
    os.write(real_stdout_fd, (line + "\n").encode())
    os.close(real_stdout_fd)
    if regressions and os.environ.get("SPARK_GRAFT_STRICT_GATE"):
        sys.exit(1)


def _latest_idle_bench() -> tuple[str | None, dict | None]:
    """Newest committed IDLE bench record (BENCH_full_r{N}.json only —
    the builder's end-of-round idle run; BENCH_r{N}.json is the
    driver's and can be machine-contended)."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    cands = sorted(
        glob.glob(os.path.join(here, "BENCH_full_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    for path in reversed(cands):
        rec = _parse_bench_record(path)
        if rec is not None:
            return os.path.basename(path), rec
    return None, None


def _latest_prev_bench() -> tuple[str | None, dict | None]:
    """Newest committed bench record that carries per-query timings.

    From round 5 on, the driver-recorded BENCH_r{N}.json holds only the
    compact summary line (per VERDICT r4 ask #3 — the full 56-query line
    outgrew the driver's tail capture), so the end-of-round workflow
    commits the full payload as BENCH_full_r{N}.json alongside it; both
    patterns are candidates here, newest round first."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    cands = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json"))
        + glob.glob(os.path.join(here, "BENCH_full_r*.json")),
        key=lambda p: (
            int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
            "full" in os.path.basename(p),
        ),
    )
    for path in reversed(cands):
        rec = _parse_bench_record(path)
        if rec is not None:
            return os.path.basename(path), rec
    return None, None


def _load_bench_record(basename: str) -> dict | None:
    """A specific committed bench record's per-query timings (or None)."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, basename)
    return _parse_bench_record(path) if os.path.exists(path) else None


def _parse_bench_record(path: str) -> dict | None:
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    if data.get("queries"):
        return data
    # driver-recorded files wrap our JSON line inside "parsed" or a
    # "tail" string — recover the last parseable {"metric": ...} line
    parsed = data.get("parsed")
    if isinstance(parsed, dict) and parsed.get("queries"):
        parsed.setdefault("sf", data.get("sf", -1))
        return parsed
    for line in reversed(data.get("tail", "").splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                inner = json.loads(line)
            except json.JSONDecodeError:
                continue
            if inner.get("queries"):
                inner.setdefault("sf", data.get("sf", -1))
                return inner
    return None


if __name__ == "__main__":
    main()
