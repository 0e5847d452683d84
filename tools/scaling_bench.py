"""Measured scaling exponents sf0.1 -> sf1 (VERDICT r9 ask #2).

The per-round bench gate runs at sf0.1 while the design target is
~100 TB; every plan audit so far argues "sound at 100x" from the plan
shape. This converts the argument into measurement: run every headline
(bench=True) query once at sf0.1 and once at the 10x derived corpus
(``tools/gen_scale.py`` -> ``testdata_sf1/``) in ONE warm session and
fit the per-query scaling exponent

    alpha = log10(t_sf1 / t_sf0.1)

alpha ~= 1 is linear scaling, < 1 sublinear (fixed overheads still
amortizing, or output-bounded work), > 1 superlinear. Queries with
alpha > FLAG_ALPHA (default 1.3) AND t_sf1 > 2s get ONE fresh re-run
pair before being flagged (sub-second timings swing +-40% on this box;
an exponent fit on two sub-second samples is noise, so tiny queries are
reported but exempt from flagging — the noise floor, not the plan,
dominates them).

Run: ``python tools/scaling_bench.py [--out SCALING_r10.json]``
(~15-25 min). Output: per-query {t_sf01, t_sf1, alpha}, flagged list,
and an exponent histogram; exit 1 if any flagged query survives its
re-run.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_spark, run_once  # noqa: E402

FLAG_ALPHA = 1.3
MIN_T1_FOR_FLAG = 2.0  # below this, noise dominates the fit

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(_HERE, "testdata_sf1")


def main() -> int:
    args = sys.argv[1:]
    out_path = os.path.join(_HERE, "SCALING_r10.json")
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
    if not os.path.isdir(SF1):
        print(f"missing {SF1} — run tools/gen_scale.py first",
              file=sys.stderr)
        return 2

    spark = bench_spark("scaling-bench", driver_memory="16g")

    from covid_data_pipeline_spark.harness.registry import QUERIES

    bench = {n: s for n, s in QUERIES.items() if s.bench}

    def timed(name: str, sf_dir: str) -> float:
        build_s, exec_s, _ = run_once(spark, bench[name].fn, sf_dir)
        return round(build_s + exec_s, 3)

    # Warmup at sf0.1 (codegen/JIT) — untimed.
    for n in bench:
        timed(n, SF01)

    results: dict[str, dict] = {}
    for n in bench:
        t01 = timed(n, SF01)
        t1 = timed(n, SF1)
        alpha = (
            round(math.log10(t1 / t01), 3) if t01 > 0 and t1 > 0 else None
        )
        results[n] = {"t_sf01": t01, "t_sf1": t1, "alpha": alpha}
        print(f"# {n}: {t01}s -> {t1}s  alpha={alpha}", file=sys.stderr,
              flush=True)

    def is_flagged(r: dict) -> bool:
        return (
            r["alpha"] is not None
            and r["alpha"] > FLAG_ALPHA
            and r["t_sf1"] > MIN_T1_FOR_FLAG
        )

    # One fresh re-run pair for anything flagged (contention defense —
    # same policy as bench.py's tripped-query retry).
    for n, r in results.items():
        if is_flagged(r):
            print(f"# re-running flagged {n}", file=sys.stderr)
            t01 = min(r["t_sf01"], timed(n, SF01))
            t1 = min(r["t_sf1"], timed(n, SF1))
            r.update(
                t_sf01=t01,
                t_sf1=t1,
                alpha=round(math.log10(t1 / t01), 3),
                reran=True,
            )

    flagged = sorted(
        (n for n, r in results.items() if is_flagged(r)),
        key=lambda n: -results[n]["alpha"],
    )
    alphas = [r["alpha"] for r in results.values() if r["alpha"] is not None]
    hist = {
        "sublinear_lt_0.8": sum(a < 0.8 for a in alphas),
        "near_linear_0.8_1.1": sum(0.8 <= a <= 1.1 for a in alphas),
        "mild_super_1.1_1.3": sum(1.1 < a <= 1.3 for a in alphas),
        "flagged_gt_1.3": len(flagged),
        "gt_1.3_but_subsecond_exempt": sum(
            r["alpha"] is not None
            and r["alpha"] > FLAG_ALPHA
            and r["t_sf1"] <= MIN_T1_FOR_FLAG
            for r in results.values()
        ),
    }
    payload = {
        "metric": "scaling_exponent_sf0.1_to_sf1",
        "factor": 10,
        "n_queries": len(results),
        "flag_rule": f"alpha > {FLAG_ALPHA} and t_sf1 > {MIN_T1_FOR_FLAG}s",
        "histogram": hist,
        "flagged": flagged,
        "total_sf01": round(sum(r["t_sf01"] for r in results.values()), 2),
        "total_sf1": round(sum(r["t_sf1"] for r in results.values()), 2),
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({k: payload[k] for k in
                      ("metric", "n_queries", "histogram", "flagged",
                       "total_sf01", "total_sf1")}))
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
