"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
of BENCHMARK.json, ``--trace 1`` re-runs the workload with per-layer spans
and prints the per-layer metrics. The last stdout line is
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
``failed`` counts output checks that missed the oracle plus raised errors.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for perfbench/test_smoke.py")
    return p.parse_args(argv)


def end_to_end(iters, setup_s: float, rss_b: float) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": median(it.wall_s for it in iters),
        "throughput_per_s": median(it.items / it.wall_s for it in iters),
        "rss_p90_mb": rss_b / 1e6,
    }


def _history(ctx, workload: str, smoke: bool) -> Path:
    return ctx.cache_dir("history") / f"{workload}{'-smoke' if smoke else ''}.jsonl"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "crawler_distributed_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no crawler_distributed_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    t0 = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    from perfbench import harness, tracing
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = harness.prepare(ROOT)
    t_spark = time.perf_counter()
    spark = harness.start_spark(ctx)
    get_spark_s = time.perf_counter() - t_spark
    try:
        wl = WORKLOADS[args.workload](ctx, spark, args.seed, args.smoke)
        wl.setup()
        setup_s = time.perf_counter() - t0

        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        if tracer:
            tracer.install_crawl_layers()
        iters, measured = [], 0.0
        with harness.RssSampler(harness.jvm_pid()) as rss:
            while not iters or measured < args.seconds:
                iters.append(wl.iterate(tracer))
                measured += iters[-1].wall_s
        layers = {}
        if tracer:
            tracer.uninstall()
            layers = wl.layer_metrics(tracer, iters)
            layers["session.storage_mem_mb_end"] = (
                tracing.storage_memory_used_b(spark.sparkContext) / 1e6)
    finally:
        harness.stop_spark(spark)
    attempted = sum(it.attempted for it in iters)
    failed = sum(it.failed for it in iters)
    post_attempted, post_failed = wl.finish()
    attempted, failed = attempted + post_attempted, failed + post_failed

    metrics = end_to_end(iters, setup_s, rss.p90_bytes())
    history = _history(ctx, args.workload, args.smoke)
    if tracer:
        untraced = ([json.loads(line)["wall_s"] for line in history.read_text().splitlines()]
                    if history.exists() else [])
        layers.update({
            "session.get_spark.s": get_spark_s,
            "session.cores": ctx.cpus,
            "tracing.wall_s": metrics["wall_s"],
            # 0 until an untraced run of this workload is recorded in this checkout
            "tracing.overhead_s": metrics["wall_s"] - median(untraced) if untraced else 0.0,
        })
        chosen, values = spec["per_layer"], layers
    else:
        if failed == 0:
            with history.open("a") as f:
                f.write(json.dumps({"seed": args.seed, "wall_s": metrics["wall_s"]}) + "\n")
        chosen, values = spec["end_to_end"], metrics
    # a layer the workload never enters reports 0
    out = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in chosen}
    harness.clean(ctx)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
