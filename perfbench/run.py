#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository.  The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the metrics are the end-to-end metrics
named in ``BENCHMARK.json``, with ``--trace 1`` its per-layer metrics.  The
lines before it report every metric by name and unit.  ``--check-inputs``
instead generates the workload's inputs twice from ``--seed`` and checks
that they are byte-identical.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import time


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "elasticsearch_aggregation_geoclustering_spark"
WORKLOADS = ("serving", "index_ingest")


def _load(name: str):
    import importlib

    return importlib.import_module(name)


def _inputs(module, seed: int):
    return module.generate(seed)


def check_inputs(module, seed: int) -> int:
    import inputs

    first = inputs.digest(*_inputs(module, seed)["digest_parts"])
    second = inputs.digest(*_inputs(module, seed)["digest_parts"])
    print(f"inputs sha256 {first} / {second}")
    return 0 if first == second else 1


def run(args, spec) -> dict:
    import checks
    import env
    import inputs
    from harness import Ctx, Recorder, class_weighted_ms, closed_loop, p50, pct
    from spans import Tracer, fold_eventlog

    module = _load(args.workload)
    t0 = time.perf_counter()
    inp = _inputs(module, args.seed)
    print(f"inputs: generated in {time.perf_counter() - t0:.2f} s, sha256 {inputs.digest(*inp['digest_parts'])}")

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    eventlog = os.path.join(workdir, "eventlog") if args.trace else None
    try:
        t0 = time.perf_counter()
        spark = env.start_session(ROOT, workdir, eventlog)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark) if args.trace else None
            ctx = Ctx(spark, workdir, tracer)
            rec = Recorder(traced=bool(args.trace))
            wl = module.Workload(ctx, inp)
            phases = {"session": session_s}
            mark = time.perf_counter()

            def phase(name):
                nonlocal mark
                now = time.perf_counter()
                phases[name], mark = now - mark, now

            # the goldens do not depend on the seed: they run once per traced
            # run, which keeps every timed run short
            if args.trace and getattr(module, "GOLDENS", False):
                for name, problem in checks.fixture_a_goldens(spark):
                    rec.check(name, problem)
            phase("goldens")
            setup_reps = wl.setup()
            phase("setup")
            steps = wl.steps()
            warm = Recorder(traced=False)
            for step in itertools.islice(steps, module.WARM_STEPS):
                step(warm)
            phase("warm")
            loop_s = closed_loop(args.seconds, steps, rec)
            loop_ms = [x for xs in rec.plain_ms.values() for x in xs]
            loop_ops = rec.n_ops()
            phase("loop")
            wl.finish(rec)
            phase("finish")
            rss_mb = env.peak_rss_mb(spark)
        finally:
            env.stop_session(spark)
        phase("stop")
        rec.verify()
        warm.verify()
        rec.attempted += warm.attempted
        rec.failed += warm.failed
        rec.errors += warm.errors
        phase("verify")
        print("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
        layer = {}
        if tracer is not None:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            layer = wl.layers(tracer, fold_eventlog(eventlog), rec)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run still works there
            pass

    e2e = {
        "setup_s": (session_s + p50(setup_reps), "s"),
        "ops_per_s": (loop_ops / loop_s, "ops/s"),
        "search_ms": (class_weighted_ms(rec.plain_ms, "search", module.SEARCH_WEIGHTS), "ms"),
        "stored_bytes_per_input_byte": (wl.stored_ratio, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    named = {
        # the first build also warms the JVM; the rest are steady state
        "build_docs_per_s": (module.N_DOCS / p50(wl.build_s[1:]), "docs/s"),
        "search_p50_ms": (p50(wl.search_ms(rec)), "ms"),
        "count_p50_ms": (p50(wl.count_ms(rec)), "ms"),
        "op_p90_ms": (pct(loop_ms, 90), "ms"),
        "session_start_s": (session_s, "s"),
        "setup_reps_s": (setup_reps, "s"),
        "ops_failed_share": (rec.failed / max(1, rec.attempted), "ratio"),
        **wl.named(rec),
    }
    for kind in sorted(rec.plain_ms):
        plain, traced = rec.plain_ms[kind], rec.traced_ms[kind]
        print(f"samples {kind}: {len(plain)} plain (median {p50(plain):.1f} ms), "
              f"{len(traced)} traced (median {p50(traced):.1f} ms)")
    for name, value in wl.shares().items():
        print(f"share {name}: {value:.4f}")
    for name, (value, unit) in {**e2e, **named}.items():
        print(f"metric {args.workload} {name} = {value} {unit}")
    for err in rec.errors:
        print(f"FAILED {err}")

    if args.trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
        for name, m in metrics.items():
            print(f"layer {args.workload} {name} = {m['value']} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]} for m in spec["end_to_end"]}
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-inputs", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.check_inputs:
        return check_inputs(_load(args.workload), args.seed)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    print(json.dumps(run(args, spec)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
