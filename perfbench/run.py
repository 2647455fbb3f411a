"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload sync_batches --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric
with ``--trace 1``). The lines before it print each metric by name with
its unit, the latency tails (or why none formed), the input
sizes, the resolved Spark conf and every failed or mismatched op.

``python3 perfbench/run.py --selftest`` runs the correctness checks at
tiny size against deliberately corrupted stores and exits non-zero
unless every corruption is caught.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
_PACKAGE = "far_finer_airtable_firestore_sync_spark"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    return p.parse_args(argv)


def _print_metrics(metrics: dict, units: dict) -> None:
    for name in sorted(metrics):
        print(f"  {name} = {metrics[name]:.6g} {units[name]}")


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    if not os.path.isdir(os.path.join(_ROOT, _PACKAGE)):
        print(f"perfbench: library package {_PACKAGE}/ not found next to "
              f"perfbench/ — run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, _ROOT)
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_a: sys.exit(143))
    os.environ["TZ"] = "UTC"
    time.tzset()

    from perfbench import harness, metrics, workloads

    if args.selftest:
        from perfbench import selftest

        return selftest.main(_ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(_ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.rmtree(work)
    os.makedirs(work)
    spark = None
    try:
        spark, session_s = harness.build_session(work)
        conf = harness.resolved_conf(spark)
        client, e2e, layers, info, setup = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, bool(args.trace))
        client.tracer.unwrap_all()
        e2e["setup_s"] = (session_s + sum(setup["load_s"])
                          + setup["warmup_s"])
        e2e["driver_mem_mb"] = harness.driver_mem_mb(spark)
        peak_rss = harness.peak_rss_mb()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                harness.stop_session(spark)
        finally:
            harness.rmtree(work)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # other runs' scratch directories remain

    failed = len(client.failures)
    attempted = max(1, client.attempted)
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"wall_s={time.perf_counter() - t_start:.1f}")
    print("client: closed loop, 1 client; sizes: "
          + json.dumps(workloads.SIZES[args.workload]))
    print("setup: " + json.dumps({"session_s": round(session_s, 3),
                                  **setup}, default=lambda x: round(x, 3)))
    print("run: " + json.dumps(info, default=str))
    print("spark: " + json.dumps(conf, separators=(",", ":")))
    e2e_units = {k: v[0] for k, v in metrics.END_TO_END.items()}
    print("end-to-end:")
    _print_metrics(e2e, e2e_units)
    print(f"  peak_rss_mb = {peak_rss:.6g} MB (JVM + Python; follows G1 "
          f"heap growth, so not a benchmark metric)")
    print(f"  error_rate = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} ops failed or mismatched)")
    for alias, (name, wl) in metrics.ALIASES.items():
        if wl == args.workload:
            print(f"  {alias} = {e2e[name]:.6g} {e2e_units[name]} "
                  f"(= {name})")
    for f in client.failures[:50]:
        print("FAILED " + f)

    if args.trace:
        layer_units = {k: v[0] for k, v in metrics.PER_LAYER.items()}
        out_metrics = {k: float(layers.get(k, 0.0)) for k in metrics.PER_LAYER}
        print("per-layer:")
        _print_metrics(out_metrics, layer_units)
        print("spark work per traced call:")
        for op, ws in sorted(client.work_by_op.items()):
            tot = harness.SparkWork()
            for w in ws:
                tot.add(w)
            print(f"  {op} n={len(ws)} " + " ".join(
                f"{f}={getattr(tot, f) / len(ws):.6g}"
                for f in tot.__dataclass_fields__))
        units = layer_units
    else:
        out_metrics = {k: float(e2e[k]) for k in metrics.END_TO_END}
        units = e2e_units
    missing = set(metrics.END_TO_END) - set(e2e)
    if missing:
        print(f"perfbench: metrics not produced: {sorted(missing)}",
              file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in out_metrics.items()},
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
