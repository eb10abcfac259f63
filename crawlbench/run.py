"""Crawl benchmark: one cold Spark process per run, one workload.

    python3 crawlbench/run.py --workload board_crawl --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run starts a fresh local[2]
Spark session, generates the workload's inputs from --seed, then runs
whole rounds of the workload's operations until the rounds add up to
--seconds; one cold round of either workload already lasts longer.
Every round after the first gets fresh inputs. Each
round is timed, then its outputs are checked untimed against an
independent computation; once per run the checks are shown to reject
corrupted copies of those outputs. Timings are medians over the timed
rounds.

The last line of standard output is one JSON object: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The traced run also enables Spark's event log, wraps
``CheckpointManager.write_step``, and writes the per-layer metrics to
.crawlbench-out/trace-<workload>-seed<n>.json.

All run state (inputs, checkpoints, outputs, event log, Spark scratch)
lives under .crawlbench-run/ in the checkout and is deleted at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("board_crawl", "near_dup")
#: input generations per run; setup_s takes their median.
INPUT_REPEATS = 3
#: Spark task slots. On a 4-CPU machine the cold crawl ran no slower at
#: local[2] than at local[4] and spent fewer CPU seconds, and the CPUs
#: left over take up part of what a busy host steals.
SPARK_CORES = 2


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def round_seed(seed: int, k: int) -> int:
    """Input seed of round `k`; the first round uses the run's seed."""
    return seed if k == 0 else seed * 1_000_003 + k


def _same_inputs(dirs: list[str]) -> bool:
    """True when every generated input tree has identical bytes."""
    def content(root):
        out = {}
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, root)] = f.read()
        return out

    first = content(dirs[0])
    return all(content(d) == first for d in dirs[1:])


def _rounds(args, wl, spark, run_dir: str):
    """Generate the inputs INPUT_REPEATS times (set-up), then run the
    rounds. Returns (rounds, inputs_s, inputs_ok)."""
    import harness

    gen_s, gen_dirs = [], []
    for i in range(INPUT_REPEATS):
        d = os.path.join(run_dir, f"inputs{i}")
        t = time.perf_counter()
        wl.make_inputs(args.seed, d)
        gen_s.append(time.perf_counter() - t)
        gen_dirs.append(d)
    inputs_ok = _same_inputs(gen_dirs)

    rounds: list[dict] = []
    while not rounds or sum(r["run_s"] for r in rounds) < args.seconds:
        k = len(rounds)
        if k == 0:
            inputs = gen_dirs[-1]
        else:
            # fresh inputs, so no round can reuse another's results;
            # generated before the round's timer starts
            inputs = os.path.join(run_dir, f"inputs-round{k}")
            wl.make_inputs(round_seed(args.seed, k), inputs)
        exp = wl.expected(round_seed(args.seed, k))

        def set_group(group):
            spark.sparkContext.setJobGroup(group, group)

        write_step: dict = {}
        work = os.path.join(run_dir, f"round{k}")
        # memory is a per-layer metric: sampled in the traced run only,
        # so the sampling thread adds nothing to the untraced cpu_s
        traced = ((harness.MemSampler(), harness.timed_write_step(write_step))
                  if args.trace else (contextlib.nullcontext(),) * 2)
        cpu0, steal0 = harness.tree_cpu_s(), harness.steal_s()
        with traced[0] as mem, traced[1]:
            r = wl.run_round(spark, inputs, work, set_group)
        r["cpu_s"] = harness.tree_cpu_s() - cpu0
        r["steal_s"] = harness.steal_s() - steal0
        if args.trace:
            r["layer"]["checkpoint.write_s"] = write_step.get("s", 0.0)
        r["mem"] = mem
        # untimed: every round's outputs are checked, and once per run the
        # checks must reject corrupted copies of them
        r["ops"] = wl.check(r["outputs"], exp)
        r["check_gaps"] = wl.selftest(r["outputs"], exp) if k == 0 else []
        del r["outputs"]
        rounds.append(r)
        steps = r["layer"].get("crawl.supersteps")
        print(f"round {k}: run_s={r['run_s']:.3f} cpu_s={r['cpu_s']:.3f}"
              f" steal_s={r['steal_s']:.3f} pages={r['pages']}"
              + (f" supersteps={steps}" if steps is not None else ""),
              flush=True)
        shutil.rmtree(work)
    return rounds, statistics.median(gen_s), inputs_ok


def run(args, run_dir: str) -> tuple[dict, dict]:
    """One run; returns the result counts and both metric sets."""
    import harness

    harness.prepare_run_dir(run_dir, CHECKOUT)
    sys.path.insert(0, CHECKOUT)
    if args.workload == "board_crawl":
        import board_crawl as wl
    else:
        import near_dup as wl

    cpus = harness.cpu_count()
    cores = min(SPARK_CORES, cpus)
    probe_s = harness.cpu_probe()
    print(f"machine: cpus={cpus} probe_s={probe_s:.4f} spark=local[{cores}]",
          flush=True)

    t = time.perf_counter()
    spark = harness.start_spark(run_dir, cores, bool(args.trace))
    spark_s = time.perf_counter() - t
    try:
        rounds, inputs_s, inputs_ok = _rounds(args, wl, spark, run_dir)
    finally:
        harness.stop_spark(spark)

    attempted = failed = 0
    for r in rounds:
        for name, problems in r["ops"]:
            attempted += 1
            if problems:
                failed += 1
                print(f"FAILED {args.workload}.{name}: {'; '.join(problems)}",
                      flush=True)
    gaps = sorted({c for r in rounds for c in r["check_gaps"]})
    for c in gaps:
        print(f"CHECK GAP: the checks accepted a corrupted output ({c})",
              flush=True)
    if not inputs_ok:
        print("INPUTS: the same seed generated different inputs", flush=True)

    med = lambda f: statistics.median(f(r) for r in rounds)  # noqa: E731
    end_to_end = {
        "setup_s": spark_s + inputs_s,
        "cpu_s": med(lambda r: r["cpu_s"]),
    }
    layer = {
        "run_s": med(lambda r: r["run_s"]),
        "pages_per_s": med(lambda r: r["pages"] / r["run_s"]),
        "pages_per_cpu_s": med(lambda r: r["pages"] / r["cpu_s"]),
        "setup.spark_s": spark_s,
        "setup.inputs_s": inputs_s,
        "machine.probe_s": probe_s,
        "machine.steal_s": med(lambda r: r["steal_s"]),
        "machine.cpus": cpus,
        "run.rounds": len(rounds),
    }
    if args.trace:
        layer.update({
            "mem.peak_rss_mb": med(lambda r: r["mem"].peak_total / 2**20),
            "mem.jvm_peak_rss_mb": med(lambda r: r["mem"].peak_jvm / 2**20),
            "mem.python_peak_rss_mb": med(lambda r: r["mem"].peak_python / 2**20),
        })
    for key in rounds[0]["layer"]:
        layer[key] = med(lambda r: r["layer"][key])
    if args.trace:
        engine = harness.fold_event_log(os.path.join(run_dir, "events"))
        for g, ms in engine.items():
            for k, v in ms.items():
                layer[f"spark.{g}.{k}"] = v / len(rounds)
    result = {"correct": inputs_ok and not gaps,
              "attempted": attempted, "failed": failed}
    return result, {"end_to_end": end_to_end, "per_layer": layer}


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    base = os.path.join(CHECKOUT, ".crawlbench-run")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result, metrics = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # fails while another run still uses it

    kind = "per_layer" if args.trace else "end_to_end"
    got = metrics[kind]
    undeclared = set(got) - {m["name"] for m in declared[kind]}
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    # a per-layer metric of the other workload's layers reads 0
    out = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in declared[kind]}
    if args.trace:
        trace_dir = os.path.join(CHECKOUT, ".crawlbench-out")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, **result,
                       "metrics": out}, f, indent=1, sort_keys=True)
    result["metrics"] = out
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
