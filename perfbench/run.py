"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload replay_cow --seed 1 --seconds 25 --trace 0

Run from the repo root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``). A human-readable table, the
environment record and any check failures go to standard error, and
the full record (spans included) to ``.perfbench/records/``.

``--seconds`` is recorded but does not size the run: every workload
times a fixed amount of work, so each run measures the same calls
whatever the host's speed.

Exit codes: 0 ok; 1 a correctness check failed or an operation raised;
2 the program is not there to run; 3 a generated input does not match
its pinned checksum in ``perfbench/inputs.json``.

``--pin 0-30`` generates every workload's inputs for those seeds and
records their checksums, and those of the canary samples, in
``perfbench/inputs.json`` (it refuses to change one already recorded).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
PINS = os.path.join(HERE, "inputs.json")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_id() -> dict:
    """The git commit when there is one, and always a digest of the
    package sources (a benchmark checkout is not a git repository)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError):
        out = []
    # only this tree's own repository, not one that happens to enclose it
    commit = out[1] if len(out) == 2 and os.path.samefile(out[0], ROOT) else None
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(os.path.join(ROOT, "filters_spark"))):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def load_pins() -> dict:
    if not os.path.exists(PINS):
        return {}
    with open(PINS) as f:
        return json.load(f)


def check_pins(spark, workload: str, seed: int, checksums: dict) -> list[str]:
    """Mismatches between the generated inputs and ``inputs.json``: the
    workload's canary samples always, its full inputs when the seed is
    pinned."""
    import workloads

    pins = load_pins()
    if "canary" not in pins:
        return ["inputs.json has no canary checksums"]
    bad = [f"canary {k}: {v} != pinned {pins['canary'].get(k)}"
           for k, v in workloads.canary(spark, workload).items()
           if pins["canary"].get(k) != v]
    key = f"{workload}/{seed}"
    return bad + [f"{key} {k}: {checksums.get(k)} != pinned {v}"
                  for k, v in pins.get(key, {}).items() if checksums.get(k) != v]


def e2e_metrics(res: dict, run, peak_rss_mb: float, details: dict) -> dict:
    import harness

    e = res["e2e"]
    out = {
        "setup_s": run.setup_s,
        "ingest_events_per_s": e["ingest_events_per_s"],
        "scan_s": e["scan_s"],
        "write_bytes_per_event": e["write_bytes_per_event"],
        "peak_rss_mb": peak_rss_mb,
    }
    for kind in ("batch", "lookup"):
        xs = e[f"{kind}_latency"]
        value, pct, n = harness.tail(xs)
        out[f"{kind}_latency_p50_s"] = harness.median(xs)
        out[f"{kind}_latency_tail_s"] = value
        details[f"{kind}_latency_tail"] = {"percentile": pct, "samples": n}
    return out


def pin(seeds: list[int]) -> int:
    """Record the canary and every workload's input checksums for
    ``seeds``; refuse if one already recorded has changed."""
    import harness
    import workloads

    work = os.path.join(OUT, f"work-{os.getpid()}")
    pins = load_pins()
    spark = harness.start_spark(work, ROOT)
    try:
        run = workloads.Run(spark, harness.Tracer(spark, "pin", False), work, 0)
        got = {"canary": workloads.canary(spark)}
        for name, (inputs_fn, _) in workloads.WORKLOADS.items():
            for seed in seeds:
                got[f"{name}/{seed}"] = inputs_fn(run, seed)["checksums"]
        for key, sums in got.items():
            if pins.setdefault(key, sums) != sums:
                print(f"{key}: inputs changed since pinned", file=sys.stderr)
                return 3
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", help="seed range a-b: record input checksums")
    args = ap.parse_args()

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if not args.pin and args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    if importlib.util.find_spec("filters_spark") is None or not os.path.exists(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"filters_spark is not importable from {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    if args.pin:
        lo, _, hi = args.pin.partition("-")
        return pin(list(range(int(lo), int(hi or lo) + 1)))

    import pyspark

    import harness
    import workloads
    from bench import host_sentinel

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(OUT, f"work-{os.getpid()}")
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "env": {
            "cpus": os.cpu_count(), "master": f"local[{harness.CPUS}]",
            "driver_memory": os.environ.get("FILTERS_SPARK_DRIVER_MEM", harness.DRIVER_MEM),
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            **source_id(),
        },
        "sentinel_before": host_sentinel(0.1),
    }
    inputs_fn, workload_fn = workloads.WORKLOADS[args.workload]
    res, run, errors, spark = None, None, [], None
    try:
        t = time.perf_counter()
        spark = harness.start_spark(work, ROOT)
        session_s = time.perf_counter() - t
        tracer = harness.Tracer(spark, run_id, bool(args.trace))
        run = workloads.Run(spark, tracer, work, args.seed)
        with harness.RssSampler(spark._jvm.ProcessHandle.current().pid()) as rss:
            run.setup_s = run.phases["session"] = session_s
            inputs = inputs_fn(run, args.seed)
            run.phase("inputs")
            bad = check_pins(spark, args.workload, args.seed, inputs["checksums"])
            run.phase("pins")
            if bad:
                print("refusing to run: generated inputs differ from the pinned "
                      "checksums:\n  " + "\n  ".join(bad), file=sys.stderr)
                return 3
            record["input_checksums"] = inputs["checksums"]
            res = workload_fn(run, inputs)
            run.phase("trace probes" if args.trace else "report")
        record["peak_rss_mb"] = rss.peak_mb
        record["peak_rss_jvm_mb"] = rss.peak_jvm_kb / 1024.0
        record["peak_processes"] = rss.peak_procs
    except Exception:
        errors.append(traceback.format_exc())
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["sentinel_after"] = host_sentinel(0.1)

    ops = run.ops if run else None
    attempted = (ops.attempted if ops else 0) + len(errors)
    failed = (ops.failed if ops else 0) + len(errors)
    record["failures"] = (ops.failures if ops else []) + errors
    record["ops_failed_frac"] = failed / max(attempted, 1)
    metrics = {}
    if res is not None:
        record["details"] = {**res["details"], "phases_s": run.phases}
        if args.trace:
            values = res["layer"]
            wanted = spec["per_layer"]
            record["spans"] = run.tracer.spans
        else:
            values = e2e_metrics(res, run, record["peak_rss_mb"], record["details"])
            wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in wanted}
    record["metrics"] = metrics

    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    with open(os.path.join(OUT, "records", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k in ("env", "sentinel_before", "sentinel_after", "details"):
        print(f"# {k}: {json.dumps(record.get(k), default=str)}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"# {name:40s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(f"# ops_failed_frac {record['ops_failed_frac']} ({failed}/{attempted})",
          file=sys.stderr)
    for msg in record["failures"]:
        print(f"# FAILED: {msg}", file=sys.stderr)

    correct = failed == 0 and res is not None
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
