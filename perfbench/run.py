#!/usr/bin/env python3
"""The repo benchmark: one workload run, printed as one JSON line.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload NAME --steady 10      # spread of 10 seeds
  python3 perfbench/run.py --workload NAME --overhead 5     # tracing overhead
  python3 perfbench/run.py --workload batch_sql --record    # refresh expected.json

Run from the repo root. The first run builds the program from source into
the build directory ($CARGO_TARGET_DIR, default .bench_build). See
perfbench/README.md for the workloads and the metric map.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics as m  # noqa: E402

END_TO_END = {"setup_s": "s", "ingest_rps": "records/s", "e2e_latency_p50_ms": "ms",
              "e2e_latency_p99_ms": "ms", "suite_s": "s", "retained_heap_mb": "MB"}
LAYERS = ("bench", "kinesis", "streaming", "queries", "spark", "cleanup")
PROGRESS_PHASES = {"kinesis.latest_offset_ms": "latestOffset", "kinesis.get_batch_ms": "getBatch",
                   "streaming.add_batch_ms": "addBatch", "streaming.query_planning_ms": "queryPlanning",
                   "streaming.wal_commit_ms": "walCommit", "streaming.commit_offsets_ms": "commitOffsets"}
ENGINE = {"spark.stages": "stages", "spark.tasks": "tasks",
          "spark.shuffle_read_bytes": "shuffle_read_bytes", "spark.shuffle_write_bytes": "shuffle_write_bytes",
          "spark.spill_bytes": "spill_bytes", "spark.executor_run_ms": "executor_run_ms",
          "spark.executor_cpu_ms": "executor_cpu_ns", "spark.gc_ms": "gc_ms",
          "spark.blocks_dropped": "blocks_dropped"}


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def gated_workloads():
    """The workloads BENCHMARK.json lists, which every run reports on."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def query_rows(config, workload):
    """Rows with per-layer metrics: those of the listed batch workloads and
    of the workload being run."""
    gated = gated_workloads()
    names = [w for w in ("batch_sql", "llm_dedup") if w in gated or w == workload]
    return [r for w in names for r in config["workloads"][w]["rows"]["value"]]


def per_layer_units(config, workload):
    """Every per-layer metric name with its unit, in report order."""
    units = {"kinesis.latest_offset_ms": "ms", "kinesis.get_batch_ms": "ms",
             "kinesis.progress_other_ms": "ms", "kinesis.pending_records_max": "records",
             "kinesis.millis_behind_max": "ms", "kinesis.page_head_ms": "ms",
             "kinesis.page_tail_ms": "ms", "kinesis.put_ms": "ms",
             "kinesis.generator_late_ms": "ms", "kinesis.kpl_aggregate_mb_s": "MB/s",
             "kinesis.kpl_parse_mb_s": "MB/s", "kinesis.sink_records_per_blob": "records/blob",
             "kinesis.sink_blobs": "count", "kinesis.source_records_per_blob": "records/blob",
             "kinesis.dups_sent": "count",
             "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
             "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
             "streaming.batches": "count", "streaming.state_rows_total": "rows",
             "streaming.state_memory_bytes": "bytes", "streaming.state_commit_ms": "ms",
             "streaming.state_rows_updated": "rows"}
    for row in query_rows(config, workload):
        units.update({f"queries.{row}.build_s": "s", f"queries.{row}.plan_s": "s",
                      f"queries.{row}.exec_s": "s", f"queries.{row}.jobs": "count"})
    units.update({k: ("bytes" if k.endswith("bytes") else "ms" if k.endswith("_ms") else "count")
                  for k in ENGINE})
    units.update({"cleanup.release_s": "s", "failed_ratio": "ratio",
                  "latency.samples": "count", "latency.tail_pct": "%"})
    units.update({f"trace.self_s.{layer}": "s" for layer in LAYERS})
    units.update({f"trace.e2e.{k}": u for k, u in END_TO_END.items()})
    return units


def cores_for(spec):
    """Spark threads for a spec like "nproc" or "nproc-1"."""
    nproc = len(os.sched_getaffinity(0))
    return max(1, nproc + int(spec[len("nproc"):] or 0))


# ----------------------------------------------------------------- metrics --

def _progress(raw, phase, workload):
    if workload == "kinesis_backfill":
        return [p for p in raw["progress"] if p["tag"].startswith(phase + "#")]
    return [p for p in raw["progress"] if p["tag"] == phase]


def phase_end_to_end(raw, phase, workload):
    """The four end-to-end numbers one timed phase yields, plus the latency
    sample count and the tail quantile the count supports."""
    ph = raw["phases"][phase]
    if workload == "kinesis_backfill":
        drains = ph["drains"]
        points = []
        for d in drains:
            prog = [p for p in raw["progress"] if p["tag"] == d["tag"]]
            points += m.batch_landing_ms(prog, d["start_ms"])
        n = sum(w for _, w in points)
        q = m.supported_quantile(n)
        return {"ingest_rps": statistics.median(d["records"] / d["drain_s"] for d in drains),
                "e2e_latency_p50_ms": m.weighted_percentile(points, 0.5),
                "e2e_latency_p99_ms": m.weighted_percentile(points, q),
                "suite_s": statistics.median(d["drain_s"] for d in drains)}, n, q
    if workload == "kinesis_relay":
        lat = [m.latency_ms(d, s) for d, s in zip(ph["due_us"], ph["seen_us"])]
        p99, q, n = m.tail(lat)
        return {"ingest_rps": len(lat) / ph["last_seen_s"],
                "e2e_latency_p50_ms": m.percentile(lat, 0.5),
                "e2e_latency_p99_ms": p99, "suite_s": ph["last_seen_s"]}, n, q
    lat = [(r["build_s"] + r["plan_s"] + r["exec_s"]) * 1000.0 for r in ph["rows"]]
    p99, q, n = m.tail(lat)
    return {"ingest_rps": ph["engine"].get("input_records", 0) / sum(ph["passes_s"]),
            "e2e_latency_p50_ms": m.percentile(lat, 0.5),
            "e2e_latency_p99_ms": p99, "suite_s": statistics.median(ph["passes_s"])}, n, q


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(raw, workload, config):
    """Per-layer numbers of a traced run; 0 where the workload does not
    exercise the layer."""
    units = per_layer_units(config, workload)
    out = {k: 0.0 for k in units}
    ph = raw["phases"]["traced"]
    prog = _progress(raw, "traced", workload)
    for name, key in PROGRESS_PHASES.items():
        out[name] = _mean(p["duration_ms"].get(key, 0) for p in prog)
    out["kinesis.progress_other_ms"] = _mean(m.progress_other_ms(p["duration_ms"]) for p in prog)
    src = [p["source_metrics"] for p in prog]
    out["kinesis.pending_records_max"] = max([int(s.get("recordsPendingTotal", 0)) for s in src], default=0)
    out["kinesis.millis_behind_max"] = max([int(s.get("maxMillisBehindLatest", 0)) for s in src], default=0)
    out["streaming.batches"] = len(prog)
    out["streaming.state_rows_total"] = max([p["state_rows_total"] for p in prog], default=0)
    out["streaming.state_memory_bytes"] = max([p["state_memory_bytes"] for p in prog], default=0)
    out["streaming.state_commit_ms"] = _mean(p["state_commit_ms"] for p in prog)
    out["streaming.state_rows_updated"] = _mean(p["state_rows_updated"] for p in prog)
    for k in ("page_head_ms", "page_tail_ms", "kpl_aggregate_mb_s", "kpl_parse_mb_s", "dups_sent"):
        if k in ph:
            out[f"kinesis.{k}"] = ph[k]
    if workload == "kinesis_relay":
        out["kinesis.put_ms"] = _mean(ph["put_ms"])
        out["kinesis.generator_late_ms"] = m.tail(ph["late_ms"])[0]
        out["kinesis.sink_blobs"] = ph["sink_blobs"]
        out["kinesis.sink_records_per_blob"] = ph["sink_records"] / max(1, ph["sink_blobs"])
        out["kinesis.source_records_per_blob"] = ph["source_records"] / max(1, ph["source_blobs"])
        units_of_work = ph["offered_s"]
    elif workload == "kinesis_backfill":
        units_of_work = len(ph["drains"])
    else:
        units_of_work = len(ph["passes_s"])
        for row in {r["row"] for r in ph["rows"]}:
            mine = [r for r in ph["rows"] if r["row"] == row]
            for k in ("build_s", "plan_s", "exec_s", "jobs"):
                out[f"queries.{row}.{k}"] = statistics.median(r[k] for r in mine)
    for name, key in ENGINE.items():
        v = ph["engine"].get(key, 0)
        out[name] = (v / 1e6 if key == "executor_cpu_ns" else v) / units_of_work
    out["cleanup.release_s"] = (statistics.median(ph["cleanup_s"]) if "cleanup_s" in ph
                                else raw["cleanup_s"])
    out["failed_ratio"] = raw["failed"] / max(1, raw["attempted"])
    e2e, n, q = phase_end_to_end(raw, "traced", workload)
    out["latency.samples"] = n
    out["latency.tail_pct"] = 100.0 * q
    out.update({f"trace.self_s.{k}": v for k, v in m.layer_self_s(raw["spans"], LAYERS).items()})
    out.update({f"trace.e2e.{k}": v["value"] for k, v in end_to_end(raw, workload, "traced").items()})
    return {k: {"value": float(out[k]), "unit": units[k]} for k in units}


def end_to_end(raw, workload, phase="untraced"):
    e2e, _, _ = phase_end_to_end(raw, phase, workload)
    e2e["setup_s"] = statistics.median(raw["setup_s"])
    e2e["retained_heap_mb"] = raw["retained_heap_mb"]
    return {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}


# --------------------------------------------------------------------- run --

def jvm_args(work, heap):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    args = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        args += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return args


def run_harness(args, config, build_dir, record=False):
    spec = config["workloads"][args.workload]
    props = {k: v["value"] for k, v in spec.items()}
    conf = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores_for(props.pop("spark_cores")),
            "setup_reps": props.pop("setup_reps")}
    if args.workload in ("batch_sql", "llm_dedup"):
        import fixture
        conf["fixture"] = fixture.ensure(os.path.join(build_dir, "fixture"))
        conf["rows"] = ",".join(props.pop("rows"))
        if record:
            conf["record"] = 1
        else:
            with open(os.path.join(HERE, "expected.json")) as f:
                exp = json.load(f)[args.workload]
            conf.update({f"expect.{r}": f"{v['count']}:{v['hash']}" for r, v in exp.items()})
    conf.update(props)
    work = os.path.join(build_dir, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    conf.update({"work": work, "out": out})
    cmd = jvm_args(work, config["jvm_heap"]["value"]) + [
        "-cp", build.classpath(ROOT, build_dir), "perfbench.Main"] + [f"{k}={v}" for k, v in conf.items()]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=160)  # a run must end within 180 s
        if code != 0:
            raise SystemExit(f"perfbench: harness exited with {code}")
        with open(out) as f:
            return json.load(f)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: harness timed out")
    finally:
        # Also on timeout or SIGTERM: the JVM must not outlive this process.
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def record(args, config, build_dir):
    raw = run_harness(args, config, build_dir, record=True)
    path = os.path.join(HERE, "expected.json")
    exp = json.load(open(path)) if os.path.exists(path) else {}
    exp[args.workload] = {r["row"]: {"count": r["count"], "hash": r["hash"]}
                          for r in raw["recorded"]}
    with open(path, "w") as f:
        json.dump(exp, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(exp[args.workload]))


def _runs(args, seeds, trace):
    """Runs the workload once per seed in child processes; yields each
    result line's metrics."""
    for seed in seeds:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
        done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        line = done.stdout.strip().splitlines()[-1]
        print(line, flush=True)
        yield {k: v["value"] for k, v in json.loads(line)["metrics"].items()}


def steady(args):
    """Runs the workload once per seed and prints median, quartiles and
    spread ((q3 - q1) / median) of every metric."""
    values = {}
    for res in _runs(args, range(args.seed, args.seed + args.steady), args.trace):
        for k, v in res.items():
            values.setdefault(k, []).append(v)
    summary = {}
    for k, vs in values.items():
        med, q1, q3, sp = m.spread(vs)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "n": len(vs)}
        print(f"{k:45s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  spread {sp:8.4f}")
    print(json.dumps({"workload": args.workload, "steady": summary}))


def overhead(args):
    """Tracing overhead: median of each end-to-end metric over traced runs
    minus its median over untraced runs, on the same seeds. The two kinds
    alternate, so drift in host speed falls on both alike."""
    plain, traced = [], []
    for seed in range(args.seed, args.seed + args.overhead):
        plain += _runs(args, [seed], 0)
        traced += _runs(args, [seed], 1)
    result = {}
    for k, unit in END_TO_END.items():
        u = statistics.median(r[k] for r in plain)
        t = statistics.median(r[f"trace.e2e.{k}"] for r in traced)
        result[k] = {"untraced": u, "traced": t, "overhead": t - u, "unit": unit}
        print(f"{k:25s} untraced {u:14.4f}  traced {t:14.4f}  overhead {t - u:+12.4f} {unit}")
    print(json.dumps({"workload": args.workload, "overhead": result}))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    config = load_config()
    ap.add_argument("--workload", required=True, choices=list(config["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, help="repeat over this many seeds")
    ap.add_argument("--overhead", type=int, default=0,
                    help="traced minus untraced medians over this many seeds")
    ap.add_argument("--record", action="store_true", help="rewrite expected.json for a batch workload")
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    if args.overhead:
        return overhead(args)
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    build.build(ROOT, build_dir)
    if args.record:
        return record(args, config, build_dir)
    started = time.time()
    raw = run_harness(args, config, build_dir)
    metrics = (layer_metrics(raw, args.workload, config) if args.trace
               else end_to_end(raw, args.workload))
    correct = raw["failed"] == 0 and raw["attempted"] > 0
    for f in raw["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed {args.seed}: {raw['attempted']} attempted, "
          f"{raw['failed']} failed, {time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
