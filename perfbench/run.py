"""Benchmark of the graft engine: the changelog sink, the query engine and
the LLM-data pipeline, measured end to end from outside the program.

    python3 perfbench/run.py --workload sink --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload engine --seed 1 --seconds 10 --trace 1

Builds the program (perfbench/build.py), generates the fixed corpus,
runs one workload in one JVM on local[nproc] and prints, as the last
line, one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). A summary of the
workload's own figures goes to stderr, and the full record (samples,
spans, self times) to .bench_build/results/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import datagen  # noqa: E402
import metrics as M  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ("sink", "engine")
RUN_LIMIT_S = 170  # a run must end within 180 s; the JVM gets what is left
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]
# op spans that are not themselves a layer call of another op
OP_KINDS = ("query", "write", "read", "stream", "pipeline")


def driver_mem():
    """The tier-1 rule: half the box's memory in GiB, clamped to 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(run_dir, args, cpus, extra):
    mem = driver_mem()
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", *opens, f"-Xms{mem}", f"-Xmx{mem}",
             # the forked-run JIT flags of build.sbt
             "-XX:ReservedCodeCacheSize=1g", "-XX:PerMethodRecompilationCutoff=-1",
             "-XX:PerBytecodeRecompilationCutoff=-1",
             # the collection before each op must not unload Spark's
             # generated classes, or every op would run them cold again
             "-XX:-ClassUnloading",
             f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dspark.local.dir={run_dir / 'local'}",
             f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-cp", build.classpath(), "perfbench.Harness",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", str(run_dir / "data"), "--work", str(run_dir / "work"),
             "--out", str(run_dir / "result.json"), "--cpus", str(cpus), *extra])


def end_to_end(res, datagen_s):
    rounds = [r for r in res["rounds"] if not r["traced"]]
    return {
        "round_s": (M.median([r["work_ms"] for r in rounds]) / 1e3, "s"),
        "op_geomean_ms": (M.median([M.geomean([o["ms"] for o in r["ops"]]) for r in rounds]), "ms"),
        "setup_s": (datagen_s + res["setup_s"], "s"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }, {"rounds": len(rounds), "setup_phases_s": dict(res["setup_phases"], datagen=datagen_s)}


def per_layer(res, spans):
    traced = [r for r in res["rounds"] if r["traced"]]
    untraced = [r for r in res["rounds"] if not r["traced"]]
    n = len(traced)
    execs = res["exec"].values()

    def per_round(key):
        return sum(e[key] for e in execs) / n
    wall_ms = sum(r["wall_ms"] for r in traced)
    op_spans = [s for s in spans if s["id"] == s["op"] and s["kind"] in OP_KINDS]
    kids = M.children(spans)
    gap = sum((s["end"] - s["start"]) - M.union_ms(
        [(d["start"], d["end"]) for d in M.descendants(s, kids) if d["kind"] == "job"],
        s["start"], s["end"]) for s in op_spans)
    cov = M.coverage(spans)
    out = {
        "spark.jobs": (per_round("jobs"), "count"),
        "spark.stages": (per_round("stages"), "count"),
        "spark.tasks": (per_round("tasks"), "count"),
        "spark.task_run_ms": (per_round("task_run_ms"), "ms"),
        "spark.core_util": (sum(e["task_run_ms"] for e in execs) / (wall_ms * res["slots"]), "ratio"),
        "spark.driver_gap_ms": (gap / n, "ms"),
        "spark.plan_ms": (sum(s["end"] - s["start"] for s in spans if s["kind"] == "catalyst") / n, "ms"),
        "spark.shuffle_read_bytes": (per_round("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (per_round("shuffle_write_bytes"), "bytes"),
        "jvm.gc_ms": (sum(r["gc_ms"] for r in traced) / n, "ms"),
        "jvm.jit_ms": (sum(r["jit_ms"] for r in traced) / n, "ms"),
        "trace.overhead_pct": (100.0 * (M.median([r["work_ms"] for r in traced]) /
                                        M.median([r["work_ms"] for r in untraced]) - 1), "%"),
        "trace.coverage_pct": (100.0 * min(c for _, _, c in cov), "%"),
    }
    units = {"ns_per_row": "ns", "_ms": "ms"}
    for k, v in res["probes"].items():
        out[k] = (v, next((u for suffix, u in units.items() if k.endswith(suffix)), "count"))
    return out, cov


def workload_detail(res, spans):
    """The workload's own figures, for the summary and the record file."""
    rounds = [r for r in res["rounds"] if not r["traced"]]
    d, det = {}, res["detail"]

    def op_ms(name):
        return [o["ms"] for r in rounds for o in r["ops"] if o["name"] == name]
    if res["workload"] == "sink":
        for mode, rows in det["rows_written"].items():
            d[f"sink_{mode}_rows_per_s"] = M.median([rows / (ms / 1e3) for ms in op_ms(f"write {mode}")])
        d["sink_readback_s"] = M.median(op_ms("readback")) / 1e3
        epochs = [o["ms"] for r in rounds for o in r["ops"] if o["kind"] == "epoch"]
        d["stream_epoch_p50_ms"] = M.median(epochs)
        d["stream_epoch_p90_ms"], d["stream_epoch_tail_percentile"] = M.tail(epochs)
        for phase in ("addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch",
                      "queryPlanning"):
            vals = [p[phase] for p in det["epoch_phases"] if phase in p]
            if vals:
                d[f"stream.{phase}_ms_p50"] = M.median(vals)
        for k in ("rows_in", "rows_dropped", "rows_written", "flushes", "scan_exchanges",
                  "scan_rows_read"):
            d[f"sink.{k}"] = det[k]
    else:
        queries = [[o["ms"] for o in r["ops"] if o["kind"] == "query"] for r in rounds]
        d["query_total_s"] = M.median([sum(q) for q in queries]) / 1e3
        d["query_geomean_s"] = M.median([M.geomean(q) for q in queries]) / 1e3
        fam_of = {k: f for f, ks in det["families"].items() for k in ks}
        per_key = {}
        for r in rounds:
            for o in r["ops"]:
                if o["kind"] == "query":
                    per_key.setdefault(o["name"], []).append(o["ms"])
        d["key_ms"] = {k: M.median(v) for k, v in sorted(per_key.items())}
        fam = {}
        for k, ms in d["key_ms"].items():
            fam[fam_of[k]] = fam.get(fam_of[k], 0.0) + ms
        d["family_ms"] = fam
        d["pipeline_s"] = M.median(op_ms("pipeline_run")) / 1e3
        d["pipeline_incremental_s"] = M.median(op_ms("pipeline_incremental")) / 1e3
        st = {}
        for s in det["stage_secs"]:
            st.setdefault(f"pipeline.stage.{s['mode']}.{s['stage']}_s", []).append(s["secs"])
        d.update({k: M.median(v) for k, v in st.items()})
    if spans:
        d.update(traced_detail(res, spans))
    return d


def traced_detail(res, spans):
    """Per-op layer figures of the traced rounds (query families, the
    sink's write stage and read-back scan).
    """
    d = {"self_ms_by_kind": M.self_times(spans)}
    n = sum(1 for r in res["rounds"] if r["traced"])
    by_id = {s["id"]: s for s in spans}
    kids = M.children(spans)
    layer = {}
    for op_id, e in res["exec"].items():
        op = by_id.get(int(op_id))
        if op is None:
            continue
        key = next((f"query.{f}" for f, ks in res["detail"].get("families", {}).items()
                    if op["name"] in ks), op["name"])
        acc = layer.setdefault(key, {})
        for k, v in e.items():
            acc[k] = acc.get(k, 0) + v / n
        for s in M.descendants(op, kids):
            if s["kind"] in ("build", "plan", "exec", "catalyst"):
                name = "catalyst_ms" if s["kind"] == "catalyst" else f"{s['kind']}_ms"
                acc[name] = acc.get(name, 0) + (s["end"] - s["start"]) / n
    d["layers_by_op"] = layer
    return d


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true",
                   help="record the outputs as the pinned values in expected.json")
    args = p.parse_args(argv)
    try:
        build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    started = time.monotonic()
    run_dir = build.build_dir() / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        for sub in ("tmp", "local", "work"):
            (run_dir / sub).mkdir(parents=True)
        t0 = time.monotonic()
        datagen.write(str(run_dir / "data"))
        datagen_s = time.monotonic() - t0
        extra = ["--pin", "1"] if args.pin else ["--expected", str(HERE / "expected.json")]
        cpus = len(os.sched_getaffinity(0))
        limit = RUN_LIMIT_S - (time.monotonic() - started)
        try:
            proc = subprocess.run(java_cmd(run_dir, args, cpus, extra), stdout=sys.stderr,
                                  timeout=limit, cwd=run_dir)
        except subprocess.TimeoutExpired:
            print(f"perfbench: the run passed {RUN_LIMIT_S} s and was stopped", file=sys.stderr)
            return 3
        if proc.returncode != 0 or not (run_dir / "result.json").is_file():
            print(f"perfbench: the harness exited {proc.returncode}", file=sys.stderr)
            return 3
        res = json.loads((run_dir / "result.json").read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    spans = M.resolve_parents(res["spans"]) if args.trace else []
    if args.trace:
        metrics, cov = per_layer(res, spans)
        info = {"coverage": cov}
    else:
        metrics, info = end_to_end(res, datagen_s)
    detail = workload_detail(res, spans)
    if args.pin:
        pins_file = HERE / "expected.json"
        pins = json.loads(pins_file.read_text()) if pins_file.is_file() else {}
        pins.update(res["observed"])
        pins_file.write_text(json.dumps(dict(sorted(pins.items())), indent=1) + "\n")
    out_dir = build.build_dir() / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    record = {"args": vars(args), "metrics": metrics, "info": info, "detail": detail,
              "error_rate": M.error_rate(res["attempted"], res["failed"]),
              "failures": res["failures"], "rounds": res["rounds"], "spans": spans}
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(record))
    print(f"[perfbench] {args.workload} seed={args.seed}: "
          f"error_rate={record['error_rate']:.4f} {json.dumps(info, default=str)[:2000]}", file=sys.stderr)
    for k, v in detail.items():
        print(f"[perfbench]   {k} = {json.dumps(v)[:400]}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
