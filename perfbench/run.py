#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the library and the JVM harness
from source (once per checkout, into ``.bench_build``), makes the seeded
inputs, runs the workload in one JVM on ``local[<cores>]``, checks every
output, prints each metric by name and unit, and ends with one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1`` (see ``BENCHMARK.json`` and ``perfbench/README.md``).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.time()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing outside .bench_build
import stats  # noqa: E402

SCALE = 0.01
# The stream stages keep the program's own settings: 1 hour tumbling
# windows with a 5 minute watermark (tools/PipelineDemo.scala and the stream
# tests) and DedupStage's 1 hour horizon. Event time runs `time_scale` times
# faster than the schedule (an event-time hour per 2 s), so windows close
# and state is evicted within a run.
STREAM = {"rate": 5_000, "interval_ms": 1000, "drain_events": 30_000,
          "warm_events": 40_000, "drain_cap": 10_000, "time_scale": 1800,
          "window_s": 3600, "window_watermark_s": 300, "dedup_watermark_s": 3600}
MIN_BATCHES = 2
WARM_TRIGGERS = 2
JVM_TIMEOUT_S = 170
E2E = [("setup_s", "s"), ("batch_s", "s"), ("query_geomean_s", "s"),
       ("lat_p50_ms", "ms"), ("lat_p90_ms", "ms")]


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, or next to the
    `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not home or not jars.is_dir():
        sys.exit("no Spark distribution found: set SPARK_HOME")
    return jars


def build():
    """Compile the library and the harness with the Scala compiler that
    ships in the Spark distribution; reuse the classes while no source
    changes."""
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        sys.exit("no library sources under src/main/scala: run from a graft checkout")
    srcs += sorted((HERE / "src").rglob("*.scala"))
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    out = build_dir() / f"classes-{h.hexdigest()[:16]}"
    if (out / ".built").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cp = f"{spark_jars()}/*"
    print(f"[perfbench] compiling {len(srcs)} sources into {out}", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                   check=True, timeout=880)
    argfile.unlink()
    (tmp / ".built").touch()
    tmp.rename(out)
    return out


def make_inputs(workload, seed, seconds, work):
    import inputs
    data = work / "tables"
    data.mkdir()
    if workload == "kse_stream":
        inputs.warehouse(str(data), SCALE, only=("documents", "embeddings"))
        s = STREAM
        phases = {"warm": s["warm_events"], "drain": s["drain_events"],
                  "steady": int(s["rate"] * (seconds + WARM_TRIGGERS * s["interval_ms"] / 1000))}
        for k, (phase, n) in enumerate(phases.items()):
            records, windows = inputs.event_log(seed * 3 + k, n, s["rate"], s["window_s"],
                                                s["time_scale"])
            inputs.write_event_log(str(work / f"events-{phase}.tsv"), records, windows)
        args = ["--events", str(work / "events"), "--rate", str(s["rate"]),
                "--interval-ms", str(s["interval_ms"]), "--drain-cap", str(s["drain_cap"]),
                "--warm-triggers", str(WARM_TRIGGERS),
                "--window-s", str(s["window_s"]),
                "--window-watermark-s", str(s["window_watermark_s"]),
                "--dedup-watermark-s", str(s["dedup_watermark_s"])]
    else:
        inputs.warehouse(str(data), SCALE)
        order = inputs.query_order(inputs.QUERIES[workload], seed)
        args = ["--order", ",".join(order), "--min-passes", str(MIN_BATCHES)]
    return ["--data", str(data)] + args


def run_jvm(classes, workload, seconds, trace, work, extra):
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m",
           f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    out = work / "result.json"
    cmd += ["-cp", f"{classes}:{spark_jars()}/*", "graftbench.Main",
            "--workload", workload, "--trace", str(trace), "--cores", str(cores),
            "--seconds", str(seconds), "--work", str(work), "--out", str(out)] + extra
    budget = JVM_TIMEOUT_S - (time.time() - T_START)
    subprocess.run(cmd, check=True, timeout=budget, stdout=sys.stderr, cwd=work)
    result = json.loads(out.read_text())
    spans = out.with_name(out.name + ".spans.json")
    return result, spans


def batch_outcome(workload, r):
    """End-to-end metrics and (attempted, failed) of a report-batch run."""
    expected = json.loads((HERE / "expected.json").read_text())[str(SCALE)]
    calls = r["warmup"] + [q for p in r["passes"] for q in p["queries"]]
    bad = [q for q in calls if expected.get(q["name"]) != {"rows": q["rows"], "hash": q["hash"]}]
    for q in bad:
        print(f"[perfbench] MISMATCH {q['name']}: got {q['rows']} rows, hash {q['hash']};"
              f" expected {expected.get(q['name'])}")
    # each query's mean over the run's batches, which alternate between the
    # seed's order and its reverse (see Batch.scala). The latencies are
    # those of whole report batches: a single warm query's time varies by
    # about a third from call to call at this scale, too much for
    # percentiles over a handful of query calls to repeat between runs.
    per_query = {}
    for p in r["passes"]:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["build_s"] + q["collect_s"])
    times = [statistics.fmean(v) for v in per_query.values()]
    batches = [sum(q["build_s"] + q["collect_s"] for q in p["queries"]) for p in r["passes"]]
    metrics = {
        "batch_s": sum(times),
        "query_geomean_s": stats.geomean(times),
        "lat_p50_ms": stats.percentile(batches, 50) * 1000,
        "lat_p90_ms": stats.percentile(batches, 90) * 1000,
    }
    print("[perfbench] query times (s), one per batch: " + json.dumps(per_query))
    print(f"[perfbench] {len(r['passes'])} measured batch(es) of {len(r['passes'][0]['queries'])}"
          f" queries; contention probe {[round(p['probe_s'], 3) for p in r['passes']]} s")
    return metrics, len(calls), len(bad)


def stream_outcome(r):
    failed = 0
    attempted = 0
    for phase, c in r["checks"].items():
        errs = c["missing"] + c["duplicated"] + c["unexpected"] + c["rollup_wrong_n"] + c["rollup_missing"]
        attempted += c["events"] + c["rollups"]
        failed += errs
        print(f"[perfbench] {phase}: {c}")
    metrics = {
        "batch_s": r["drain_s"],
        "query_geomean_s": stats.geomean(r["trigger_s"]),
        "lat_p50_ms": stats.percentile(r["lat_ms"], 50),
        "lat_p90_ms": stats.percentile(r["lat_ms"], 90),
    }
    rollup = stats.percentile(r["rollup_lat_ms"], 50) if r["rollup_lat_ms"] else float("nan")
    print(f"[perfbench] drain {r['drain_events']} events in {r['drain_s']:.3f} s ="
          f" {r['drain_events'] / r['drain_s']:.1f} events/s; steady {len(r['lat_ms'])} events,"
          f" lat p99 {stats.percentile(r['lat_ms'], 99):.1f} ms,"
          f" rollup lat p50 {rollup:.1f} ms over {len(r['rollup_lat_ms'])} rollups;"
          f" contention probe {r['probes_s']} s")
    return metrics, attempted, failed


def layers_of(r):
    layers = r["layers"]
    keys = sorted(set().union(*layers))
    out = {k: statistics.median([l.get(k, 0.0) for l in layers]) for k in keys}
    out["engine.session_s"] = r["session_s"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytics", "curation", "kse_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run must not leave its JVM behind: SystemExit unwinds
    # through subprocess.run, which kills and reaps the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build()
    global T_START
    T_START = time.time()  # set-up is timed from here: the build is once per checkout
    work = build_dir() / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        extra = make_inputs(a.workload, a.seed, a.seconds, work)
        r, spans = run_jvm(classes, a.workload, a.seconds, a.trace, work, extra)
        if a.workload == "kse_stream":
            metrics, attempted, failed = stream_outcome(r)
        else:
            metrics, attempted, failed = batch_outcome(a.workload, r)
        metrics["setup_s"] = r["ready_ms"] / 1000 - T_START
        e2e = {k: {"value": metrics[k], "unit": u} for k, u in E2E}
        for k, v in e2e.items():
            print(f"{k} = {v['value']:.4f} {v['unit']}")
        # the tracing overhead compares runs of the same workload, seed and build
        untraced = build_dir() / f"untraced-{a.workload}-seed{a.seed}-{classes.name}.json"
        if a.trace:
            layers = trace_report(a, r, spans, e2e, untraced)
            per_layer = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
            out_metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                           for m in per_layer}
        else:
            untraced.write_text(json.dumps(e2e))
            out_metrics = e2e
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out_metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def trace_report(a, r, spans, e2e, untraced):
    """Per-layer metrics, the self-time table and the tracing overhead."""
    layers = layers_of(r)
    trace_dir = build_dir() / "traces"
    trace_dir.mkdir(exist_ok=True)
    dest = trace_dir / f"{a.workload}-seed{a.seed}.spans.json"
    shutil.copy(spans, dest)
    print(f"[perfbench] spans written to {dest}")
    print(f"{'layer':<12} {'self s':>9}")
    for layer, s in sorted(r["self_s"].items(), key=lambda kv: -kv[1]):
        print(f"{layer:<12} {s:9.3f}")
    for k in sorted(layers):
        print(f"  {k} = {layers[k]:.4f}")
    if untraced.exists():
        base = json.loads(untraced.read_text())
        for k, v in e2e.items():
            d = v["value"] - base[k]["value"]
            print(f"tracing overhead {k}: {d:+.4f} {v['unit']}"
                  f" ({d / base[k]['value']:+.1%}; traced minus untraced)")
    else:
        print("tracing overhead: no baseline (no untraced run of this workload and seed"
              " with this build in this checkout yet)")
    return layers


if __name__ == "__main__":
    main()
