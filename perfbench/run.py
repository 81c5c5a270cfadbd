#!/usr/bin/env python3
"""The repo benchmark: one command, two workloads (ingest runs a bulk and a
paced phase).

    python3 perfbench/run.py --workload {ingest,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. Each run starts
a fresh JVM (perfbench.Main) that runs one workload and writes a raw run
record; this script checks the outputs, derives the metrics and prints, as
its last stdout line, one JSON object with `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Lines before it name the workload's metrics in the terms of
NOTES.md, with their sample counts, and the run context.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
if not ((ROOT / "src" / "main" / "scala").is_dir()
        and (ROOT / "scripts" / "check_oracle.py").is_file()):
    sys.exit("[perfbench] needs the program next to perfbench/: "
             "src/main/scala and scripts/check_oracle.py")
sys.path.insert(0, str(HERE))
import analysis as A  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("ingest", "query_mix")
DEADLINE_S = 170.0
# A run during which the hypervisor gave more than this share of the CPUs'
# time to other tenants measured the neighbours, not the program: invalid.
STEAL_MAX = 0.25
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    trees = [ROOT / "src" / "main", HERE / "src", HERE / "project"]
    files = [HERE / "build.sbt"]
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file()
                        and "target" not in p.relative_to(t).parts)
    return files


def build(deadline):
    """Compile with sbt when the sources changed; return the classpath."""
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    stamp = BUILD / "classpath.json"
    if stamp.exists():
        prev = json.loads(stamp.read_text())
        if prev.get("digest") == digest:
            return prev["classpath"]
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building (sbt compile) ...")
    t0 = time.time()
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HERE, env,
                    deadline - time.time(), BUILD / "build.log")
    lines = [l for l in (BUILD / "build.log").read_text().splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    if out != 0 or not lines:
        sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
        fail("build failed", 1)
    stamp.write_text(json.dumps({"digest": digest, "classpath": lines[-1]}))
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def run_child(cmd, cwd, env, timeout, log_path):
    """Run a child in its own process group and wait for it. On timeout or
    when this script is stopped, kill the group and wait for it to end;
    a timeout returns None."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


# ------------------------------------------------------------------ run

def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


def cpu_jiffies():
    """(total, steal) jiffies of all CPUs; steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    try:
        v = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return sum(v), v[7]
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classpath, args, work, deadline):
    record = work / "record.json"
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
              "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), str(work), str(record)])
    (work / "tmp").mkdir(parents=True)
    t0 = time.time()
    code = run_child(cmd, work, dict(os.environ), deadline - time.time(),
                     work / "jvm.log")
    if code is None:
        fail("the workload ran past its deadline and was stopped", 1)
    if code != 0 or not record.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"the workload's JVM exited with code {code}", 1)
    rec = json.loads(record.read_text())
    rec["jvm_s"] = time.time() - t0
    if rec.get("error"):
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"the workload failed: {rec['error']}", 1)
    return rec


def ingest_result(rec):
    """End-to-end figures and checks of an ingest run: throughput from the
    bulk drain after its warm-up triggers, latency from the paced phase
    after its warm-up window."""
    bulk, paced = rec["bulk"], rec["paced"]
    cb, cp = checks.ingest(bulk, rec["seed"]), checks.ingest(paced, rec["seed"])
    check = {"errors": cb["errors"] + cp["errors"],
             "attempted": cb["attempted"] + cp["attempted"],
             "failed": cb["failed"] + cp["failed"]}
    bb = A.data_batches(bulk["progress"])
    warm_end, drain_end = A.drain_window(bulk)
    drain = bb[bulk["warm_triggers"]:]
    drain_s = (drain_end - warm_end) / 1000.0
    records = sum(p["numInputRows"] for p in drain)
    throughput = records / drain_s
    ticks = paced["ticks"]
    lat = A.latency_summary(A.attribute_latency(ticks, paced["progress"]),
                            ticks[0][0] + paced["warm_ms"])
    late = max(t[1] for t in ticks)
    if late > paced["tick_ms"]:
        check["errors"].append(
            f"paced generator ran {late} ms late, more than one tick: run invalid")
    counts = (f"events={lat['events']} batches={lat['batches']} trigger_s="
              + ",".join(f"{p['durationMs']['triggerExecution'] / 1000:.2f}"
                         for p in A.data_batches(paced["progress"])))
    named = {
        "ingest_records_per_s": (throughput, "rec/s",
                                 f"records={records} drain_s={drain_s:.3f} backlog_s="
                                 f"{(bulk['backlog_ms'] - rec['session_ms']) / 1000:.2f} batch_s="
                                 + ",".join(f"{p['durationMs']['triggerExecution'] / 1000:.2f}"
                                            for p in bb)),
        "event_latency_p50_s": (lat["p50_s"], "s", counts),
        "event_latency_p99_s": (lat["p99_s"], "s", counts),
        "event_latency_geomean_s": (lat["geomean_s"], "s", counts),
        "gen_late_ms_max": (late, "ms", f"ticks={len(ticks)}"),
    }
    metrics = {"throughput_per_s": throughput, "latency_p50_s": lat["p50_s"],
               "latency_p99_s": lat["p99_s"], "latency_geomean_s": lat["geomean_s"],
               "setup_s": (warm_end - rec["jvm_start_ms"]) / 1000.0}
    return metrics, named, lat, check


def query_result(rec):
    """End-to-end figures and checks of a query-mix run."""
    check = checks.queries(rec)
    times = [q["total_s"] for q in rec["queries"]]
    p50, n = A.percentile(times, 0.5)
    p99, _ = A.percentile(times, 0.99)
    geo = math.exp(sum(math.log(t) for t in times) / len(times))
    metrics = {"throughput_per_s": len(times) / rec["mix_s"],
               "latency_p50_s": p50, "latency_p99_s": p99,
               "latency_geomean_s": geo,
               "setup_s": (rec["setup_end_ms"] - rec["jvm_start_ms"]) / 1000.0}
    named = {"query_mix_s": (rec["mix_s"], "s", f"queries={n}"),
             "query_geomean_s": (geo, "s", f"queries={n}"),
             "query_max_s": (p99, "s", " ".join(
                 f"{q['name']}={q['total_s']:.2f}" for q in rec["queries"]))}
    return metrics, named, {"queries": n}, check


def traced_layers(rec, workload):
    spans = rec["trace_spans"]
    if workload == "query_mix":
        m = A.query_layers(rec, spans)
    else:
        m = A.ingest_layers(rec, spans)
        m["sink.bytes_written"] = checks.output_bytes(rec["bulk"])
        m["normalize.rows_per_record"] = checks.rows_per_record(rec["bulk"])
        m["gen.late_ms_max"] = max(t[1] for t in rec["paced"]["ticks"])
    m["jvm.gc_s"] = rec["gc_s"]
    m["trace.callback_s"] = spans["callback_s"]
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    classpath = build(time.time() + 880)
    deadline = max(deadline, time.time() + 150)  # a fresh build gets its own budget

    work = BUILD / "work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    load_before, cpu_before = loadavg(), cpu_jiffies()
    try:
        rec = run_jvm(classpath, args, work, deadline)
        load_after, cpu_after = loadavg(), cpu_jiffies()
        t0 = time.time()
        if args.workload == "query_mix":
            metrics, named, lat, check = query_result(rec)
        else:
            metrics, named, lat, check = ingest_result(rec)
        checks_s = time.time() - t0
        layers = traced_layers(rec, args.workload) if args.trace else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics["peak_rss_mb"] = rec["peak_rss_kb"] / 1024.0
    attempted, failed = check["attempted"], check["failed"]
    named["ops_failed_frac"] = (failed / attempted, "1",
                                f"failed={failed} attempted={attempted}")
    named["setup_s"] = (metrics["setup_s"], "s", "session_s="
                        f"{(rec['session_ms'] - rec['jvm_start_ms']) / 1000:.2f}")
    named["peak_rss_mb"] = (metrics["peak_rss_mb"], "MB", "")
    steal = ((cpu_after[1] - cpu_before[1]) / max(1, cpu_after[0] - cpu_before[0])
             if cpu_before and cpu_after else None)
    if steal is not None and steal > STEAL_MAX:
        check["errors"].append(f"CPU steal {steal:.2f} during the run, more than "
                               f"{STEAL_MAX}: run invalid")
    context = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "nproc": os.cpu_count(), "spark_cores": rec["cpus"],
               "loadavg_before": load_before, "loadavg_after": load_after,
               "cpu_steal_frac": steal,
               "jvm_s": round(rec["jvm_s"], 2), "checks_s": round(checks_s, 2),
               "samples": {k: v for k, v in lat.items()
                           if k in ("events", "batches", "queries")}}
    if args.workload == "query_mix":
        context["rows_only"] = {k: v for k, v in check["digests"].items()
                                if k in checks.ROWS_ONLY}
    for e in check["errors"]:
        log(f"CHECK FAILED: {e}")
    for k, (v, unit, note) in named.items():
        print(f"{k} {v:.6g} {unit} {note}".rstrip())
    print("context " + json.dumps(context))

    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        prev = results / f"{args.workload}-s{args.seed}-t0.json"
        if prev.exists():
            base = json.loads(prev.read_text())
            for k in ("throughput_per_s", "latency_p50_s"):
                print(f"trace_overhead {k} traced={metrics[k]:.6g} "
                      f"untraced={base[k]:.6g} "
                      f"diff={metrics[k] - base[k]:+.6g}")
        out = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        (results / f"{args.workload}-s{args.seed}-t0.json").write_text(
            json.dumps(metrics))
        out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
               for m in spec["end_to_end"]}
    print(json.dumps({"correct": not check["errors"], "attempted": attempted,
                      "failed": failed, "metrics": out}))
    if check["errors"]:
        sys.exit(1)  # a wrong output or an invalid run fails the command


if __name__ == "__main__":
    main()
