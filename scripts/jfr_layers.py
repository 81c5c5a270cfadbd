#!/usr/bin/env python3
"""Share of executor CPU samples per ingest layer, from a JFR recording.

Record one benchmark run (2 ms sampling; the harness passes the
environment through to its JVM):

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/ingest.jfr,settings=default,jdk.ExecutionSample#period=2ms" \\
        python3 perfbench/run.py --workload ingest --seconds 10 --trace 0 --seed 1501

then

    python3 scripts/jfr_layers.py /tmp/ingest.jfr --until-system-gc --skip-s 3

The script reads the recording through `jfr print --json --stack-depth 128`
(jfr's default depth of 5 frames stops short of every layer below) and
keeps the samples of Spark's executor task threads. Each sample goes to
the layer of its innermost frame that names one: source (the
`graft-binqueue` reader), decode (the protobuf parser), normalize (the
normalizer kernel, or the higher-order-function lambdas an older build
interprets), parquet (split into dictionary, nested nulls, levels,
stats, compression and the rest), other generated code, and other.

Window: `--until-system-gc` ends it at the first `System.gc()` of the run
(the ingest workload calls it between its bulk drain and its paced
phase); `--skip-s` drops the first seconds after the first executor
sample (the warm-up triggers).
"""

import argparse
import json
import subprocess
import sys
from collections import Counter
from datetime import datetime

EXECUTOR_THREAD = "Executor task launch worker"

# (layer, class-or-method prefixes); the first match of a frame decides
LAYERS = [
    ("normalize", ("graft.normalize.",
                   "org.apache.spark.sql.catalyst.expressions.ArrayTransform",
                   "org.apache.spark.sql.catalyst.expressions.LambdaFunction",
                   "org.apache.spark.sql.catalyst.expressions.Flatten",
                   "org.apache.spark.sql.catalyst.expressions.HigherOrderFunction")),
    ("decode", ("graft.pipeline.ProtoParseExpr", "graft.pipeline.ProtoWire",
                "graft.pipeline.ProtoCodec")),
    ("source", ("graft.sources.",)),
    ("parquet", ("org.apache.parquet.",
                 "org.apache.spark.sql.execution.datasources.parquet.",
                 "org.apache.spark.sql.graftbridge.ParquetBridge",
                 "org.xerial.snappy.", "com.github.luben.zstd.",
                 "io.airlift.compress.")),
    ("other generated code", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
]

PARQUET_PARTS = [
    ("dictionary", ("org.apache.parquet.column.values.dictionary.",)),
    ("nested nulls", ("org.apache.parquet.io.MessageColumnIO",
                      "org.apache.parquet.io.RecordConsumerLoggingWrapper")),
    ("levels", ("org.apache.parquet.column.values.rle.",
                "org.apache.parquet.column.values.bitpacking.")),
    ("stats", ("org.apache.parquet.column.statistics.",)),
    ("compression", ("org.xerial.snappy.", "com.github.luben.zstd.",
                     "io.airlift.compress.",
                     "org.apache.parquet.hadoop.CodecFactory")),
]


def frame_name(frame):
    m = frame.get("method", {})
    cls = m.get('type', {}).get('name', '?').replace('/', '.')
    return f"{cls}.{m.get('name', '?')}"


def match(name, table):
    for label, prefixes in table:
        if name.startswith(prefixes):
            return label
    return None


def classify(names):
    """(layer, parquet part or None) of a stack, leaf frame first."""
    for n in names:
        layer = match(n, LAYERS)
        if layer == "parquet":
            part = next((p for p in (match(x, PARQUET_PARTS) for x in names)
                         if p), "rest")
            return layer, part
        if layer:
            return layer, None
    return "other", None


def epoch_ms(ts):
    """Epoch millis of a JFR timestamp such as 2026-10-21T17:33:09.123456789Z."""
    head, _, frac = ts.rstrip("Z").partition(".")
    frac = (frac.split("+")[0] + "000000")[:6]
    return datetime.fromisoformat(f"{head}.{frac}+00:00").timestamp() * 1000.0


def events(path):
    """Stream the recording's events through `jfr print --json`."""
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", "128", "--events",
         "jdk.ExecutionSample,jdk.GarbageCollection", path],
        stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    dec = json.JSONDecoder()
    buf, started = "", False
    while True:
        chunk = proc.stdout.read(1 << 20)
        buf += chunk
        if not started:
            at = buf.find('"events"')
            if at < 0:
                if not chunk:
                    break
                continue
            buf = buf[buf.index("[", at) + 1:]
            started = True
        while True:
            buf = buf.lstrip(" \t\r\n,")
            if not buf or buf[0] == "]":
                break
            try:
                ev, end = dec.raw_decode(buf)
            except json.JSONDecodeError:
                break  # incomplete: read more
            yield ev
            buf = buf[end:]
        if (buf.startswith("]") and started) or not chunk:
            break
    proc.stdout.close()
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--until-system-gc", action="store_true")
    ap.add_argument("--skip-s", type=float, default=0.0)
    args = ap.parse_args()

    samples, gc_ms = [], None
    for ev in events(args.recording):
        v = ev.get("values", {})
        if ev.get("type") == "jdk.GarbageCollection":
            if gc_ms is None and v.get("cause") == "System.gc()":
                gc_ms = epoch_ms(v["startTime"])
            continue
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        if not thread.startswith(EXECUTOR_THREAD):
            continue
        frames = (v.get("stackTrace") or {}).get("frames") or []
        samples.append((epoch_ms(v["startTime"]),
                        classify([frame_name(f) for f in frames])))
    if not samples:
        sys.exit("no executor task samples in the recording")

    lo = min(t for t, _ in samples) + args.skip_s * 1000.0
    hi = float("inf")
    if args.until_system_gc:
        if gc_ms is None:
            sys.exit("no System.gc() in the recording")
        hi = gc_ms
    kept = [c for t, c in samples if lo <= t < hi]
    if not kept:
        sys.exit("no executor task samples in the window")

    layers = Counter(layer for layer, _ in kept)
    parts = Counter(part for layer, part in kept if layer == "parquet")
    n = len(kept)
    print(f"executor samples: {n} in a {(min(hi, max(t for t, _ in samples)) - lo) / 1000:.2f} s window")
    for layer, _ in LAYERS + [("other", ())]:
        print(f"{layer:24s} {100.0 * layers[layer] / n:6.1f}%  ({layers[layer]})")
        if layer == "parquet":
            for part, _ in PARQUET_PARTS + [("rest", ())]:
                print(f"  {part:22s} {100.0 * parts[part] / n:6.1f}%  ({parts[part]})")


if __name__ == "__main__":
    main()
