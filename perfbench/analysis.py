"""Pure metric logic of the benchmark: percentiles with sample counts,
offset-to-latency attribution for micro-batches, and the per-layer
roll-ups of traced runs. `run.py` feeds it the JVM's run record;
`test_analysis.py` feeds it synthetic records."""
import json
import math
from datetime import datetime, timezone


# ---------------------------------------------------------------- stats

def weighted_percentile(samples, q):
    """Nearest-rank percentile of (value, weight) samples.

    Returns (value, n) where n is the total weight, so every percentile
    travels with its sample count. q is in [0, 1]."""
    pts = sorted((v, w) for v, w in samples if w > 0)
    n = sum(w for _, w in pts)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q * n))
    seen = 0
    for v, w in pts:
        seen += w
        if seen >= rank:
            return v, n
    return pts[-1][0], n


def percentile(values, q):
    return weighted_percentile([(v, 1) for v in values], q)


def weighted_geomean(samples):
    n = sum(w for _, w in samples)
    return math.exp(sum(w * math.log(v) for v, w in samples) / n)


# ------------------------------------------------------------- progress

def progress_ts_ms(p):
    """Trigger start of a StreamingQueryProgress JSON, epoch millis."""
    t = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def batch_end_ms(p):
    """When the micro-batch's commit finished: start plus trigger time."""
    return progress_ts_ms(p) + p["durationMs"]["triggerExecution"]


def _offsets(o):
    if o is None:
        return {}
    if isinstance(o, str):
        o = json.loads(o)
    return {int(k): int(v) for k, v in o.items()}


def batch_ranges(p):
    """Per-partition (start, end] record counts a micro-batch consumed."""
    src = p["sources"][0]
    start, end = _offsets(src.get("startOffset")), _offsets(src.get("endOffset"))
    return {part: (start.get(part, 0), e) for part, e in end.items()
            if e > start.get(part, 0)}


def data_batches(progress):
    """Progress records of batches that read records, in batch order."""
    seen, out = set(), []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if p["batchId"] in seen or p.get("numInputRows", 0) <= 0:
            continue
        seen.add(p["batchId"])
        out.append(p)
    return out


def drain_window(bulk):
    """(start, end) epoch millis of the timed bulk drain: from the end of
    its warm-up triggers to the end of its last trigger."""
    bb = data_batches(bulk["progress"])
    return batch_end_ms(bb[bulk["warm_triggers"] - 1]), batch_end_ms(bb[-1])


def attribute_latency(ticks, progress):
    """Latency of every paced event, from when it was due to the end of the
    micro-batch that committed it.

    ticks: rows [due_ms, late_ms, cum_0, cum_1, ...]; cum_p is the number
    of frames partition p held once the tick was written. A frame with
    per-partition position j (1-based) was therefore due at the first tick
    whose cum_p >= j. Returns (latency_s, count, batch_id, due_ms) groups,
    one per (batch, tick) pair."""
    groups = []
    for p in data_batches(progress):
        end = batch_end_ms(p)
        for part, (lo, hi) in batch_ranges(p).items():
            prev = 0
            for tick in ticks:
                cum = tick[2 + part]
                # frames (prev, cum] of this partition came with this tick
                a, b = max(lo, prev), min(hi, cum)
                if b > a:
                    groups.append(((end - tick[0]) / 1000.0, b - a,
                                   p["batchId"], tick[0]))
                prev = cum
                if prev >= hi:
                    break
    return groups


def latency_summary(groups, warmup_until_ms=None):
    """p50, p99 and geomean of latency groups, with event and batch counts.
    Groups due before warmup_until_ms are left out."""
    kept = [g for g in groups
            if warmup_until_ms is None or g[3] >= warmup_until_ms]
    samples = [(g[0], g[1]) for g in kept]
    p50, n = weighted_percentile(samples, 0.50)
    p99, _ = weighted_percentile(samples, 0.99)
    return {"p50_s": p50, "p99_s": p99,
            "geomean_s": weighted_geomean(samples),
            "events": n, "batches": len({g[2] for g in kept})}


# ----------------------------------------------------------- ingest form

def norm_rows_closed_form(frames, seed):
    """Rows the normalizer emits for frames 0..frames-1: record `id` has
    (id + seed) mod 4 stores, and a record with none still gives one row."""
    full, rest = divmod(frames, 4)
    return 7 * full + sum(max(1, (i + seed) % 4)
                          for i in range(4 * full, frames))


# ------------------------------------------------------------ per layer

def _dur_s(x):
    return max(0, x["end"] - x["start"]) / 1000.0 if x["end"] > 0 else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def spark_totals(spans, window, cpus):
    """Jobs, stages, tasks and executor time of jobs started in window."""
    lo, hi = window
    jobs = [j for j in spans["jobs"] if lo <= j["start"] <= hi]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in spans["stages"] if s["id"] in stage_ids]
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    wall = max(1e-9, (hi - lo) / 1000.0)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.executor_run_s": run_s,
        "spark.busy_frac": run_s / (wall * cpus),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
    }


def classify_sql(spans, window, table="msgs"):
    """Assign each SQL execution started in window to a pipeline layer.

    Inside a streaming query Spark records the query's start site as every
    job's call site, so layers are told apart by what each execution writes
    and by the order Pipeline.processBatch runs them in: the decode count
    (and the dead-letter count), then per sink table a count followed by
    its write, then on rotation the runner's reads and its export, then the
    manifest append. The foreachBatch execution that encloses a whole
    trigger is dropped. Returns [(layer, execution)], layer one of
    decode, norm, raw, runner, manifest, other."""
    lo, hi = window
    xs = sorted((x for x in spans["sql"] if lo <= x["start"] <= hi),
                key=lambda x: x["id"])
    xs = [x for x in xs if not any(
        y is not x and x["start"] <= y["start"] and 0 < y["end"] <= x["end"]
        for y in xs)]
    names = {table: "raw", table + "_norm": "norm", "_agg": "runner",
             "_manifest": "manifest"}
    layer = [None] * len(xs)
    for i, x in enumerate(xs):
        if not x.get("path"):
            continue
        layer[i] = names.get(x["path"].rstrip("/").rsplit("/", 1)[-1], "other")
        if layer[i] in ("raw", "norm") and i and layer[i - 1] is None:
            layer[i - 1] = layer[i]          # the append's count
        j = i - 1
        while layer[i] == "runner" and j >= 0 and layer[j] is None:
            layer[j] = "runner"              # the runner's reads
            j -= 1
    return [(l or "decode", x) for l, x in zip(layer, xs)]


def ingest_layers(rec, spans):
    """Per-layer metrics of a traced ingest run. Per the layer table in
    NOTES.md, trigger and rotation costs come from the paced phase and
    per-record decode and sink costs from the timed bulk drain."""
    bulk, paced = rec["bulk"], rec["paced"]
    cpus = rec["cpus"]
    bulk_window = drain_window(bulk)
    pb = data_batches(paced["progress"])
    paced_window = (progress_ts_ms(pb[0]), paced["close_end_ms"])
    dur = lambda p, k: p["durationMs"].get(k, 0)
    m = {
        "sources.latest_offset_ms": _mean([dur(p, "latestOffset") for p in pb]),
        "sources.get_batch_ms": _mean([dur(p, "getBatch") for p in pb]),
        "sources.triggers": len(pb),
        "sources.behind_records_max": max(
            int(p["sources"][0].get("metrics", {}).get("behindRecords", 0))
            for p in pb),
        "pipeline.trigger_overhead_ms": _mean(
            [dur(p, "triggerExecution") - dur(p, "addBatch") for p in pb]),
    }
    qid = pb[0]["id"]
    ids = {str(p["batchId"]) for p in pb}
    m["pipeline.jobs_per_batch"] = sum(
        1 for j in spans["jobs"] if j["query_id"] == qid and j["batch"] in ids
    ) / len(pb)
    jobs_by_sql = {}
    for j in spans["jobs"]:
        jobs_by_sql[j["sql"]] = jobs_by_sql.get(j["sql"], 0) + 1

    b = classify_sql(spans, bulk_window)
    m["pipeline.decode_s"] = sum(_dur_s(x) for l, x in b if l == "decode")
    m["sink.append_norm_s"] = sum(_dur_s(x) for l, x in b if l == "norm")
    m["sink.append_raw_s"] = sum(_dur_s(x) for l, x in b if l == "raw")
    appends = [x for l, x in b if l in ("raw", "norm")]
    m["sink.jobs_per_append"] = (sum(jobs_by_sql.get(x["id"], 0) for x in appends)
                                 / max(1, sum(1 for x in appends if x.get("path"))))

    p = classify_sql(spans, paced_window)
    m["sink.manifest_s"] = sum(_dur_s(x) for l, x in p if l == "manifest")
    m["sink.segments_closed"] = len(paced["segments"])
    # rotation probe: from a trigger's last sink write to its runner, or
    # to the end of its addBatch when it did not rotate
    gaps = []
    for t in pb:
        start, add_end = progress_ts_ms(t), batch_end_ms(t) - dur(t, "commitOffsets")
        inside = [(l, x) for l, x in p if start <= x["start"] <= add_end]
        writes = [x for l, x in inside if l in ("raw", "norm")]
        runner = [x["start"] for l, x in inside if l == "runner"]
        if writes:
            last = max(x["end"] for x in writes)
            gaps.append(max(0.0, min(runner + [add_end]) - last))
    m["sink.rotate_check_ms"] = _mean(gaps)
    # runner time per closed segment: its executions between two manifests
    per_seg, cur = [], 0.0
    for l, x in p:
        if l == "runner":
            cur += _dur_s(x)
        elif l == "manifest" and cur:
            per_seg.append(cur)
            cur = 0.0
    m["runner.run_s"] = _mean(per_seg)
    m["runner.run_p99_s"] = percentile(per_seg, 0.99)[0] if per_seg else 0.0
    runner_sql = {x["id"] for l, x in p if l == "runner"}
    m["runner.errors"] = sum(1 for j in spans["jobs"]
                             if j["sql"] in runner_sql and not j["ok"])
    m.update(spark_totals(spans, bulk_window, cpus))
    return m


def query_layers(rec, spans):
    """Per-layer metrics of a traced query-mix run: per family the summed
    construct, plan and exec seconds and the jobs run at construction."""
    m = {}
    construct_jobs = {}
    for j in spans["jobs"]:
        span = j.get("span") or ""
        if span.endswith("/construct"):
            name = span.rsplit("/", 1)[0]
            construct_jobs[name] = construct_jobs.get(name, 0) + 1
    for fam in dict.fromkeys(q["family"] for q in rec["queries"]):
        qs = [q for q in rec["queries"] if q["family"] == fam]
        for phase in ("construct", "plan", "exec"):
            m[f"queries.{fam}.{phase}_s"] = sum(q[f"{phase}_s"] or 0.0 for q in qs)
        m[f"queries.{fam}.jobs"] = sum(construct_jobs.get(q["name"], 0) for q in qs)
    for q in rec["queries"]:
        m[f"query.{q['name']}.s"] = q["total_s"]
    t1 = rec["setup_end_ms"] + rec["mix_s"] * 1000.0
    m.update(spark_totals(spans, (rec["setup_end_ms"], t1), rec["cpus"]))
    return m
