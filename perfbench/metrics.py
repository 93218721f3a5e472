"""Metrics and spans of one run, computed from the benchmark JVM's run record.

Ops run one at a time from one client thread, so a Spark job, stage,
query execution or microbatch belongs to the op whose interval holds its
start. All record times are epoch milliseconds.
"""
import json
import math
import statistics

MB = 1048576.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """The q-th percentile by linear interpolation (0 for no samples)."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def wall_s(o):
    return (o["t2"] - o["t0"]) / 1000.0


def merged(intervals, lo=float("-inf"), hi=float("inf")):
    """The union of intervals clipped to [lo, hi], as disjoint sorted intervals."""
    out = []
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    return sum(b - a for a, b in merged(intervals, lo, hi))


def failures(rec):
    """{op or query name: reason} for every failed output check."""
    bad = {}
    for c in rec.get("checks", []):
        if not c["ok"]:
            bad[c["name"].split(".")[0]] = c["detail"]
    for name, why in rec.get("oracle", {}).items():
        if why:
            bad[name] = f"oracle mismatch: {why}"
    return bad


PHASES = ("analysis", "optimization", "planning")


def qe_start(q):
    return min((q[p][0] for p in PHASES if p in q), default=0)


class Attribution:
    """Jobs, stages, query executions and batches grouped by timed op."""

    def __init__(self, rec):
        self.stages = {s["id"]: s for s in rec.get("stages", [])}
        self.jobs = sorted(rec.get("jobs", []), key=lambda j: j["start"])
        self.qes = rec.get("qes", [])
        self.batches = rec.get("batches", [])

    def jobs_in(self, lo, hi):
        return [j for j in self.jobs if lo <= j["start"] <= hi]

    def stages_of(self, jobs):
        return [self.stages[i] for j in jobs for i in j["stages"] if i in self.stages]

    def qes_in(self, lo, hi):
        return [q for q in self.qes if lo <= qe_start(q) <= hi]

    def batches_in(self, lo, hi):
        return [b for b in self.batches if lo <= b["at"] <= hi]


def end_to_end(rec):
    """The end-to-end metrics every workload reports. Each op and each pass
    counts by its fastest run: the JIT is still converging during the timed
    passes, and host contention only ever slows a run down."""
    timed = [o for o in rec["ops"] if o["phase"] == "timed"]
    per_op, passes = {}, {}
    for o in timed:
        per_op.setdefault(o["name"], []).append(wall_s(o))
        passes.setdefault(o["pass"], []).append(o)
    best = [min(v) for v in per_op.values()]
    pass_s = [(max(o["t2"] for o in ps) - min(o["t0"] for o in ps)) / 1000.0
              for ps in passes.values()]
    return {
        "setup_s": (rec["setup_s"], "s", 1),
        "pass_s": (min(pass_s), "s", len(pass_s)),
        "op_geomean_s": (math.exp(mean([math.log(x) for x in best])), "s", len(best)),
    }


def user_metrics(rec, workload, n_failed):
    """The workload-specific user metrics, printed beside the end-to-end set."""
    timed = [o for o in rec["ops"] if o["phase"] == "timed"]
    m = {
        "setup_s": (rec["setup_s"], "s", 1),
        "failed_ratio": (n_failed / max(1, len(timed)), "ratio", len(timed)),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB", 1),
    }
    if workload == "generate":
        for kind, key in (("block", "gen"), ("detect", "detect"), ("export", "export")):
            rates = [o["events"] / wall_s(o) for o in timed if o["name"] == kind and o["ok"]]
            m[f"{key}_events_per_s"] = (median(rates), "events/s", len(rates))
    else:
        stream = set(rec["streaming_ops"])
        batch = [wall_s(o) for o in timed if o["name"] not in stream]
        m["query_p50_s"] = (median(batch), "s", len(batch))
        m["query_p90_s"] = (pct(batch, 90), "s", len(batch))
        m["queries_per_min"] = (60.0 * len(batch) / max(1e-9, sum(batch)), "1/min", len(batch))
        lat = [wall_s(o) for o in timed if o["name"] in stream]
        m["stream_query_p50_s"] = (median(lat), "s", len(lat))
        at = Attribution(rec)
        sops = [o for o in timed if o["name"] in stream]
        rows = sum(b["rows"] for o in sops for b in at.batches_in(o["t0"], o["t2"]))
        m["stream_rows_per_s"] = (rows / max(1e-9, sum(lat)), "rows/s", len(lat))
        trig = [b["ms"].get("triggerExecution", 0) for o in sops
                for b in at.batches_in(o["t0"], o["t2"]) if b["rows"] > 0]
        m["batch_p50_ms"] = (median(trig), "ms", len(trig))
        m["batch_p90_ms"] = (pct(trig, 90), "ms", len(trig))
    return m


def per_layer(rec, spec, units):
    """Every per-layer metric of BENCHMARK.json; 0 where the layer is
    absent on this workload."""
    at = Attribution(rec)
    cpus = rec["cpus"]
    timed = [o for o in rec["ops"] if o["phase"] == "timed"]
    m = {}

    def kind(name):
        return [o for o in timed if o["name"] == name]

    # gen
    blocks, detects, exports = kind("block"), kind("detect"), kind("export")
    gen_ops = blocks + detects + exports
    m["gen.block_s"] = median([wall_s(o) for o in blocks])
    m["gen.gapsum_job_s"] = mean([sum(j["end"] - j["start"] for j in at.jobs_in(o["t0"], o["t1"])) / 1000
                                  for o in blocks])
    m["gen.fill_job_s"] = mean([sum(j["end"] - j["start"] for j in at.jobs_in(o["t1"], o["t2"])) / 1000
                                for o in blocks])
    gen_stages = [s for o in gen_ops for s in at.stages_of(at.jobs_in(o["t0"], o["t2"]))]
    events = sum(o["events"] for o in gen_ops)
    m["gen.cpu_ns_per_event"] = sum(s["cpu_ns"] for s in gen_stages) / events if events else 0.0
    gen_wall = sum(o["t2"] - o["t0"] for o in gen_ops)
    m["gen.slot_busy_ratio"] = (sum(s["run_ms"] for s in gen_stages) / (gen_wall * cpus)
                                if gen_wall else 0.0)
    m["gen.detect_s"] = median([wall_s(o) for o in detects])
    m["gen.detect_shuffle_mb"] = median([sum(s["shuffle_write"] for s in
                                             at.stages_of(at.jobs_in(o["t0"], o["t2"]))) / MB
                                         for o in detects])
    m["gen.export_s"] = median([wall_s(o) for o in exports])
    m["gen.export_bytes_per_event"] = (rec.get("export_bytes", 0) / exports[0]["events"]
                                       if exports else 0.0)
    # ops and plan
    m["ops.build_ms"] = median([o["t1"] - o["t0"] for o in timed])
    for ph in PHASES:
        m[f"plan.{ph}_ms"] = mean([sum(q[ph][1] - q[ph][0] for q in at.qes_in(o["t0"], o["t2"])
                                       if ph in q) for o in timed])
    # sched and exec
    per_op = []
    for o in timed:
        jobs = at.jobs_in(o["t0"], o["t2"])
        st = at.stages_of(jobs)
        per_op.append({
            "jobs": len(jobs), "stages": len(st), "tasks": sum(s["tasks"] for s in st),
            "gap": (o["t2"] - o["t0"]) - union_ms([(j["start"], j["end"]) for j in jobs],
                                                  o["t0"], o["t2"]),
            "run": sum(s["run_ms"] for s in st), "cpu": sum(s["cpu_ns"] for s in st) / 1e6,
            "sw": sum(s["shuffle_write"] for s in st) / MB,
            "sr": sum(s["shuffle_read"] for s in st) / MB,
            "spill": sum(s["spill"] for s in st) / MB,
            "peak": max([s["peak_mem"] for s in st], default=0) / MB,
        })
    m["sched.jobs_per_query"] = mean([p["jobs"] for p in per_op])
    m["sched.stages_per_query"] = mean([p["stages"] for p in per_op])
    m["sched.tasks_per_query"] = mean([p["tasks"] for p in per_op])
    m["sched.driver_gap_ms"] = median([p["gap"] for p in per_op])
    wall = sum(o["t2"] - o["t0"] for o in timed)
    m["sched.slot_busy_ratio"] = sum(p["run"] for p in per_op) / (wall * cpus) if wall else 0.0
    m["exec.task_cpu_ms"] = mean([p["cpu"] for p in per_op])
    m["exec.task_run_ms"] = mean([p["run"] for p in per_op])
    m["exec.shuffle_write_mb"] = mean([p["sw"] for p in per_op])
    m["exec.shuffle_read_mb"] = mean([p["sr"] for p in per_op])
    m["exec.spill_mb"] = mean([p["spill"] for p in per_op])
    m["exec.peak_exec_mem_mb"] = max([p["peak"] for p in per_op], default=0.0)
    m["jvm.gc_ms"] = mean([o["gc_ms"] for o in timed])
    m["jvm.heap_peak_mb"] = rec["heap_peak_mb"]
    # functions
    fn = rec.get("functions", {})
    for k in spec["kernels"]:
        f = fn.get(k)
        m[f"functions.{k}_ns_row"] = ((median(f["kernel_ms"]) - median(f["plain_ms"])) * 1e6
                                      / f["rows"] if f else 0.0)
    # StoreGuard
    warm = [o for o in rec["ops"] if o["phase"] == "warmup"]
    m["stores.build_s"] = sum(wall_s(o) for o in warm if o.get("stores_built", 0) > 0)
    m["stores.built"] = sum(o.get("stores_built", 0) for o in warm)
    m["stores.bytes"] = sum(o.get("store_bytes", 0) for o in warm)
    # streaming
    batches = [b for o in timed for b in at.batches_in(o["t0"], o["t2"])]
    full = [b for b in batches if b["rows"] > 0]
    stream_ops = [o for o in timed if at.batches_in(o["t0"], o["t2"])]
    m["streaming.batches"] = len(batches) / len(stream_ops) if stream_ops else 0.0
    m["streaming.useful_batch_ratio"] = len(full) / len(batches) if batches else 0.0
    first = {}
    for b in sorted(batches, key=lambda b: b["at"]):
        first.setdefault(b["id"], b["at"] + b["ms"].get("triggerExecution", 0))
    starts = {s["id"]: s["at"] for s in rec.get("streams", [])}
    m["streaming.start_to_first_progress_ms"] = median(
        [t - starts[i] for i, t in first.items() if i in starts])
    for key, name in (("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms"), ("latestOffset", "latest_offset_ms"),
                      ("getBatch", "get_batch_ms")):
        m[f"streaming.{name}"] = mean([b["ms"].get(key, 0) for b in batches])
    m["streaming.add_batch_ms"] = mean([b["ms"].get("addBatch", 0) for b in full])
    m["streaming.bytes_read_per_batch"] = mean([
        sum(s["bytes_read"] for s in at.stages_of(
            at.jobs_in(b["at"], b["at"] + b["ms"].get("triggerExecution", 0))))
        for b in full])
    m["streaming.state_rows"] = mean([b["state_rows"] for b in full])
    m["streaming.state_mem_mb"] = mean([b["state_mem"] / MB for b in full])
    m["streaming.state_commit_ms"] = mean([b["state_commit_ms"] for b in full])
    return {k: (float(m[k]), u, len(timed)) for k, u in units.items()}


def spans(rec, workload):
    """The span tree of the run: run -> setup / op -> build, exec ->
    job -> stage, with query-execution phases and microbatches under the
    innermost span holding their start. Each span is
    [id, parent, layer, name, start_ms, end_ms]."""
    out = []

    def add(parent, layer, name, a, b):
        out.append([len(out), parent, layer, name, a, b])
        return len(out) - 1

    root = add(-1, "run", workload, rec["launched"] * 1000, 0)
    add(root, "jvm", "setup", rec["launched"] * 1000, rec["session_ready"])
    op_layer = "gen" if workload == "generate" else "ops"
    inner = []  # (start, end, span id) of build/exec/batch spans
    for o in rec["ops"]:
        p = add(root, "harness", f"{o['phase']}:{o['name']}", o["t0"], o["t2"])
        layer = "StoreGuard" if o.get("stores_built", 0) > 0 else op_layer
        inner.append((o["t0"], o["t1"], add(p, layer, "build", o["t0"], o["t1"])))
        inner.append((o["t1"], o["t2"], add(p, "sched", "exec", o["t1"], o["t2"])))
    if "functions_span" in rec:
        a, b = rec["functions_span"]
        inner.append((a, b, add(root, "functions", "kernels", a, b)))

    def holder(t):
        best = None
        for a, b, i in inner:
            if a <= t <= b and (best is None or b - a < best[1] - best[0]):
                best = (a, b, i)
        return best[2] if best else root

    for bt in rec.get("batches", []):
        a = bt["at"]
        b = a + bt["ms"].get("triggerExecution", 0)
        inner.append((a, b, add(holder(a), "streaming", f"batch {bt['batch']}", a, b)))
    stages = {s["id"]: s for s in rec.get("stages", [])}
    for j in rec.get("jobs", []):
        jid = add(holder(j["start"]), "sched", f"job {j['id']}", j["start"], j["end"])
        for sid in j["stages"]:
            s = stages.get(sid)
            if s and s["start"]:
                add(jid, "exec", f"stage {sid}", s["start"], s["end"])
    for q in rec.get("qes", []):
        for ph in PHASES:
            if ph in q:
                a, b = q[ph]
                add(holder(a), "plan", ph, a, b)
    out[root][5] = max(s[5] for s in out)
    return out


def self_time_by_layer(span_list, lo=float("-inf"), hi=float("inf")):
    """Seconds of wall time within [lo, hi] in which each layer's spans
    run and none of their child spans do (the union over the layer's
    spans, so concurrent stages are not counted twice)."""
    kids = {}
    for s in span_list:
        kids.setdefault(s[1], []).append((s[4], s[5]))
    own = {}
    for s in span_list:
        t = s[4]
        for a, b in merged(kids.get(s[0], []), s[4], s[5]) + [[s[5], s[5]]]:
            if a > t:
                own.setdefault(s[2], []).append((t, a))
            t = max(t, b)
    return {layer: union_ms(iv, lo, hi) / 1000.0 for layer, iv in own.items()}


def evaluate(rec, spec, workload, traced, units):
    bad = failures(rec)
    timed = [o for o in rec["ops"] if o["phase"] == "timed"]
    failed = [o for o in timed if not o["ok"] or o["name"] in bad]
    res = {
        "attempted": len(timed), "failed": len(failed),
        "failed_ops": sorted({o["name"] for o in failed}),
        "failures": bad,
        "e2e": end_to_end(rec),
        "user": user_metrics(rec, workload, len(failed)),
    }
    if traced:
        res["layers"] = per_layer(rec, spec, units)
        sp = spans(rec, workload)
        res["spans"] = sp
        res["self_s"] = self_time_by_layer(sp)
        res["self_timed_s"] = self_time_by_layer(sp, rec["timed_start"], rec["timed_end"])
    res["correct"] = not failed and not bad and rec.get("exit_code", 0) == 0
    return res


def host_lines(rec):
    lines = []
    j0 = rec.get("host_start", {}).get("jiffies")
    j1 = rec.get("host_end", {}).get("jiffies")
    steal = None
    if j0 and j1 and len(j0) > 7:
        d = [b - a for a, b in zip(j0, j1)]
        steal = d[7] / sum(d) if sum(d) else 0.0
    for at in ("start", "end"):
        h = rec.get(f"host_{at}")
        if h:
            lines.append(f"host {at}: calib_s={h['calib_s']:.4f} load1={h['load1']:.2f}")
    if steal is not None:
        lines.append(f"host steal share over the timed passes: {steal:.4f}")
    return lines


def report(rec, res, workload, traced):
    """Human-readable lines, then the one-line JSON result."""
    p = print
    p(f"== perfbench {workload} seed={rec['seed']} cpus={rec['cpus']} "
      f"passes={rec.get('passes')} trace={int(traced)} ==")
    for line in host_lines(rec):
        p(line)
    p("-- user metrics of this workload --")
    for k, (v, u, n) in res["user"].items():
        p(f"metric {k} = {v:.6g} {u} (n={n})")
    p("-- end-to-end metrics (BENCHMARK.json) --")
    for k, (v, u, n) in res["e2e"].items():
        p(f"metric {k} = {v:.6g} {u} (n={n})")
    if traced:
        p("-- per-layer metrics --")
        for k, (v, u, n) in res["layers"].items():
            p(f"layer {k} = {v:.6g} {u}")
        p("-- self time by layer: whole run, timed passes (s and share) --")
        whole, timed = res["self_s"], res["self_timed_s"]
        tw, tt = sum(whole.values()) or 1.0, sum(timed.values()) or 1.0
        for k, v in sorted(whole.items(), key=lambda kv: -kv[1]):
            t = timed.get(k, 0.0)
            p(f"self {k} = {v:.4f} ({v / tw:.1%}), timed {t:.4f} ({t / tt:.1%})")
    for c in rec.get("checks", []):
        p(f"check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for name, why in sorted(rec.get("oracle", {}).items()):
        p(f"oracle {'PASS' if not why else 'FAIL'} {name}" + (f": {why}" if why else ""))
    if rec.get("unchecked"):
        p(f"unchecked (spec-gated, no oracle SQL): {len(rec['unchecked'])}: "
          + " ".join(sorted(rec["unchecked"])))
    for name in res["failed_ops"]:
        p(f"FAILED {name}: {res['failures'].get(name, 'threw')}")
    chosen = res["layers"] if traced else res["e2e"]
    p(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, n) in chosen.items()},
    }))
