"""Per-layer metrics of a traced run.

The harness writes, at exit, every span (name, start, end, parent,
round) and every SparkListener event it kept in memory as JSONL. Spark
jobs are matched to spans by time: the harness runs one operation at
a time, so a job belongs to the operation that was running when it
started. A span's driver gap is its wall minus the part of it that
some job covers.

Every metric is reported on every workload; a layer a workload does
not reach reads 0 there. Per-round figures are medians over the timed
rounds.
"""
import json
import statistics

RUNTIME = [
    ("driver.jobs", "count"), ("driver.stages", "count"),
    ("driver.tasks", "count"), ("driver.gap_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("spill.disk_mb", "MB"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("write.output_mb", "MB"), ("write.files", "count")]
# stage-event field -> runtime metric
STAGE_FIELDS = {
    "run_s": "executor.run_s", "cpu_s": "executor.cpu_s",
    "gc_s": "executor.gc_s", "shuffle_write_mb": "shuffle.write_mb",
    "shuffle_read_mb": "shuffle.read_mb",
    "fetch_wait_s": "shuffle.fetch_wait_s", "spill_disk_mb": "spill.disk_mb",
    "input_mb": "scan.input_mb", "input_rows": "scan.input_rows",
    "output_mb": "write.output_mb", "write_files": "write.files"}
# StreamingQueryProgress.durationMs key -> metric
STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_s", "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
    "latestOffset": "streaming.latest_offset_s",
    "getBatch": "streaming.get_batch_s"}
MODULES = [
    ("pipeline.catalog_read_s.first", "s"), ("pipeline.catalog_read_s.last", "s"),
    ("pipeline.catalog_write_s.first", "s"), ("pipeline.catalog_write_s.last", "s"),
    ("pipeline.catalog_mb.first", "MB"), ("pipeline.catalog_mb.last", "MB"),
    ("pipeline.process_data_s", "s"),
    ("text.index_write_s", "s"), ("text.index_append_s", "s"),
    ("text.lookup_s", "s"), ("text.near_dup_pairs_s", "s"),
    ("sim.kmeans_s", "s"), ("ops.connected_components_s", "s"),
    ("ops.connected_components_jobs", "count")]
REQUESTS = [("peak_rss_mb", "MB"), ("etl_job_s", "s"), ("list_jobs_s", "s"),
            ("login_s", "s"), ("batch_s", "s"), ("index_mb", "MB"),
            ("traced.round_s", "s")]


def names(workloads, saas_ops):
    """Every per-layer metric, with its unit."""
    ops = list(saas_ops) + [q for w in workloads.values() for q in w[2]]
    per_op = [(f"q.{o}.{k}", u) for o in ops
              for k, u in (("wall_s", "s"), ("jobs", "count"), ("gap_s", "s"))]
    return (RUNTIME + [("streaming.batches", "count")] +
            [(m, "s") for m in STREAM_PHASES.values()] + MODULES + REQUESTS + per_op)


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _covered(intervals, a, b):
    """Length of [a, b] covered by the union of `intervals`."""
    total, cur = 0.0, a
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, b)
        if e > s:
            total += e - s
            cur = e
    return total


def load(trace_file):
    spans, jobs, stages = [], {}, {}
    with open(trace_file) as f:
        for line in f:
            e = json.loads(line)
            k = e["kind"]
            if k == "span":
                spans.append(e)
            elif k == "job_start":
                jobs[e["job"]] = {"id": e["job"], "start": e["time"],
                                  "end": e["time"], "stages": e["stages"]}
            elif k == "job_end" and e["job"] in jobs:
                jobs[e["job"]]["end"] = e["time"]
            elif k == "stage":
                stages[e["stage"]] = e
    # a stage's cost goes to the first job that lists it
    for j in sorted(jobs.values(), key=lambda j: j["start"]):
        j["metrics"] = {m: 0.0 for m in STAGE_FIELDS.values()}
        j["n_stages"] = j["n_tasks"] = 0
        for sid in j["stages"]:
            st = stages.pop(sid, None)
            if st is None:
                continue
            j["n_stages"] += 1
            j["n_tasks"] += st["tasks"]
            for field, m in STAGE_FIELDS.items():
                j["metrics"][m] += st.get(field, 0)
    return spans, sorted(jobs.values(), key=lambda j: j["start"])


def _jobs_in(jobs, a, b):
    # Spark stamps job starts in whole milliseconds
    return [j for j in jobs if a - 1 <= j["start"] <= b]


def _gap(jobs, a, b):
    return (b - a - _covered([(j["start"], j["end"]) for j in jobs], a, b)) / 1000


def in_rounds(items, rounds):
    """The items stamped inside the given rounds; all of them when none
    is (a traced run's module calls come after the timed rounds)."""
    inside = [x for x in items
              if any(r["start"] <= x["time"] <= r["end"] for r in rounds)]
    return inside or items


def per_layer(res, workload, workloads, saas_ops, req, e2e):
    spans, jobs = load(res["trace_file"])
    timed = [r for r in res["rounds"] if r["phase"] == "timed"]
    timed_ids = {r["round"] for r in timed}
    m = {n: 0.0 for n, _ in names(workloads, saas_ops)}

    per_round = []
    for r in timed:
        js = _jobs_in(jobs, r["start"], r["end"])
        v = {"driver.jobs": len(js),
             "driver.stages": sum(j["n_stages"] for j in js),
             "driver.tasks": sum(j["n_tasks"] for j in js),
             "driver.gap_s": _gap(js, r["start"], r["end"])}
        for f in STAGE_FIELDS.values():
            v[f] = sum(j["metrics"][f] for j in js)
        per_round.append(v)
    for n, _ in RUNTIME:
        m[n] = med(v[n] for v in per_round)

    # operations of the timed rounds: each job goes to the operation
    # that started last before it
    ops = sorted((s for s in spans if s["round"] in timed_ids
                  and s["parent"] >= 0 and spans[s["parent"]]["name"].startswith("round.")),
                 key=lambda s: s["start"])
    by_op = {}
    for i, s in enumerate(ops):
        nxt = ops[i + 1]["start"] if i + 1 < len(ops) else s["end"]
        js = [j for j in jobs if s["start"] - 1 <= j["start"] < max(nxt, s["end"])]
        by_op.setdefault(s["name"], []).append(
            ((s["end"] - s["start"]) / 1000, len(js), _gap(js, s["start"], s["end"])))
    # a registered query a traced run calls once as a module call
    for s in spans:
        if s["round"] < 0 and f"q.{s['name']}.wall_s" in m and s["name"] not in by_op:
            js = _jobs_in(jobs, s["start"], s["end"])
            by_op[s["name"]] = [((s["end"] - s["start"]) / 1000, len(js),
                                 _gap(js, s["start"], s["end"]))]
    for name, xs in by_op.items():
        m[f"q.{name}.wall_s"] = med(x[0] for x in xs)
        m[f"q.{name}.jobs"] = med(x[1] for x in xs)
        m[f"q.{name}.gap_s"] = med(x[2] for x in xs)

    batches = in_rounds([b for b in res.get("stream_batches", []) if b["rows"] > 0],
                        timed)
    if batches:
        per_round = [sum(1 for b in batches if r["start"] <= b["time"] <= r["end"])
                     for r in timed]
        m["streaming.batches"] = med(per_round) or len(batches)
        for key, name in STREAM_PHASES.items():
            m[name] = med(b["durations_ms"].get(key, 0) / 1000 for b in batches)

    # module calls made once after the timed rounds
    def wall(name):
        return [(s["end"] - s["start"]) / 1000 for s in spans if s["name"] == name]
    for span, metric in (("text.index_write", "text.index_write_s"),
                         ("text.index_append", "text.index_append_s"),
                         ("text.lookup", "text.lookup_s"),
                         ("text.near_dup_pairs", "text.near_dup_pairs_s"),
                         ("sim.kmeans", "sim.kmeans_s"),
                         ("ops.connected_components", "ops.connected_components_s")):
        m[metric] = med(wall(span))
    cc = [s for s in spans if s["name"] == "ops.connected_components"]
    if cc:
        m["ops.connected_components_jobs"] = len(
            _jobs_in(jobs, cc[0]["start"], cc[0]["end"]))

    if workload == "saas_jobs":
        _catalog(m, res, spans, timed)
    m.update(req)
    m["traced.round_s"] = e2e["round_s"]
    units = dict(names(workloads, saas_ops))
    return {n: {"value": v, "unit": units[n]} for n, v in m.items()}


def _catalog(m, res, spans, timed):
    """Catalog call times and size in the first and last tenth of the
    timed rounds, and the pipeline's own time inside startEtl (from
    the end of the job insert to the completion update's read)."""
    ids = [r["round"] for r in timed]
    tenth = max(1, len(ids) // 10)
    parts = {"first": set(ids[:tenth]), "last": set(ids[-tenth:])}
    for part, rounds in parts.items():
        for kind in ("read", "write"):
            per = [sum((s["end"] - s["start"]) / 1000 for s in spans
                       if s["round"] == r and s["name"] == f"pipeline.catalog_{kind}")
                   for r in rounds]
            m[f"pipeline.catalog_{kind}_s.{part}"] = statistics.mean(per)
        sizes = [c["mb"] for c in res["catalog_sizes"] if c["round"] in rounds]
        m[f"pipeline.catalog_mb.{part}"] = max(sizes) if sizes else 0.0
    gaps = []
    for s in spans:
        if s["name"] != "startEtl" or s["round"] not in set(ids):
            continue
        kids = [k for k in spans if k["parent"] == s["id"]]
        writes = [k for k in kids if k["name"] == "pipeline.catalog_write"]
        if writes:
            after = [k for k in kids if k["name"] == "pipeline.catalog_read"
                     and k["start"] >= writes[0]["end"]]
            if after:
                gaps.append((after[0]["start"] - writes[0]["end"]) / 1000)
    m["pipeline.process_data_s"] = med(gaps)
