#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness
(perfbench/build.sbt, offline sbt) and writes the inputs under
perfbench/.work/; later runs reuse both. Each run starts one JVM
(Spark on local[N], N = min(4, usable cores)) that is a single client
in a closed loop: set-up, warm-up rounds, timed rounds for S seconds
(whole rounds), then an untimed pass whose outputs are checked here
against DuckDB. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones, from a SparkListener, a streaming
listener, spans around the calls the harness makes, and module calls
made once after the timed rounds. Workloads, metrics and their
meaning: perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import layers  # noqa: E402  (perfbench/layers.py)

# name -> (input corpus, warm-up rounds, registered queries of a round)
WORKLOADS = {
    "saas_jobs": ("sf0.1", 2, []),
    "etl_batch_10x": ("sf0.1x10", 1, [
        "src_parquet", "pipeline_clean_ai", "pipeline_full_etl", "agg_group",
        "agg_cube", "join_fk", "join_asof", "topk", "sink_csv_gzip"]),
    "dedup_similarity": ("sf0.1", 1, [
        "dedup_minhash", "dedup_clusters", "cluster_dbscan", "sim_topk_brute",
        "sim_topk_ivf_kmeans", "text_tfidf"]),
    "stream_ingest": ("sf0.1", 1, [
        "stream_index_ingest", "stream_emb_ingest", "stream_text_serving"]),
}
SAAS_OPS = ["startEtl", "listJobs", "login"]
UPLOADS = 48
HEAP = "4g"
JVM_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("round_s", "s"), ("cpu_s", "s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles the engine and the harness unless the sources are
    unchanged since the last build; returns the run classpath."""
    stamp = hashlib.sha256()
    for f in _sources():
        stamp.update(f.encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    stamp = stamp.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath")
    if os.path.exists(cp_file) and open(os.path.join(bdir, "stamp")).read() == stamp:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    tmp = os.path.join(WORK, "tmp-build")
    os.makedirs(tmp, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's boot server socket lives under java.io.tmpdir; where that
    # path is too long for a Unix socket, sbt goes on without it
    sbt_opts = [f"-Djava.io.tmpdir={tmp}", "-Dsbt.offline=true", "-Xmx2g",
                "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=true",
                "-XX:-UsePerfData"]
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log("building the engine and the harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(bdir, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=800)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        with open(os.path.join(bdir, "build.log"), "a") as out:
            out.write(p.stdout)
        fail(f"build failed; see {bdir}/build.log", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(os.path.join(bdir, "stamp"), "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    import gen
    # inputs are kept per version of the generator
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    root = os.path.join(WORK, "data")
    data = os.path.join(root, version)
    os.makedirs(data, exist_ok=True)
    for d in os.listdir(root):
        if d != version:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    uploads = ""
    if workload == "saas_jobs":
        corpus = gen.CORPUS
        udir = os.path.join(data, "uploads")
        uploads = gen.ensure(os.path.join(udir, f"seed{seed}"),
                             lambda d: gen.make_uploads(d, seed, UPLOADS))
        # keep the uploads of the four newest seeds
        old = sorted((os.path.join(udir, d) for d in os.listdir(udir)),
                     key=os.path.getmtime)[:-4]
        for d in old:
            shutil.rmtree(d, ignore_errors=True)
    elif WORKLOADS[workload][0] == "sf0.1x10":
        corpus = gen.ensure(os.path.join(data, "sf0.1x10"),
                            lambda d: gen.make_replica(d, 10))
    else:
        k = seed % gen.VARIANTS
        corpus = gen.ensure(os.path.join(data, f"sf0.1-v{k}"),
                            lambda d: gen.make_variant(d, k))
    return corpus, uploads


# ---------------------------------------------------------------- the run

def run_jvm(cp, workload, seed, seconds, trace, corpus, uploads, root):
    tmp, local, check = (os.path.join(root, d) for d in ("tmp", "local", "check"))
    for d in (tmp, local, check):
        os.makedirs(d)
    cpus = min(4, len(os.sched_getaffinity(0)))
    out = os.path.join(root, "out.json")
    trace_file = os.path.join(WORK, "traces", f"{workload}-seed{seed}.jsonl")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", workload,
            "--data", corpus, "--uploads", uploads or "-", "--seed", str(seed),
            "--seconds", str(seconds), "--warmup", str(WORKLOADS[workload][1]),
            "--trace", str(trace), "--cpus", str(cpus), "--out", out,
            "--check-dir", check, "--trace-file", trace_file,
            "--queries", ",".join(WORKLOADS[workload][2]) or "-"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
    env.pop("SPARK_HOME", None)
    jvm_log = os.path.join(root, "jvm.log")
    spawn = time.time() * 1000
    with open(jvm_log, "w") as logf:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(jvm_log, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if code != 0:
        keep = os.path.join(WORK, "logs", f"{workload}-seed{seed}.log")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copy(jvm_log, keep)
        fail(f"harness exited with {code}; log kept at {keep}", 4)
    with open(out) as f:
        res = json.load(f)
    res["spawn_ms"] = spawn
    res["check_dir"] = check
    res["trace_file"] = trace_file
    return res


# ---------------------------------------------------------------- checks

def check_queries(res, corpus):
    import oracle
    con = oracle.connect()
    oracle.register(con, corpus)
    cache = oracle.load_cache()
    errors = []
    first = None
    for name, sql in res["oracle_sql"].items():
        out = os.path.join(res["check_dir"], name)
        result = f"SELECT * FROM read_parquet('{out}/*.parquet')"
        if sql is None:
            errors.append(f"{name}: no oracle SQL")
            continue
        if not (os.path.isdir(out) and any(f.endswith(".parquet")
                                           for f in os.listdir(out))):
            errors.append(f"{name}: no output from the check round")
            continue
        t0 = time.time()
        err = oracle.compare(con, cache, corpus, result, sql)
        log(f"check {name}: {'PASS' if err is None else 'FAIL ' + err}"
            f" ({time.time() - t0:.1f} s)")
        if err:
            errors.append(f"{name}: {err}")
        elif first is None:
            first = (result, sql)
    if first:
        err = oracle.self_test(con, cache, corpus, *first)
        if err:
            errors.append(err)
    oracle.save_cache(cache)
    return errors


def check_saas(res):
    """The saas_jobs properties, computed apart from the program: every
    output CSV equals DuckDB's dropna + sentiment CASE over the upload,
    one distinct job id per request, every job Completed with its
    result_url, listJobs ordered by upload_time desc then id desc, and
    login true exactly for the right password."""
    import oracle
    con = oracle.connect()
    errors = []
    reqs = res["requests"]
    for r in reqs:
        if r.get("login") != r["login_expected"]:
            errors.append(f"request {r['request']}: login returned {r.get('login')}")
        if "job_id" not in r:
            errors.append(f"request {r['request']}: startEtl returned no job id")
    reqs = [r for r in reqs if "job_id" in r]
    ids = [r["job_id"] for r in reqs]
    if len(set(ids)) != len(ids):
        errors.append("job ids are not distinct")
    listed = res["list_jobs"]
    if sorted(j["id"] for j in listed) != sorted(ids):
        errors.append(f"listJobs lists {len(listed)} jobs for {len(reqs)} requests")
    by_id = {j["id"]: j for j in listed}
    raw = sorted(res["jobs_raw"], key=lambda j: (-j["upload_us"], -j["id"]))
    if [j["id"] for j in listed] != [j["id"] for j in raw]:
        errors.append("listJobs is not ordered by upload_time desc, id desc")
    case = res["sentiment_sql"]
    cols = "doc_id, text, lang, source, n_chars"
    first = None
    for r in reqs:
        job = by_id.get(r["job_id"], {})
        if job.get("status") != "Completed" or job.get("result_url") != r["out"]:
            errors.append(f"job {r['job_id']}: {job.get('status')} "
                          f"{job.get('result_url')}")
            continue
        got = (f"SELECT * FROM read_csv('{r['out']}/*.csv', header = true, "
               "all_varchar = true)")
        want = (f"SELECT {cols}, {case} AS sentiment_result FROM read_csv("
                f"'{r['upload']}', header = true, all_varchar = true) "
                "WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL "
                "AND source IS NOT NULL AND n_chars IS NOT NULL")
        err = oracle.compare(con, {}, None, got, want)
        if err:
            errors.append(f"job {r['job_id']} output: {err}")
        elif first is None:
            first = (got, want)
    if first:
        err = oracle.self_test(con, {}, None, *first)
        if err:
            errors.append(err)
    return errors


# ---------------------------------------------------------------- metrics

def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    timed = [r for r in res["rounds"] if r["phase"] == "timed"]
    return {
        "setup_s": (res["timed_start"] - res["spawn_ms"]) / 1000,
        "round_s": med((r["end"] - r["start"]) / 1000 for r in timed),
        "cpu_s": med(r["cpu_s"] for r in timed),
    }


def request_metrics(res):
    """The requests' own latencies, medians over the timed rounds: the
    saas_jobs calls, and the streams' micro-batches and grown index."""
    timed = [r for r in res["rounds"] if r["phase"] == "timed"]
    ids = {r["round"] for r in timed}
    wall = lambda n: med((s["end"] - s["start"]) / 1000 for s in res["spans"]
                         if s["name"] == n and s["round"] in ids)
    batches = layers.in_rounds([b for b in res.get("stream_batches", []) if b["rows"] > 0],
                        timed)
    index = res.get("index_mb", [])
    index = [x["mb"] for x in index if x["round"] in ids] or [x["mb"] for x in index]
    return {"peak_rss_mb": res["peak_rss_mb"],
            "etl_job_s": wall("startEtl"), "list_jobs_s": wall("listJobs"),
            "login_s": wall("login"),
            "batch_s": med(b["durations_ms"].get("triggerExecution", 0) / 1000
                           for b in batches),
            "index_mb": med(index)}


def _alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: run from the root of a checkout")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    corpus, uploads = inputs(a.workload, a.seed)
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    for d in os.listdir(runs):  # left by a run that was killed
        if not _alive(int(d.rsplit("-", 1)[1])):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.path.join(runs, f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        os.environ["TMPDIR"] = root
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, corpus,
                      uploads, root)
        t0 = time.time()
        try:
            errors = check_saas(res) if a.workload == "saas_jobs" \
                else check_queries(res, corpus)
        except Exception as e:  # a malformed output fails the check
            errors = [f"the check raised {e!r}"]
        log(f"checked outputs in {time.time() - t0:.1f} s: "
            f"{'all correct' if not errors else '; '.join(errors[:5])}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    timed = [r for r in res["rounds"] if r["phase"] == "timed"]
    # every round counts: the check round, the warm-up rounds and the
    # timed ones all make the same operations
    attempted = sum(r["ops"] for r in res["rounds"])
    failed = sum(r["failed"] for r in res["rounds"])
    req = request_metrics(res)
    e2e = end_to_end(res)
    phases = {s["name"]: (s["end"] - s["start"]) / 1000 for s in res["spans"]
              if s["name"].startswith("setup.")}
    log(f"setup: jvm {(res['jvm_start'] - res['spawn_ms']) / 1000:.1f} s, " +
        ", ".join(f"{k[6:]} {v:.1f} s" for k, v in phases.items()))
    log(f"{a.workload} seed {a.seed}: {len(timed)} timed rounds; " +
        ", ".join(f"{k}={v:.4g}" for k, v in {**e2e, **req}.items()))
    ids = {r["round"] for r in timed}
    ops = {}
    for s in res["spans"]:
        if (s["round"] in ids and s["parent"] >= 0
                and res["spans"][s["parent"]]["name"] == "round.timed"):
            ops.setdefault(s["name"], []).append((s["end"] - s["start"]) / 1000)
    log("operations (median s): " +
        ", ".join(f"{k} {med(v):.3f}" for k, v in ops.items()))
    if a.trace:
        metrics = layers.per_layer(res, a.workload, WORKLOADS, SAAS_OPS, req, e2e)
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
