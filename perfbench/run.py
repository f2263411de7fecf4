#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads, end-to-end and per-layer
metrics, output checks.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The first run builds the engine and the
benchmark client from `src/main/scala` and `perfbench/scala` into
`.bench_build/`; inputs are generated from the seed into the same place.
The client is one JVM running Spark on `local[nproc]` with a single-threaded
closed loop. The last line of stdout is the result:
`{"correct", "attempted", "failed", "metrics"}` — with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer ones. The line before it
is the run's record: provenance (source digest, git sha when available,
nproc), the contention canary and the raw figures behind every metric.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "graft.jsa")
JVM_TIMEOUT_S = 160

# ingest_retrieve's fixed cycle of op kinds: one ingest batch, then seven
# queries, two BM25 and five on the vector store (nprobe 1-8, k 10/100, one
# with an allow-list)
CYCLE = [
    {"kind": "batch"},
    {"kind": "bm25"},
    {"kind": "ivf", "nprobe": 1, "k": 10, "filtered": False},
    {"kind": "ivf", "nprobe": 4, "k": 100, "filtered": True},
    {"kind": "ivf", "nprobe": 2, "k": 100, "filtered": False},
    {"kind": "bm25"},
    {"kind": "ivf", "nprobe": 8, "k": 10, "filtered": False},
    {"kind": "ivf", "nprobe": 2, "k": 10, "filtered": False}]

# Why each workload exists is recorded in BENCHMARK.json; these are the
# fixed input properties per workload (the seed changes only the draws).
# The window runs for --seconds and then on to the end of its current round
# of `round_ops` ops, so every run measures whole rounds whatever its speed;
# a round takes longer than BENCHMARK.json's run_seconds, so a run measures
# one round.
WORKLOADS = {
    "nightly_pipeline": {
        "params": {"docs": 2000, "doc_len": 50, "dup_share": 0.15, "posts": 500},
        # the first pipeline op runs cold (JIT, generated-code compiles)
        # and the next ones keep getting faster, so every run measures the
        # same ones: the window starts after one and measures two
        "warmup_ops": 1,
        "round_ops": 2,
        "oracles": ["pl01_pipeline_e2e"],
    },
    "ingest_retrieve": {
        "params": {"seed_docs": 1500, "batch": 200, "batches": 40, "updates": 200,
                   "update_keys": 50000, "doc_len": 50, "dup_share": 0.15,
                   "micro_size": 10, "tightness": 0.05, "coarse": 24,
                   "codebook": 16, "forget_sets": 20, "allowed_share": 0.3,
                   "requests": 64, "per_request": 4, "ops": 160,
                   "repeat_share": 0.2, "recall_queries": 200,
                   "recall_nprobe": 4, "cycle": CYCLE},
        # two whole cycles: the same mix of op kinds in every run
        "warmup_ops": len(CYCLE),
        "round_ops": 2 * len(CYCLE),
        "oracles": ["t21_bm25_topk"],
    },
}

STAGES = ["preprocess", "explore", "translate", "profile", "curate"]
SIM = "operators.Similarity"
RETRIEVAL = [f"{SIM}.ivfPqStoredTopK", "queries.TextQueries.bm25Retrieve"]
INGEST = ["operators.IncrementalNearDup.dedupeBatch", f"{SIM}.admitIvfPqBatch",
          "streaming.StreamUpsert.applyBatch"]
FORGET = f"{SIM}.forgetFromIvfPqStore"
BUILDS = [f"{SIM}.buildIvfPqStore", "queries.TextQueries.bm25BuildIndex"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources():
    files = []
    for top in ("src/main/scala", "perfbench/scala"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _toolchain():
    """Scala compiler jars for the build's scalaVersion, and the Spark jar
    dir the build compiles against (build.sbt's unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    ver = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not ver or not base:
        die("build.sbt names no scalaVersion or unmanagedBase")
    ver, spark_jars = ver.group(1), base.group(1)
    want = {f"scala-{p}-{ver}.jar" for p in ("compiler", "library", "reflect")}
    found = {}
    caches = [os.environ.get("COURSIER_CACHE"),
              os.path.expanduser("~/.cache/coursier"),
              os.path.expanduser("~/.ivy2"), os.path.expanduser("~/.sbt")]
    for c in filter(None, caches):
        for d, _, names in os.walk(c):
            for n in names:
                if n in want and n not in found:
                    found[n] = os.path.join(d, n)
        if len(found) == len(want):
            break
    if len(found) != len(want):
        die(f"no Scala {ver} compiler in the local caches")
    return [found[n] for n in sorted(want)], spark_jars


def build():
    """Compile the engine and the client once per source digest into one
    jar, and record a JVM class-data archive of a Spark session start
    (it halves the client's start-up, so every run must use it)."""
    files = _sources()
    if not any("/src/main/scala/" in f for f in files) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("no engine sources (src/main/scala, build.sbt) next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest(files)
    jar = os.path.join(BUILD, "graft.jar")
    stamp = os.path.join(BUILD, "graft.digest")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        jars, spark_jars = _toolchain()
        if os.path.isfile(stamp) and open(stamp).read() == digest:
            return jar, spark_jars, digest
        for f in (stamp, jar, ARCHIVE):
            if os.path.exists(f):
                os.remove(f)
        classes = os.path.join(BUILD, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        t = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
             "scala.tools.nsc.Main", "-nowarn", "-d", classes,
             "-classpath", f"{jars[1]}:{spark_jars}/*", f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("compile failed")
        with zipfile.ZipFile(jar + ".tmp", "w") as z:
            for d, _, names in os.walk(classes):
                for n in sorted(names):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, classes))
        os.rename(jar + ".tmp", jar)
        shutil.rmtree(classes)
        work = os.path.join(BUILD, "archive-work")
        r = subprocess.run(java_cmd(jar, spark_jars, work, archive="dump") +
                           ["--session-only", work], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=300)
        shutil.rmtree(work, ignore_errors=True)
        if r.returncode != 0 or not os.path.isfile(ARCHIVE):
            sys.stderr.write(r.stdout[-4000:])
            die("recording the class-data archive failed")
        with open(stamp, "w") as f:
            f.write(digest)
        print(f"perfbench: built in {time.time() - t:.0f} s", file=sys.stderr)
        return jar, spark_jars, digest


def java_cmd(jar, spark_jars, work, archive="use"):
    """The client JVM: build.sbt's JDK 17 module options, a fixed heap,
    temp files inside the run's work dir, and the class-data archive
    (`-Xshare:on`: a JVM that cannot map it stops instead of starting
    slower)."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if archive == "dump":
        cds = [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    else:
        cds = ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]
    return (["java"] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            cds + ["-Xms1536m", "-Xmx1536m", f"-Djava.io.tmpdir={tmp}",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                   "-cp", f"{jar}:{spark_jars}/*", "graft.perfbench.Main"])


# --------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs of one (workload, seed)."""
    import gen
    params = WORKLOADS[workload]["params"]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + json.dumps(params, sort_keys=True).encode())
    out = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{key.hexdigest()[:12]}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.isfile(meta_path):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = gen.generate(workload, seed, tmp, params)
        meta["raw_bytes"] = raw_bytes(workload, tmp, meta)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(meta_path) as f:
        return out, json.load(f)


def raw_bytes(workload, d, meta):
    """Uncompressed input size: text bytes, 8 per id or number, 4 per
    float — the denominator of store_bytes_ratio."""
    import pyarrow.parquet as pq

    def docs(path):
        t = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        return sum(len(x.encode()) + 8 for x in t)

    if workload == "nightly_pipeline":
        return docs(f"{d}/docs.parquet") + os.path.getsize(f"{d}/posts.csv")
    b = pq.read_table(f"{d}/batches.parquet", columns=["batch", "text"]).to_pydict()
    per = [meta["updates"] * 5 * 8] * meta["batches"]
    for i, t in zip(b["batch"], b["text"]):
        per[i] += len(t.encode()) + 8 + 8 + 4 * 64
    seed = docs(f"{d}/documents.parquet") + meta["seed_docs"] * (8 + 4 * 64)
    return {"seed": seed, "batches": per}


# ------------------------------------------------------------------ run

def run_client(jar, spark_jars, spec, work):
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = java_cmd(jar, spark_jars, work) + [spec_path, out_path]
    log = open(os.path.join(work, "client.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"client exceeded {JVM_TIMEOUT_S} s")
    finally:
        # never leave the client running, whatever ends this process
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if p.returncode != 0 or not os.path.isfile(out_path):
        with open(os.path.join(work, "client.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"client exited with {p.returncode}")
    # the last result of each workload stays for inspection
    os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
    shutil.copy(out_path, os.path.join(BUILD, "last", f"{spec['workload']}-trace{int(spec['trace'])}.json"))
    with open(out_path) as f:
        return json.load(f)


def hoisted(sql):
    """The same oracle SQL, evaluated faster: the near-dup oracles inline
    the per-token hash list several times inside the shingle comprehension
    of their `docs` CTE (quadratic per document in DuckDB); bind it once per
    row in a subquery, and materialize the CTEs the band join reads more
    than once. The expressions are unchanged, so is the answer. SQL of
    another shape is returned as it is."""
    head = "docs AS (SELECT doc_id AS id, CASE WHEN len("
    tail = " FROM documents)"
    i = sql.find(head)
    if i < 0 or sql[i + len(head)] != "[":
        return sql
    i += len(head)
    depth, j = 0, i
    while True:
        depth += {"[": 1, "]": -1}.get(sql[j], 0)
        j += 1
        if depth == 0:
            break
    expr, end = sql[i:j], sql.index(tail, i)
    sql = (sql[:i] + sql[i:end].replace(expr, "__th") +
           f" FROM (SELECT *, {expr} AS __th FROM documents))" + sql[end + len(tail):])
    return re.sub(r"\b(docs|sigs|banded) AS \(", r"\1 AS MATERIALIZED (", sql)


def oracle_rows(sql, input_dir, view):
    """The program's DuckDB oracle over the generated inputs, cached with
    the inputs (they are immutable per seed)."""
    import duckdb
    cache = os.path.join(input_dir, "oracle-" + hashlib.sha256(sql.encode()).hexdigest()[:16] + ".json")
    if os.path.isfile(cache):
        with open(cache) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{input_dir}/{view}'")
    rows = [list(r) for r in con.sql(hoisted(sql)).fetchall()]
    with open(cache, "w") as f:
        json.dump(rows, f)
    return rows


def check_outputs(workload, res, input_dir):
    """Compare op outputs with the program's oracles, marking failing ops;
    returns the whole-run errors."""
    fin = res["final"]
    run_errors = [fin["error"]] if "error" in fin else []
    if workload == "nightly_pipeline":
        want = oracle_rows(res["oracle_sql"]["pl01_pipeline_e2e"], input_dir, "docs.parquet")
        want = sorted([str(r[0])] + [int(x) for x in r[1:]] for r in want)
        for o in res["ops"]:
            if not o["error"] and sorted(o["detail"]["corpus_summary"]) != want:
                o["error"] = "corpus chain output differs from the pl01 oracle"
        return run_errors
    want = oracle_rows(res["oracle_sql"]["t21_bm25_topk"], input_dir, "documents.parquet")
    for o in res["ops"]:
        got = o["detail"].get("bm25")
        if o["error"] or got is None:
            continue
        ok = len(got) == len(want) and all(
            g[:3] == [int(w[0]), int(w[1]), int(w[2])] and
            abs(g[3] - float(w[3])) <= 1e-9 * max(1.0, abs(float(w[3])))
            for g, w in zip(got, want))
        if not ok:
            o["error"] = "bm25 top-10 differs from the t21 oracle"
    for k in ("ivf_equal", "upsert_equal"):
        if fin.get(k) is not True:
            run_errors.append(f"{k}: incremental store differs from its one-shot build")
    return run_errors


def end_to_end(workload, res, meta):
    ops = [o for o in res["ops"] if not o["traced"]]
    secs = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ops]
    pct, tail_v, beyond = stats.tail(secs)
    fin = res["final"]
    if workload == "nightly_pipeline":
        ratio = stats.median([o["detail"]["out_bytes"] for o in ops if o["detail"]]) / meta["raw_bytes"]
        planted = sum(o["detail"].get("planted", 0) for o in ops)
        recall = sum(o["detail"].get("planted_removed", 0) for o in ops) / max(planted, 1)
    else:
        # live store bytes (near-dup index, IVF-PQ store, latest upsert
        # snapshot) per raw byte of everything stored: seed and batches
        raw = meta["raw_bytes"]
        stored = raw["seed"] + sum(raw["batches"][b] for b in fin.get("batches_ingested", []))
        ratio = fin.get("store_bytes", 0) / stored
        recall = fin.get("recall_at_10", 0.0)
    values = {
        "setup_s": res["session_s"] + res["build_s"] + res["warmup_s"],
        # the median request: a query where the workload serves them (a
        # short window must not land it on a batch), else a pipeline run
        "op_p50_s": stats.median([t for o, t in zip(ops, secs) if not o["rows"]] or secs),
        # input rows per second of the ops that take input (pipeline
        # runs, ingest batches; a query request brings none)
        "rows_per_s": (sum(o["rows"] for o in ops) /
                       max(sum(t for o, t in zip(ops, secs) if o["rows"]), 1e-9)),
        "peak_rss_mb": res["peak_rss_mb"],
        "store_bytes_ratio": ratio,
        "recall": recall,
    }
    # the tail: reported in the record only, since a run holds fewer ops
    # than a percentile with ten samples beyond it needs
    extra = {"ops": len(ops), "op_kinds": sorted({o["kind"] for o in ops}),
             "op_tail": {"s": tail_v, "percentile": pct, "samples_beyond": beyond},
             "session_s": res["session_s"], "build_s": res["build_s"],
             "warmup_s": res["warmup_s"], "finish_s": res["finish_s"]}
    return values, extra


def per_layer(res, meta):
    """Per-layer figures of a traced run. Spark counters are per traced op;
    a layer's time is its share of the wall time of the ops (or set-up
    build) that call it, so a layer a workload never calls reads 0."""
    spans = [tuple(s) for s in res["spans"]]
    by_id = {s[0]: s for s in spans}
    acc = stats.attribute(spans, res["jobs"], res["stages"], res["plans"])
    selfs = stats.self_times(spans)
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o for o in res["ops"] if not o["traced"]]
    dur = lambda o: (o["end_ms"] - o["start_ms"]) / 1000  # noqa: E731
    op_spans = {s[0]: s for s in spans if s[2] == "op"}
    n = max(len(op_spans), 1)
    z = dict.fromkeys(("jobs", "tasks", "failed_tasks", "task_ms", "shuffle_write",
                       "shuffle_read", "spill", "input", "output", "plan_ms"), 0)
    tot = {k: sum(acc.get(sid, z)[k] for sid in op_spans) for k in z}
    wall = lambda ids: sum(by_id[r][4] - by_id[r][3] for r in ids) / 1000  # noqa: E731
    op_wall = wall(op_spans)

    def root(s):
        while s[1] != -1:
            s = by_id[s[1]]
        return s[0]

    def roots_of(name):
        """Root spans (ops or the set-up build) that contain `name`."""
        return {root(s) for s in spans if s[2] == name}

    def seconds(name):
        return sum(s[4] - s[3] for s in spans if s[2] == name) / 1000

    def share(name, roots=None):
        roots = roots_of(name) if roots is None else roots
        w = wall(roots)
        return seconds(name) / w if w else 0.0

    m = {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.plan_s_per_op": tot["plan_ms"] / 1000 / n,
        "spark.task_busy_share": tot["task_ms"] / 1000 / (op_wall * res["cores"]) if op_wall else 0.0,
        "spark.shuffle_write_bytes": tot["shuffle_write"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read"] / n,
        "spark.spill_bytes": tot["spill"] / n,
        "spark.input_bytes_per_op": tot["input"] / n,
        "spark.output_bytes_per_op": tot["output"] / n,
        "spark.gc_s": sum(o["gc_ms"] for o in traced) / 1000 / max(len(traced), 1),
        "spark.failed_tasks": sum(a[1] for a in res["stages"].values()),
        "trace.overhead_s": stats.overhead(traced, untraced),
        "trace.op_self_s": sum(selfs[sid] for sid in op_spans) / 1000 / n,
        "control.canary_s": res["canary_s"],
    }
    # pipeline: chains from spans; stages from the program's own per-stage
    # seconds; overlap = stage seconds / chain wall (above 1 when stages
    # of a chain run concurrently)
    chains = seconds("pipeline.posts") + seconds("pipeline.corpus")
    stage_s = {st: sum(o["detail"].get("stage_s", {}).get(st, 0.0) for o in traced) for st in STAGES}
    m["pipeline.posts.share"] = share("pipeline.posts", op_spans)
    m["pipeline.corpus.share"] = share("pipeline.corpus", op_spans)
    for st in STAGES:
        m[f"pipeline.stage.{st}.share"] = stage_s[st] / op_wall if op_wall else 0.0
    m["pipeline.overlap"] = sum(stage_s.values()) / chains if chains else 0.0
    # Dedup operators the traced run calls directly: one call's seconds as
    # a share of the median pipeline op
    dedup = roots_of("operators.Dedup.connectedComponents")
    op_med = stats.median([dur(o) for o in res["ops"]])
    for f in ("lshComponentEdges", "connectedComponents"):
        m[f"operators.Dedup.{f}.share"] = (
            seconds(f"operators.Dedup.{f}") / len(dedup) / op_med if dedup and op_med else 0.0)
    cc = [s[0] for s in spans if s[2] == "operators.Dedup.connectedComponents"]
    m["operators.Dedup.connectedComponents.jobs"] = (
        sum(acc.get(sid, z)["jobs"] for sid in cc) / len(cc) if cc else 0)
    # ingest: each call's share of the batch ops that make it
    batches = roots_of(INGEST[0]) & set(op_spans)
    for name in INGEST:
        m[f"{name}.share"] = share(name, batches)
    m[f"{FORGET}.share"] = share(FORGET)
    written = [o for o in res["ops"] if "files_added" in o["detail"]]
    m["store.files_added_per_op"] = (
        sum(o["detail"]["files_added"] for o in written) / len(written) if written else 0)
    # bytes the batch ops' Spark tasks wrote (including files a later step
    # of the same op replaces) per raw input byte
    # traced op records and "op" spans are both in op order
    traced_batches = [(s, o) for s, o in zip(sorted(op_spans.values()), traced)
                      if "files_added" in o["detail"]]
    m["store.bytes_written_per_input_byte"] = (
        sum(acc.get(s[0], z)["output"] for s, _ in traced_batches) /
        sum(meta["raw_bytes"]["batches"][o["detail"]["batch"]] for _, o in traced_batches)
        if traced_batches else 0.0)
    # retrieval: construct / plan / execute as shares of their ops' wall
    for name in RETRIEVAL:
        roots = roots_of(name) & set(op_spans)
        for part in ("construct", "plan", "exec"):
            m[f"{name}.{part}_share"] = share(f"{name}.{part}", roots)
    ivf_exec = [s[0] for s in spans if s[2] == f"{SIM}.ivfPqStoredTopK.exec" and root(s) in op_spans]
    codes = res["final"].get("codes_bytes", 0)
    m[f"{SIM}.ivfPqStoredTopK.bytes_read_ratio"] = (
        sum(acc.get(sid, z)["input"] for sid in ivf_exec) / len(ivf_exec) / codes
        if ivf_exec and codes else 0.0)
    # builds: share of the set-up builds
    setup = {s[0] for s in spans if s[2] == "setup"}
    for name in BUILDS:
        m[f"{name}.share"] = share(name, setup)
    return m


def declared(kind):
    """(name, unit) of every metric BENCHMARK.json declares of `kind`
    (end_to_end or per_layer): the run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def cpu_times():
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def git_sha():
    """HEAD of the tree, when the tree is itself a git checkout."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a terminated run unwinds (stopping the client) instead of dying
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jar, spark_jars, digest = build()
    input_dir, meta = inputs(a.workload, a.seed)
    w = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = {"workload": a.workload, "input": input_dir, "work": work,
                "cores": cores, "seconds": a.seconds, "trace": bool(a.trace),
                "warmup_ops": w["warmup_ops"], "round_ops": w["round_ops"],
                "params": w["params"], "meta": meta, "oracles": w["oracles"]}
        cpu0 = cpu_times()
        res = run_client(jar, spark_jars, spec, work)
        cpu1 = cpu_times()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run_errors = check_outputs(a.workload, res, input_dir)
    attempted, failed = stats.count_failures(res["ops"], run_errors)
    e2e, extra = end_to_end(a.workload, res, meta)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "source_digest": digest, "git_sha": git_sha(), "nproc": cores,
              "canary_s": res["canary_s"], "class_archive": res["class_archive"],
              # share of this machine's CPU time taken by its hypervisor
              # while the client ran: a second contention control
              "cpu_steal_share": (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1),
              "run_errors": run_errors,
              "op_errors": sorted({o["error"] for o in res["ops"] if o["error"]})[:5],
              "end_to_end": e2e, **extra}
    values = e2e
    if a.trace:
        values = record["per_layer"] = per_layer(res, meta)
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in declared("per_layer" if a.trace else "end_to_end")}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": max(attempted, 1),
                      "failed": failed if attempted else 1, "metrics": metrics}))


if __name__ == "__main__":
    main()
