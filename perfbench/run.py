#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: gasket pipelines and catalog queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the program and the
harness (perfbench/build.sbt) into .bench_build/. Each run works in
.bench_work/<workload>-s<seed>-t<trace>/ and keeps its full record there
(result.json: seed, workload, commit, cores, heap, Spark conf, input
sizes, loadavg, every sample; trace.jsonl: spans of a traced run).

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Any wrong output is listed by op and cause on stderr and makes
the exit code 1.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "sources.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "2g"
# a fixed heap; the collector is the JDK default, as the program runs
JVM_FLAGS = ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m"]
RUN_LIMIT_S = 170          # every run must end within 180 s
BUILD_LIMIT_S = 850        # the first run of a checkout may take 900 s
FAMILIES = ["ops.relational", "ops.pipeline", "ext.dedup", "ext.similarity",
            "ext.text", "ext.formats", "streaming"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(("%s %d %d\n" % (os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns)).encode())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("program sources not found under src/main/scala; run from the repository root")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log, 3)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-3000:])
        fail("build failed; see " + log, 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_cmd(work, main_args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    return cmd + ["-cp", cp, "perfbench.Runner"] + main_args


def run_jvm(work, main_args, limit):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(java_cmd(work, main_args), cwd=work, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=max(limit, 10))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1, log
    return code, log


# ------------------------------------------------------------ output check

def fingerprint(con, sql):
    """(rows, sorted column names, order-independent hash) of a query's
    result. Each cell is compared as DuckDB's text for its value, so an int
    975 and a float 975.0 differ and floats keep every digit; zoned
    timestamps (Spark writes UTC) are compared as UTC wall-clock time."""
    desc = con.execute("DESCRIBE " + sql).fetchall()
    cols = sorted(desc, key=lambda d: d[0])
    cells = []
    for name, typ, *_ in cols:
        c = '"%s"' % name.replace('"', '""')
        if typ.startswith("TIMESTAMP WITH TIME ZONE"):
            c = "CAST(%s AS TIMESTAMP)" % c
        cells.append("coalesce(CAST(%s AS VARCHAR), 'NULL')" % c)
    row = "concat_ws(chr(31), %s)" % ", ".join(cells) if cells else "''"
    n, h = con.execute("SELECT count(*), coalesce(sum(hash(%s)), 0) FROM (%s)" % (row, sql)).fetchone()
    return n, [d[0] for d in cols], int(h)


def output_sql(path, sink):
    """DuckDB relation over an op's written output."""
    if sink == "ndjson":
        return "SELECT * FROM read_json('%s/part-*', format='newline_delimited')" % path
    return "SELECT * FROM read_parquet('%s/*.parquet')" % path


NORMALIZE = "trim(regexp_replace(lower(value), ' +', ' ', 'g'))"
REDACT = ("regexp_replace(regexp_replace(regexp_replace({x}, "
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'), "
          "'https?://[^ ]+', '<URL>', 'g'), '[0-9]{{5,}}', '<NUM>', 'g')")
PIPELINE_ORACLE = {
    "modules": "SELECT upper(" + REDACT.format(x=NORMALIZE) + ") AS value FROM lines",
    "tr": "SELECT translate(value, 'abcdefghijklmnopqrstuvwxyz', "
          "'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS value FROM lines",
    "ndjson": "SELECT id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM nd",
    "fork": "SELECT upper(value) AS value FROM lines UNION ALL SELECT lower(value) FROM lines",
    "tee": "SELECT upper(value) AS value FROM lines UNION ALL SELECT " + NORMALIZE + " FROM lines",
    "reduce": "SELECT DISTINCT value FROM lines",
    "multiseg": "SELECT " + NORMALIZE + " AS value FROM lines UNION ALL "
                "SELECT value FROM lines UNION ALL SELECT value FROM lines",
}
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def check_outputs(workload, ops, result, work, data):
    """Compare every op's full output with DuckDB.
    Returns ({op: cause}, {op: rows of the checked output})."""
    import duckdb
    import pyarrow as pa
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    bad = {}
    if workload == "pipeline_lines":
        with open(os.path.join(data, "lines.txt"), encoding="utf-8") as f:
            lines = f.read().split("\n")[:-1]
        con.register("lines", pa.table({"value": pa.array(lines, pa.string())}))
        con.execute("CREATE VIEW nd AS SELECT * FROM read_json('%s', format='newline_delimited', "
                    "columns={'id': 'BIGINT', 'text': 'VARCHAR'})" % os.path.join(data, "lines.ndjson"))
    else:
        for t in CATALOG_TABLES:
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, os.path.join(data, t + ".parquet")))
    oracle = result["oracle"]
    rows = {}
    for op in ops:
        name = op["name"]
        sub = "sink" if op["sink"] != "noop" else "check"
        path = os.path.join(work, sub, name)
        if not os.path.isdir(path):
            bad[name] = "no output written"
            continue
        try:
            got = fingerprint(con, output_sql(path, op["sink"]))
            rows[name] = got[0]
            sql = PIPELINE_ORACLE[name] if workload == "pipeline_lines" else oracle.get(name)
            if sql is None:
                if got[0] == 0:
                    bad[name] = "rows-only query returned no rows"
                continue
            g, w = got, fingerprint(con, sql)
            if g[0] != w[0]:
                bad[name] = "row count %d, DuckDB %d" % (g[0], w[0])
            elif g[1] != w[1]:
                bad[name] = "columns %s, DuckDB %s" % (g[1], w[1])
            elif g[2] != w[2]:
                bad[name] = "fingerprint %016x, DuckDB %016x" % (g[2], w[2])
        except Exception as e:  # a broken output is a failed op, not a crash
            bad[name] = "check error: %s" % str(e).splitlines()[0][:300]
    return bad, rows


# ----------------------------------------------------------------- metrics

def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for num in (m * (b - m) * x / ((a + m2 - 1.0) * (a + m2)),
                    -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _ibeta(a, b, x):
    """Regularised incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a weighted mean of all
    order statistics. Over a mix of ops with distinct latencies it moves
    smoothly, where a single order statistic jumps between ops."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_ibeta(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail(latencies):
    """The highest percentile that has at least ten samples above it (the
    median when there are fewer than 20 samples). A workload runs whole
    passes, so every run of it has the same sample count and percentile."""
    n = len(latencies)
    pct = max(50.0, 100.0 * (n - 10) / n)
    return quantile(latencies, pct / 100.0), pct, n


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def end_to_end(phase, setup):
    ops = phase["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["_failed"])
    lat = [o["lat_s"] for o in ops]
    t, pct, n = tail(lat)
    return {
        # what one process pays before its first timed op: JVM start, inputs,
        # session, and the first warm-up pass (cold codegen, index builds)
        "setup_s": {"value": setup["total_s"] + setup["first_pass_s"], "unit": "s"},
        "ops_per_s": {"value": (attempted - failed) / phase["wall_s"], "unit": "1/s"},
        "latency_p50_s": {"value": quantile(lat, 0.5), "unit": "s", "samples": n},
        "latency_tail_s": {"value": t, "unit": "s", "percentile": round(pct, 1), "samples": n},
        "cpu_s_per_op": {"value": phase["cpu_s"] / attempted, "unit": "s"},
        "peak_rss_mb": {"value": phase["peak_rss_mb"], "unit": "MB"},
        "failed_ratio": {"value": failed / attempted, "unit": "1"},
    }, attempted, failed


def self_times(trace_file):
    """Per layer: total span duration minus the time its children cover."""
    spans = []
    with open(trace_file) as f:
        spans = [json.loads(x) for x in f if x.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cov = union_ms([(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, s["end"] - s["start"] - cov)
    return out, len(spans)


def per_layer(result, phase, plan_ops, trace_file, data_bytes, cores):
    ops = [o for o in phase["ops"] if "spec_ms" in o]  # a failed op has no trace
    n = max(1, len(ops))
    kind = {o["name"]: o["kind"] for o in plan_ops}
    family = {o["name"]: o["family"] for o in plan_ops}
    sink = {o["name"]: o["sink"] for o in plan_ops}
    s = result["setup"]
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    put("setup.session_s", s["session_s"], "s")
    put("setup.inputs_s", s["inputs_s"], "s")
    put("setup.warmup_s", s["first_pass_s"], "s")
    put("setup.index_builds", s["index_builds"], "count")
    # the benchmark's own passes that let the JIT settle; not in setup_s
    put("setup.jit_passes_s", s["jit_passes_s"], "s")

    wall = {id(o): o["end_ms"] - o["start_ms"] for o in ops}
    wall_total = sum(wall.values()) or 1.0
    outside = {id(o): wall[id(o)] - union_ms(o["jobs"], o["start_ms"], o["end_ms"]) for o in ops}
    pipe_ops = [o for o in ops if o["spec_ms"] > 0]
    query_ops = [o for o in ops if o["spec_ms"] == 0]
    put("spec.load_ms", mean(o["spec_ms"] for o in pipe_ops), "ms")
    put("engine.plan_ms", mean(o["build_ms"] for o in pipe_ops), "ms")
    put("engine.segments_per_op", mean(o["segments"] for o in pipe_ops), "count")
    tee = [o for o in pipe_ops if o["name"] == "tee"]
    lines = data_bytes.get("lines.txt", {}).get("rows", 0)
    put("engine.tee_source_ratio", sum(o["tee_rows"] for o in tee) / (lines * len(tee)) if tee and lines else 0.0, "1")

    piped_ms = sum(o["piped_run_ms"] for o in ops)
    task_ms = sum(o["task_run_ms"] for o in ops)
    cmd_ops = [o for o in ops if o["piped_tasks"] > 0]
    put("stages.command_s", piped_ms / 1000.0 / n, "s")
    put("stages.command_share", piped_ms / task_ms if task_ms else 0.0, "1")
    put("stages.command_lines_per_s", sum(o["piped_records"] for o in ops) / (piped_ms / 1000.0) if piped_ms else 0.0, "1/s")
    put("stages.command_processes", mean(o["piped_tasks"] for o in cmd_ops), "count")
    nd_ms = sum(o["task_run_ms"] for o in ops if kind[o["name"]] == "ndjson")
    put("stages.ndjson_s", nd_ms / 1000.0 / n, "s")
    put("stages.ndjson_share", nd_ms / task_ms if task_ms else 0.0, "1")
    put("stages.module_s", sum(o["task_run_ms"] for o in ops if kind[o["name"]] == "module") / 1000.0 / n, "s")

    read_ms = sum(o["task_run_ms"] for o in ops if o["input_bytes"] > 0)
    put("sources.read_mb_per_s", sum(o["input_bytes"] for o in ops) / 1e6 / (read_ms / 1000.0) if read_ms else 0.0, "MB/s")
    sinks = [o for o in ops if sink[o["name"]] != "noop"]
    write_s = sum(o["action_ms"] for o in sinks) / 1000.0
    written = sum(o["output_bytes"] for o in sinks)
    put("sources.write_s", write_s / len(sinks) if sinks else 0.0, "s")
    put("sources.write_mb_per_s", written / 1e6 / write_s if write_s else 0.0, "MB/s")
    read_by_sinks = sum(o["input_bytes"] for o in sinks)
    put("sources.bytes_written_per_input_byte", written / read_by_sinks if read_by_sinks else 0.0, "1")

    put("ops.build_ms", mean(o["build_ms"] for o in query_ops), "ms")
    put("ops.plan_ms", mean(o["catalyst_ms"] for o in ops), "ms")
    put("ops.outside_jobs_s", mean(outside.values()) / 1000.0, "s")
    put("ops.outside_jobs_share", sum(outside.values()) / wall_total, "1")
    put("ops.jobs_per_op", mean(len(o["jobs"]) for o in ops), "count")
    put("ops.stages_per_op", mean(o["stages"] for o in ops), "count")
    put("ops.tasks_per_op", mean(o["tasks"] for o in ops), "count")
    gaps = [max(0.0, b[0] - a[1]) for o in ops for a, b in zip(o["jobs"], o["jobs"][1:])]
    put("ops.job_gap_ms", mean(gaps), "ms")
    put("ops.codegen_compiles_per_op", mean(o["codegen_compiles"] for o in ops), "count")
    put("ops.codegen_ms", mean(o["codegen_ms"] for o in ops), "ms")
    put("ops.task_cpu_s", sum(o["task_cpu_ms"] for o in ops) / 1000.0 / n, "s")
    put("ops.task_run_s", task_ms / 1000.0 / n, "s")
    put("ops.gc_s", sum(o["gc_ms"] for o in ops) / 1000.0 / n, "s")
    put("ops.shuffle_write_mb", sum(o["shuffle_write_bytes"] for o in ops) / 1e6 / n, "MB")
    put("ops.shuffle_read_mb", sum(o["shuffle_read_bytes"] for o in ops) / 1e6 / n, "MB")
    put("ops.spill_mb", sum(o["spill_bytes"] for o in ops) / 1e6 / n, "MB")
    put("ops.peak_exec_mem_mb", mean(o["peak_exec_mem_bytes"] for o in ops) / 1e6, "MB")
    put("ops.core_busy_ratio", task_ms / (cores * wall_total), "1")

    for fam in FAMILIES:
        fo = [o for o in ops if family[o["name"]] == fam]
        put(fam + ".latency_s", mean(o["lat_s"] for o in fo), "s")
        put(fam + ".task_cpu_s", mean(o["task_cpu_ms"] for o in fo) / 1000.0, "s")
        put(fam + ".outside_jobs_s", mean(outside[id(o)] for o in fo) / 1000.0, "s")
        put(fam + ".jobs", mean(len(o["jobs"]) for o in fo), "count")

    owners = [o for o in ops if o["owns_artifacts"]]
    rebuilt = sum(o["artifacts_rebuilt"] for o in ops)
    put("ext.index_builds_timed", rebuilt, "count")
    put("ext.index_reuse_ratio", 1.0 - rebuilt / len(owners) if owners else 0.0, "1")

    streams = [o for o in ops if o["batches"]]
    batches = [b for o in streams for b in o["batches"]]
    put("streaming.batches_per_op", mean(len(o["batches"]) for o in streams), "count")
    put("streaming.batch_ms_p50", statistics.median(b["trigger_ms"] for b in batches) if batches else 0.0, "ms")
    put("streaming.commit_ms", mean(b["commit_ms"] for b in batches), "ms")
    put("streaming.planning_ms", mean(b["planning_ms"] for b in batches), "ms")
    put("streaming.state_rows", mean(sum(b["state_rows"] for b in o["batches"]) for o in streams), "count")

    selfs, nspans = self_times(trace_file)
    for layer in ("bench", "spec", "engine", "ops", "action", "job", "stage", "task"):
        put("self.%s_ms" % layer, selfs.get(layer, 0.0) / n, "ms")
    put("trace.spans", nspans, "count")
    return m


# -------------------------------------------------------------------- run

def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return os.environ.get("GIT_COMMIT", "unknown")


def sources_sha256():
    """Content hash of the program's sources: names the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(PROGRAM_SRC)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def load_avg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run(args):
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in workloads:
        fail("unknown workload %r (have: %s)" % (args.workload, ", ".join(sorted(workloads))))
    build()
    t_built = time.time()
    load_before = load_avg()
    work = os.path.join(ROOT, ".bench_work", "%s-s%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    cores = min(4, os.cpu_count() or 1)
    spec = workloads[args.workload]
    ops = spec["ops"]
    # whole passes at the workload's nominal pace: the same count, and so
    # the same number of samples per percentile, on every run
    passes = max(1, round(args.seconds / spec["pass_s"]))
    plan = {
        "workload": args.workload, "seed": args.seed, "passes": passes,
        "warm_passes": spec["warm_passes"],
        "trace": bool(args.trace), "data": data, "work": work,
        "trace_file": os.path.join(work, "trace.jsonl"), "cores": cores,
        "clk_tck": os.sysconf("SC_CLK_TCK"),
        "gen": [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
                "--seed", str(args.seed), "--out", data],
        "ops": ops,
    }
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1)
    # the build of a fresh checkout has its own allowance
    code, log = run_jvm(work, ["run", os.path.join(work, "plan.json")],
                        RUN_LIMIT_S - 15 - (time.time() - t_built))
    res_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res_path):
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-40:]))
        fail("runner %s; see %s" % ("timed out" if code == -1 else "exited with %d" % code, log), 4)
    result = json.load(open(res_path))
    inputs = json.loads(result["setup"]["manifest"])

    # ---- checks, all outside the timed phases
    failures = []
    warm = {w["name"]: w for w in result["warmup"]}
    # every timed execution of a noop op must repeat the (rows, hash) of its
    # checked output as read back; sink ops are held to the checked rows
    reference = {n: (w["ref_rows"], w["ref_hash"]) for n, w in warm.items() if "ref_hash" in w}
    bad, checked_rows = check_outputs(args.workload, ops, result, work, data)
    for name, w in warm.items():
        if not w["ok"]:
            bad[name] = "warm-up run failed: " + w["err"]
    phases = [("untraced", result["untraced"])] + ([("traced", result["traced"])] if args.trace else [])
    for name, (rows, _) in reference.items():
        if name not in bad and rows != checked_rows.get(name):
            bad[name] = "checked output read back as %d rows, DuckDB read %s" % (rows, checked_rows.get(name))
    for label, phase in phases:
        for o in phase["ops"]:
            cause = None
            ref = reference.get(o["name"])
            if not o["ok"]:
                cause = o["err"]
            elif o["name"] in bad:
                cause = bad[o["name"]]
            elif o["rows"] != checked_rows.get(o["name"]):
                cause = "rows %d, checked output %s" % (o["rows"], checked_rows.get(o["name"]))
            elif ref is not None and o["hash"] != ref[1]:
                cause = "row hash %d, checked output %d" % (o["hash"], ref[1])
            o["_failed"] = cause is not None
            if cause:
                failures.append({"op": o["name"], "phase": label, "pass": o["pass"], "cause": cause})
    for name, cause in bad.items():
        if not any(f["op"] == name for f in failures):
            failures.append({"op": name, "cause": cause})

    e2e, attempted, failed = end_to_end(result["untraced"], result["setup"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "commit": git_commit(), "sources_sha256": sources_sha256(), "cores": cores, "heap": HEAP, "jvm_flags": JVM_FLAGS,
        "max_heap_mb": result["max_heap_mb"], "java": result["java"], "spark": result["spark"],
        "spark_conf": result["conf"], "inputs": inputs,
        "loadavg_before": load_before, "loadavg_after": load_avg(),
        "end_to_end": e2e, "failures": failures,
        "setup": {k: v for k, v in result["setup"].items() if k != "manifest"},
        "passes": result["untraced"]["passes"],
        "phase_load": {l: [p["load_before"], p["load_after"]] for l, p in phases},
        "phase_steal_s": {l: p["steal_s"] for l, p in phases},
    }
    if args.trace:
        traced_e2e, _, _ = end_to_end(result["traced"], result["setup"])
        layers = per_layer(result, result["traced"], ops, plan["trace_file"], inputs, cores)
        layers["trace.overhead_ratio"] = {
            "value": e2e["ops_per_s"]["value"] / traced_e2e["ops_per_s"]["value"] - 1.0, "unit": "1"}
        record["traced_end_to_end"] = traced_e2e
        record["per_layer"] = layers
        # listener counters of every traced op beside its spans, one file per run
        with open(plan["trace_file"], "a") as f:
            for i, o in enumerate(result["traced"]["ops"]):
                f.write(json.dumps({"op": i, "counters": o}) + "\n")
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for sub in ("data", "check", "sink", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    for f in failures:
        print("FAILED %s: %s" % (f["op"], f["cause"]), file=sys.stderr)
    print("# %s seed=%d cores=%d heap=%s passes=%d loadavg %s -> %s, steal %.2f s in the timed phase" % (
        args.workload, args.seed, cores, HEAP, record["passes"], load_before[0],
        record["loadavg_after"][0], result["untraced"]["steal_s"]))
    print("# end-to-end: " + json.dumps(e2e, sort_keys=True))
    if args.trace:
        print("# traced end-to-end: " + json.dumps(record["traced_end_to_end"], sort_keys=True))
        metrics = record["per_layer"]
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()
                   if k != "failed_ratio"}
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))
    return 0 if correct else 1


# --------------------------------------------------------------- selftest

def selftest():
    """Generator determinism and the timed action's plan shape."""
    build()
    ok = True
    scratch = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    for w in ("catalog_small", "catalog_large", "pipeline_lines"):
        def gen(seed, sub):
            out = os.path.join(scratch, w, sub)
            r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", w,
                                "--seed", str(seed), "--out", out], capture_output=True, text=True, check=True)
            return json.loads(r.stdout.strip().splitlines()[-1])
        a, b, c = gen(7, "a"), gen(7, "b"), gen(8, "c")
        same = a == b
        rows = {k: v["rows"] for k, v in a.items()} == {k: v["rows"] for k, v in c.items()}
        differ = all(a[k]["sha256"] != c[k]["sha256"] for k in a
                     if k not in ("gasket.json", "region.parquet", "nation.parquet"))
        for what, good in (("same seed gives byte-identical files", same),
                           ("another seed keeps the row counts", rows),
                           ("another seed changes every scaled file", differ)):
            print("%s %s: %s" % ("PASS" if good else "FAIL", w, what))
            ok &= good
    data = os.path.join(scratch, "pipeline_lines", "a")
    code, log = run_jvm(os.path.join(scratch, "jvm"), ["plancheck", data], 170)
    for line in open(log, errors="replace"):
        if line.startswith(("PASS", "FAIL")):
            print(line.rstrip())
    ok &= code == 0
    shutil.rmtree(scratch, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if args.workload is None or args.seed is None:
        ap.error("--workload and --seed are required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
