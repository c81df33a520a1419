#!/usr/bin/env python3
"""Run one workload of the join benchmark and print its metrics.

    python3 joinbench/run.py --workload join_skew --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark with sbt on first use (or when a
source changed), then starts one JVM with a fixed heap and a fresh
scratch directory, and deletes that directory afterwards. The last line
of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The lines
before it print every metric by name and unit, and the per-layer lines
name the layers a workload does not run as absent.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
CLASSPATH = os.path.join(OUT, "classpath.txt")

# The fewest warm passes per workload: enough that query_tail_s has at
# least 11 samples, and that the medians fall inside one query's samples
# rather than between two. More do not fit: a benchmark run of both
# workloads is 48 runs in 3420 s, on a host whose pace varies by up to
# half (see README).
MIN_WARM = {"join_skew": 3, "registry_mix": 2}
# a traced run is flagged when more than this share of the query wall
# time falls outside every span and Spark job (time no layer accounts for)
UNATTRIBUTED_MAX = 0.05
# fixed and pre-touched, so resident memory does not follow the GC's
# heap sizing from run to run; heap demand shows in jvm.gc_s instead
HEAP = "1g"
RUN_TIMEOUT_S = 170
# what Spark needs opened on JDK 17 outside spark-submit (as in build.sbt)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("warm_pass_s", "s"), ("query_p50_s", "s"),
    ("query_tail_s", "s"), ("ok_frac", "frac"), ("peak_rss_mb", "MB"),
]
# per-layer metrics every workload reports (the last JSON line with --trace 1)
PER_LAYER = [
    ("datagen.gen_s", "s"), ("datagen.rows", "count"),
    ("sources.input_mb", "MB"), ("sources.input_rows", "count"),
    ("plan.plan_ms", "ms"), ("plan.exchanges", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.busy_frac", "frac"), ("exec.driver_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_ms", "ms"),
    ("io.output_mb", "MB"), ("jvm.gc_s", "s"), ("jvm.task_gc_s", "s"),
    ("queries.self_s", "s"), ("plan.self_s", "s"),
    ("exec.self_s", "s"), ("spark_jobs.self_s", "s"),
    ("trace.warm_pass_s", "s"), ("trace.unattributed_frac", "frac"),
]
# the repo's layers; a workload that does not run one reports it as absent
LAYERS = ["datagen", "sources", "plan", "exec", "shuffle", "joins", "graph",
          "streaming", "io", "jvm", "registry"]


def fail(msg):
    print(f"joinbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {BENCH} (build.sbt, src/main/scala)")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=850)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


# ---------------------------------------------------------------- run

def run_jvm(cp, args, extra):
    cores = min(4, os.cpu_count() or 1)
    run_dir = os.path.join(OUT, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "joinbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--cores", str(cores), "--min-warm", str(MIN_WARM[args.workload])]
           + extra)
    log = os.path.join(OUT, f"{args.workload}.log")
    try:
        with open(log, "w") as lf:
            launch_us = time.time_ns() // 1000
            p = subprocess.Popen(cmd + ["--launch-us", str(launch_us)], cwd=run_dir,
                                 stdout=lf, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
        res_file = os.path.join(run_dir, "result.json")
        if p.returncode != 0 or not os.path.isfile(res_file):
            with open(log) as f:
                tail = f.read()[-3000:]
            fail(f"JVM exited {p.returncode} without a result; log tail:\n{tail}")
        with open(res_file) as f:
            res = json.load(f)
        if res["info"].get("oracle"):
            failed = oracle_check(res["info"])
            for e in res["execs"]:
                if e["ok"] and e["query"] in failed:
                    e["ok"], e["error"] = False, failed[e["query"]]
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- oracle

def canon(df):
    """Columns sorted by name, rows sorted: an order-free form of a result
    (floats compared by repr, so only bit-identical values agree)."""
    cols = sorted(df.columns)
    rows = []
    for r in df[cols].itertuples(index=False, name=None):
        rows.append(tuple(None if v is None or (isinstance(v, float) and v != v)
                          else repr(v) if isinstance(v, float)
                          else v.isoformat() if hasattr(v, "isoformat") else v
                          for v in r))
    rows.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return cols, rows


def oracle_check(info):
    """Holds each query's cold-pass rows against its DuckDB oracle over the
    same generated tables. Returns the queries that differ, with why."""
    import duckdb
    con = duckdb.connect()
    sf = info["sf_dir"]
    for f in sorted(os.listdir(sf)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{sf}/{f}'")
    failed = {}
    for q, sql in sorted(info["oracle"].items()):
        got_dir = os.path.join(info["results_dir"], q)
        if not os.path.isdir(got_dir):  # its cold execution failed, so
            failed[q] = "oracle: no cold-pass output to check"  # nothing checks the rest
            continue
        try:
            gc, gr = canon(con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df())
            ec, er = canon(con.sql(sql).df())
        except Exception as e:  # a broken oracle or output fails the query
            failed[q] = f"oracle: {type(e).__name__}: {e}"
            continue
        if gc != ec:
            failed[q] = f"oracle: columns {gc} != {ec}"
        elif len(gr) != len(er):
            failed[q] = f"oracle: {len(gr)} rows != {len(er)}"
        elif gr != er:
            i = next(i for i, (a, b) in enumerate(zip(gr, er)) if a != b)
            failed[q] = f"oracle: sorted row {i}: {gr[i]} != {er[i]}"
    return failed


# ---------------------------------------------------------------- metrics

def tail(xs):
    """(percentile, value): the highest whole percentile of xs that has at
    least ten samples above its nearest-rank position."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None, None
    p = (100 * (n - 10)) // n
    idx = max(1, (p * n + 99) // 100)  # nearest rank, 1-based
    return p, xs[idx - 1]


def pass_walls(execs):
    """Wall time of every pass whose executions all passed their check."""
    by = {}
    for e in execs:
        by.setdefault(e["pass"], []).append(e)
    return {p: sum(e["wall_s"] for e in es) for p, es in by.items()
            if all(e["ok"] for e in es)}


def end_to_end(res):
    execs = res["execs"]
    ok = [e for e in execs if e["ok"]]
    walls = pass_walls(execs)
    warm = [w for p, w in walls.items() if p > 0]
    qwarm = [e["wall_s"] for e in ok if e["pass"] > 0]
    p, tail_v = tail(qwarm)
    m = {
        "setup_s": (res["first_query_us"] - res["launch_us"]) / 1e6,
        "first_pass_s": walls.get(0),
        "warm_pass_s": statistics.median(warm) if warm else None,
        "query_p50_s": statistics.median(qwarm) if qwarm else None,
        "query_tail_s": tail_v,
        "ok_frac": len(ok) / len(execs),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    info = {"query_tail_pct": p, "query_tail_samples": len(qwarm),
            "warm_passes": res["warm_passes"]}
    return m, info, len(execs), len(execs) - len(ok)


def union(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def per_layer(res):
    """Per-layer metrics from a traced run: per warm pass, then the median."""
    spans = {s["id"]: s for s in res["spans"]}
    kids = {}
    for s in res["spans"]:
        kids.setdefault(s["parent"], []).append(s["id"])
    jobs_of, stages_of = {}, {}
    for j in res["jobs"]:
        jobs_of.setdefault(j["span"], []).append(j)
    for st in res["stages"]:
        stages_of.setdefault(st["span"], []).append(st)

    def subtree(i):
        out, todo = [], [i]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += kids.get(x, [])
        return out

    def self_time(i):
        s = spans[i]
        iv = [(spans[k]["start"], spans[k]["end"]) for k in kids.get(i, [])]
        iv += [(j["start"], j["end"]) for j in jobs_of.get(i, [])]
        return (s["end"] - s["start"]) - union(clip(iv, s["start"], s["end"]))

    cores = res["cores"]
    execs = [e for e in res["execs"] if e["ok"] and e["pass"] > 0]
    passes = sorted({e["pass"] for e in execs})
    per_pass = {p: {} for p in passes}
    per_query = {}
    batch_ms = []
    for e in execs:
        acc = per_pass[e["pass"]]
        ids = subtree(e["span"])
        root = spans[e["span"]]
        sts = [st for i in ids for st in stages_of.get(i, [])]
        jbs = [j for i in ids for j in jobs_of.get(i, [])]
        wall = e["wall_s"]

        def add(k, v):
            acc[k] = acc.get(k, 0) + v
        add("wall_s", wall)
        add("exec.jobs", len(jbs))
        add("exec.stages", len(sts))
        add("exec.tasks", sum(st["tasks"] for st in sts))
        add("exec.task_run_s", sum(st["run_ms"] for st in sts) / 1e3)
        job_us = union(clip([(j["start"], j["end"]) for j in jbs], root["start"], root["end"]))
        add("exec.driver_s", wall - job_us / 1e6)
        # what the query's SQL scans listed; PageRank loads its edges
        # outside any SQL execution, so there the size of the files opened
        scanned = sum(x["bytes"] for x in res["scans"] if root["start"] <= x["end"] <= root["end"])
        opened = sum(int(spans[i]["tags"].get("bytes", 0)) for i in ids)
        add("sources.input_mb", (scanned or opened) / 1e6)
        add("sources.input_rows", sum(st["in_rows"] for st in sts))
        add("io.query_output_mb", sum(st["out_bytes"] for st in sts) / 1e6)
        add("shuffle.write_mb", sum(st["shuffle_write"] for st in sts) / 1e6)
        add("shuffle.read_mb", sum(st["shuffle_read"] for st in sts) / 1e6)
        add("shuffle.fetch_wait_ms", sum(st["fetch_wait_ms"] for st in sts))
        add("jvm.task_gc_s", sum(st["gc_ms"] for st in sts) / 1e3)
        add("plan.exchanges", int(root["tags"].get("exchanges", 0)))
        add("plan.plan_ms", sum(spans[i]["end"] - spans[i]["start"] for i in ids
                                if spans[i]["name"] == "plan.executedPlan") / 1e3)
        for i in ids:
            add(f"{spans[i]['layer']}.self_s", self_time(i) / 1e6)
            add("spark_jobs.self_s",
                union([(j["start"], j["end"]) for j in jobs_of.get(i, [])]) / 1e6)
        # micro-batches that started inside this execution
        batches = [b for b in res.get("progress", [])
                   if root["start"] <= b["start"] <= root["end"]]
        if batches:
            d = [b["durations"] for b in batches]
            add("streaming.batches", len(batches))
            add("streaming.add_batch_ms", sum(x.get("addBatch", 0) for x in d))
            add("streaming.planning_ms", sum(x.get("queryPlanning", 0) for x in d))
            add("streaming.commit_ms",
                sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d))
            add("streaming.state_commit_ms", sum(b["state_commit_ms"] for b in batches))
            batch_ms.extend(x.get("triggerExecution", 0) for x in d)
        # the stage that did the most task work: where a hot key shows
        if sts:
            big = max(sts, key=lambda st: st["run_ms"])
            tm = sorted(big["task_ms"]) or [0]
            skew = tm[-1] / max(statistics.median(tm), 1)
        else:
            skew = None
        q = per_query.setdefault(e["query"], {"wall": [], "skew": [], "jobs": [], "peak": []})
        q["wall"].append(wall)
        q["skew"].append(skew)
        q["jobs"].append(len(jbs))
        q["peak"].append(e["block_peak_mb"])
    for p in passes:
        acc = per_pass[p]
        acc["jvm.gc_s"] = res["pass_gc_s"][p]
        acc["exec.busy_frac"] = acc["exec.task_run_s"] / (acc["wall_s"] * cores)
        # the root spans' own time: what no child span or job covers
        acc["trace.unattributed_frac"] = acc["queries.self_s"] / acc["wall_s"]
        acc["trace.warm_pass_s"] = acc.pop("wall_s")
    # only passes whose every execution passed count, as for the timings
    full = set(pass_walls(res["execs"]))
    keys = {k for p in passes for k in per_pass[p]}
    m = {k: statistics.median(per_pass[p].get(k, 0) for p in passes if p in full)
         for k in keys}
    setup = [s for s in res["spans"] if s["name"] == "datagen.generate"]
    m["datagen.gen_s"] = sum((s["end"] - s["start"]) / 1e6 for s in setup)
    m["datagen.rows"] = res["facts"]["datagen.rows"]
    setup_ids = {i for s in res["spans"] if s["name"] == "setup" for i in subtree(s["id"])}
    writes = [st for st in res["stages"] if st["span"] in setup_ids]
    m["io.output_mb"] = sum(st["out_bytes"] for st in writes) / 1e6

    extra = {}  # workload-specific layers
    if m.get("io.query_output_mb", 0) > 0:  # queries that write a store
        extra["io.query_output_mb"] = (m["io.query_output_mb"], "MB")
    m.pop("io.query_output_mb", None)
    for k in [k for k in m if k.startswith("streaming.")]:
        extra[k] = (m.pop(k), "count" if k == "streaming.batches" else "ms")
    if batch_ms:
        extra["streaming.batch_ms_p50"] = (statistics.median(batch_ms), "ms")
    for q, d in sorted(per_query.items()):
        med = statistics.median(d["wall"])
        if q.startswith("pagerank_"):
            g = q[len("pagerank_"):]
            extra[f"graph.pagerank_{g}_s"] = (med, "s")
            extra[f"graph.{g}.jobs"] = (statistics.median(d["jobs"]), "count")
            edges = res["facts"][f"graph.{g}.edges"]
            budget = res["facts"]["graph.budget_edges"]
            extra[f"graph.{g}.edges"] = (edges, "count")
            extra[f"graph.{g}.local_tier"] = (1 if edges <= budget else 0, "bool")
            extra["graph.ckpt_mb"] = (max(extra.get("graph.ckpt_mb", (0,))[0], max(d["peak"])), "MB")
        elif res["workload"] == "registry_mix":
            extra[f"registry.{q}_s"] = (med, "s")
        else:
            extra[f"joins.{q}_s"] = (med, "s")
            skews = [s for s in d["skew"] if s is not None]
            if skews:
                extra[f"joins.{q}.task_skew"] = (statistics.median(skews), "ratio")
    if any(k.startswith("graph.pagerank") for k in extra):
        extra["graph.budget_edges"] = (res["facts"]["graph.budget_edges"], "count")
        extra["graph.jobs"] = (sum(v[0] for k, v in extra.items()
                                   if k.endswith(".jobs") and k.startswith("graph.")), "count")
    skews = [v[0] for k, v in extra.items() if k.endswith(".task_skew")]
    if skews:
        extra["joins.task_skew"] = (max(skews), "ratio")
    for layer in ("joins", "graph", "registry", "sources"):
        if f"{layer}.self_s" in m:
            extra[f"{layer}.self_s"] = (m.pop(f"{layer}.self_s"), "s")
    m.pop("setup.self_s", None)
    present = {k.split(".")[0] for k in list(m) + list(extra)}
    absent = [l for l in LAYERS if l not in present]
    return m, extra, absent


# ---------------------------------------------------------------- main

def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIN_WARM))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", default=None, metavar="QUERY@PASS",
                    help="corrupt one execution's result, to exercise the checks")
    args = ap.parse_args(argv)

    cp = build()
    extra = ["--inject-wrong", args.inject_wrong] if args.inject_wrong else []
    res = run_jvm(cp, args, extra)

    e2e, info, attempted, failed = end_to_end(res)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    for e in res["execs"]:
        if not e["ok"]:
            print(f"# FAILED pass {e['pass']} {e['query']}: {e['error']}")
    if args.trace:
        layer, extra_m, absent = per_layer(res)
        names = PER_LAYER
        values = layer
        if layer["trace.unattributed_frac"] > UNATTRIBUTED_MAX:
            print(f"# FLAG: {layer['trace.unattributed_frac']:.3f} of the query wall time is "
                  f"in no span or Spark job (more than {UNATTRIBUTED_MAX})")
        for k, (v, unit) in sorted(extra_m.items()):
            print(f"{k:32s} {fmt(v):>12s} {unit}")
        for l in absent:
            print(f"{l + '.*':32s} {'absent':>12s}")
    else:
        names, values = END_TO_END, e2e
    for k, unit in names:
        print(f"{k:32s} {fmt(values.get(k)):>12s} {unit}")
    missing = [k for k, _ in names if values.get(k) is None]
    correct = failed == 0 and not missing
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names
                    if values.get(k) is not None},
    }))


if __name__ == "__main__":
    main()
