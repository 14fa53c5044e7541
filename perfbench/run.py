#!/usr/bin/env python3
"""The engine's benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) and prepares the inputs (see README.md);
later runs reuse both while the sources are unchanged. Readable lines come
first on stdout; the last line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
VERIFY = os.path.join(ROOT, "tools", "verify_local.py")
CPUS = len(os.sched_getaffinity(0))
# GenScale divisor: every table has a quarter of the sf0.1 row counts.
DIV = 4
HEAP = "2g"
MAX_PASSES = 64

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))

JDK_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

END_TO_END = [
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("warm_pass_cpu_s", "s"), ("warm_query_p50_s", "s"),
    ("warm_query_p75_s", "s"), ("ok_frac", "ratio")]

PER_LAYER = [
    ("session.jvm_s", "s"), ("session.start_s", "s"), ("session.prewarm_s", "s"),
    ("session.peak_rss_mb", "MB"), ("queries.build_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.plan_s", "s"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("codegen.cold_compiles", "count"),
    ("exec.wall_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_gc_s", "s"), ("exec.core_busy_frac", "ratio"),
    ("exec.single_task_stage_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
    ("tables.scan_rows", "count"), ("tables.scan_mb", "MB"),
    ("memo.artifacts_built", "count"), ("memo.artifacts_read", "count"),
    ("memo.artifact_write_mb", "MB"), ("memo.artifact_store_mb", "MB"),
    ("memo.cached_mb", "MB"), ("memo.probe_pass_s", "s"),
    ("mr.map_stage_s", "s"), ("mr.reduce_stage_s", "s"), ("mr.shuffle_mb", "MB"),
    ("mr.task_cpu_s", "s"), ("cli.job_s", "s"), ("cli.job_cpu_s", "s"),
    ("cli.output_mb", "MB"),
    ("trace.overhead_frac", "ratio"), ("trace.spans", "count")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def stamp(paths, extra=""):
    """Hash of the named files and directory trees (and of `extra`)."""
    h = hashlib.sha256(extra.encode())
    for r in paths:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build_stamp():
    return stamp([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                  os.path.join(ROOT, "project", "build.properties"),
                  os.path.join(HARNESS, "src"), os.path.join(HARNESS, "build.sbt"),
                  os.path.join(HARNESS, "project", "build.properties")])


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine and harness once per source stamp; return the classpath."""
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, f"classpath-{build_stamp()}")
    if os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    log("building the engine and the harness with sbt")
    logf = os.path.join(bdir, "sbt.log")
    with open(logf, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=600)
    lines = open(logf).read().strip().splitlines()
    if rc != 0 or not lines or "harness" not in lines[-1]:
        raise BenchError(f"build failed (exit {rc}); see {logf}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ------------------------------------------------------------- processes

def java_cmd(cp, mode, args, tmpdir):
    return ["java", *JDK_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness", mode, *(f"{k}={v}" for k, v in args.items())]


def spawn(cmd, logpath, env):
    """Run a JVM to completion. Returns (launch_ns, peak_rss_mb); the peak
    RSS comes from the child's rusage (wait4)."""
    with open(logpath, "w") as out:
        t0 = time.time_ns()
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            _, status, ru = os.wait4(p.pid, 0)
        except BaseException:
            p.kill()
            os.waitpid(p.pid, 0)
            raise
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        tail = "".join(open(logpath, errors="replace").readlines()[-20:])
        raise BenchError(f"harness {cmd[cmd.index('perfbench.Harness') + 1]} "
                         f"exited {p.returncode}:\n{tail}")
    return t0, ru.ru_maxrss / 1024.0


def child_env(rundir):
    os.makedirs(os.path.join(rundir, "tmp"), exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"),
                SPARK_GRAFT_INDEX_CACHE=os.path.join(rundir, "cache"),
                SPARK_GRAFT_CPUS=str(CPUS), SPARK_MASTER=f"local[{CPUS}]")


def read_output(d):
    """The lines of every part file a CLI job wrote."""
    lines = []
    for f in sorted(os.listdir(d)):
        if f.startswith("part-"):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                lines += [line.rstrip("\n") for line in fh if line.strip()]
    return lines


def du(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


def machine():
    """1-minute load average and the number of running JVMs."""
    load = float(open("/proc/loadavg").read().split()[0])
    jvms = 0
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    jvms += os.path.basename(f.read().split(b"\0")[0]) == b"java"
            except OSError:
                pass
    return {"load_1m": load, "jvms": jvms}


# ---------------------------------------------------------------- prepare

def oracle_verdicts(data, dump, cwd):
    """The repository's DuckDB oracle compare (tools/verify_local.py) over
    the dumped results: query name -> None for a match, else the reason."""
    p = subprocess.run([sys.executable, VERIFY, data, dump], cwd=cwd, capture_output=True,
                       text=True, stdin=subprocess.DEVNULL, timeout=900)
    verdicts = {}
    for line in p.stdout.splitlines():
        if line.startswith("OK "):
            verdicts[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].strip().partition(": ")
            verdicts[name] = why
    if not verdicts:
        log(f"the oracle compare gave no verdict (exit {p.returncode}): {p.stderr[-2000:]}")
    return verdicts


def prepare(cp):
    """Generate the tables, run every benchmarked query once, and fix each
    query's expected result digest: the engine's digest where its dumped
    result equals the DuckDB oracle, or the recorded digest for a query
    without an oracle. Done once per source stamp."""
    names = WORKLOADS["llm_pipeline"]["queries"]
    key = stamp([os.path.join(HERE, "recorded_digests.json"), VERIFY],
                f"{build_stamp()} div={DIV} cpus={CPUS} {names}")
    pdir = os.path.join(WORK, f"prep-{key}")
    done = os.path.join(pdir, "prepared.json")
    if os.path.isfile(done):
        return json.load(open(done))
    for old in os.listdir(WORK):
        if old.startswith("prep-"):
            shutil.rmtree(os.path.join(WORK, old))
    log("generating tables and checking results against the oracle")
    os.makedirs(pdir)
    data, dump = os.path.join(pdir, "data"), os.path.join(pdir, "dump")
    out = os.path.join(pdir, "harness.json")
    env = child_env(pdir)
    spawn(java_cmd(cp, "prepare", {
        "data": data, "div": DIV, "dump": dump, "cpus": CPUS,
        "local": os.path.join(pdir, "local"), "out": out, "queries": ",".join(names)},
        os.path.join(pdir, "tmp")), os.path.join(pdir, "prepare.log"), env)
    results = json.load(open(out))
    with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
        json.dump({n: r["oracle"] for n, r in results.items()
                   if "error" not in r and r["oracle"] is not None}, f)
    verdicts = oracle_verdicts(data, dump, os.path.join(pdir, "tmp"))
    recorded = json.load(open(os.path.join(HERE, "recorded_digests.json")))
    expected, mismatches = {}, {}
    for name in names:
        r = results[name]
        if "error" in r:
            why = r["error"]
        elif r["oracle"] is not None:
            why = verdicts.get(name, "no oracle verdict")
        elif recorded.get(name) != r["digest"]:
            why = f"digest {r['digest']} != recorded {recorded.get(name)}"
        else:
            why = None
        if why:
            mismatches[name] = why
        expected[name] = "mismatch" if why else r["digest"]
    for d in ("dump", "local", "tmp", "cache"):
        shutil.rmtree(os.path.join(pdir, d), ignore_errors=True)
    prepared = {"data": data, "expected": expected, "mismatches": mismatches}
    with open(done, "w") as f:
        json.dump(prepared, f, indent=1)
    return prepared


# ---------------------------------------------------------------- metrics

def e2e_metrics(setup, passes, execs):
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    warm_lat = [e["wall_s"] for e in execs if e["kind"] == "warm"]
    return {
        "setup_s": setup,
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": stats.median([p["wall_s"] for p in warm]),
        "warm_pass_cpu_s": stats.median([p["cpu_s"] for p in warm]),
        "warm_query_p50_s": stats.percentile(warm_lat, 50),
        "warm_query_p75_s": stats.percentile(warm_lat, 75),
        "ok_frac": 1.0 - stats.failed_frac(e["ok"] for e in execs),
    }


SPAN_SUMS = ("build", "plan", "exec", "analysis", "jobs", "stages", "tasks", "run", "cpu",
             "gc", "single", "shw", "shr", "fetch", "spill", "rows", "inb", "map", "reduce",
             "query_wall", "query_cpu", "queries")


def span_sums(spans, pass_nos):
    """Per-pass sums of the traced spans, averaged over `pass_nos`."""
    per = {p: dict.fromkeys(SPAN_SUMS, 0.0) for p in pass_nos}
    for s in spans:
        a = per.get(int(s["trace"].split(".")[0][1:]))
        if a is None:
            continue
        dur = (s["end_ns"] - s["start_ns"]) / 1e9
        kind = s["name"]
        if kind in ("build", "plan", "exec"):
            a[kind] += dur
        elif kind == "query":
            a["analysis"] += s["analysis_ns"] / 1e9
            a["query_wall"] += dur
            a["query_cpu"] += s["cpu_ns"] / 1e9
            a["queries"] += 1
        elif kind == "job":
            a["jobs"] += 1
        elif kind == "stage":
            a["stages"] += 1
            a["tasks"] += s["tasks"]
            a["run"] += s["run_ms"] / 1e3
            a["cpu"] += s["cpu_ns"] / 1e9
            a["gc"] += s["gc_ms"] / 1e3
            a["shw"] += s["shuffle_write_b"] / 1e6
            a["shr"] += s["shuffle_read_b"] / 1e6
            a["fetch"] += s["fetch_wait_ms"] / 1e3
            a["spill"] += s["spill_b"] / 1e6
            a["rows"] += s["input_rows"]
            a["inb"] += s["input_b"] / 1e6
            a["map" if s["shuffle_write_b"] > 0 else "reduce"] += dur
            if s["tasks"] == 1:
                a["single"] += dur
    return {k: sum(per[p][k] for p in pass_nos) / len(pass_nos) for k in SPAN_SUMS}


def layer_metrics(r, spans, launch_ns, rss):
    """Per-layer metrics of a traced run: per traced warm pass on average
    (the cold pass when there is none)."""
    # the first warm pass still warms up (untraced in a traced run): leave
    # it out of the overhead comparison
    warm = [p for p in r["passes"] if p["kind"] == "warm"][1:]
    traced_warm = [p for p in warm if p["traced"]]
    a = span_sums(spans, [p["pass"] for p in traced_warm] or [0])
    plain = [p["wall_s"] for p in warm if not p["traced"]]
    traced = [p["wall_s"] for p in traced_warm]
    m = dict.fromkeys((k for k, _ in PER_LAYER), 0.0)
    m.update({
        "session.jvm_s": (r["main_ns"] - launch_ns) / 1e9,
        "session.peak_rss_mb": rss,
        "exec.jobs": a["jobs"], "exec.stages": a["stages"], "exec.tasks": a["tasks"],
        "exec.task_run_s": a["run"], "exec.task_cpu_s": a["cpu"], "exec.task_gc_s": a["gc"],
        "exec.single_task_stage_s": a["single"],
        "shuffle.write_mb": a["shw"], "shuffle.read_mb": a["shr"],
        "shuffle.fetch_wait_s": a["fetch"], "shuffle.spill_mb": a["spill"],
        "tables.scan_rows": a["rows"], "tables.scan_mb": a["inb"],
        "trace.overhead_frac": (stats.median(traced) / stats.median(plain) - 1.0
                                if traced and plain else 0.0),
        "trace.spans": len(spans),
    })
    return m, a


# -------------------------------------------------------------- workloads

def load_result(path):
    """The harness's result, every execution tagged with its pass's kind
    (cold, probe or warm)."""
    r = json.load(open(path))
    kinds = {p["pass"]: p["kind"] for p in r["passes"]}
    for e in r["execs"]:
        e["kind"] = kinds[e["pass"]]
    return r


def run_info(r, rss):
    return {"peak_rss_mb": rss,
            "pass_walls_s": [[p["kind"], round(p["wall_s"], 4)] for p in r["passes"]]}


def run_queries(cp, prep, spec, seed, seconds, trace, rundir):
    names = spec["queries"]
    env = child_env(rundir)
    tmp, local = os.path.join(rundir, "tmp"), os.path.join(rundir, "local")
    os.makedirs(os.path.join(rundir, "cache"))
    ofile, efile = os.path.join(rundir, "orders"), os.path.join(rundir, "expected")
    with open(ofile, "w") as f:
        f.write("".join(",".join(o) + "\n" for o in stats.pass_orders(seed, names, MAX_PASSES)))
    with open(efile, "w") as f:
        f.write("".join(f"{n} {prep['expected'].get(n, 'missing')}\n" for n in names))
    out, spans = os.path.join(rundir, "result.json"), os.path.join(WORK, "spans-llm_pipeline.json")
    t0, rss = spawn(java_cmd(cp, "run", {
        "data": prep["data"], "cpus": CPUS, "local": local, "cache": os.path.join(rundir, "cache"),
        "orders": ofile, "expected": efile, "seconds": seconds, "trace": int(trace),
        "out": out, "spans": spans, "minwarm": spec["min_warm"]}, tmp), os.path.join(rundir, "run.log"), env)
    r = load_result(out)
    setup = (r["ready_ns"] - t0) / 1e9
    e2e = e2e_metrics(setup, r["passes"], r["execs"])
    layers = None
    if trace:
        layers, a = layer_metrics(r, json.load(open(spans)), t0, rss)
        cold, probe = r["passes"][0], r["passes"][1]
        src = [p for p in r["passes"] if p["traced"] and p["kind"] == "warm"] or [cold]
        layers.update({
            "session.start_s": (r["session_ns"] - r["main_ns"]) / 1e9,
            "session.prewarm_s": (r["ready_ns"] - r["session_ns"]) / 1e9,
            "queries.build_s": a["build"], "catalyst.analysis_s": a["analysis"],
            "catalyst.plan_s": a["plan"], "exec.wall_s": a["exec"],
            "exec.core_busy_frac": a["run"] / (CPUS * a["exec"]) if a["exec"] else 0.0,
            "codegen.compiles": stats.mean(p["compiles"] for p in src),
            "codegen.compile_s": stats.mean(p["layer"]["codegen.compile_s"] for p in src),
            "codegen.cold_compiles": cold["compiles"],
        })
        # the cold pass builds the artifacts; the probe pass reads them
        for k in ("memo.artifacts_built", "memo.artifact_write_mb",
                  "memo.artifact_store_mb", "memo.cached_mb"):
            layers[k] = cold["layer"][k]
        layers["memo.artifacts_read"] = probe["layer"]["memo.artifacts_read"]
        layers["memo.probe_pass_s"] = probe["wall_s"]
    return e2e, layers, r["execs"], run_info(r, rss)


def run_cli(cp, prep, spec, seed, seconds, trace, rundir):
    env = child_env(rundir)
    tmp = os.path.join(rundir, "tmp")
    corpus_dir, one_dir = os.path.join(rundir, "corpus"), os.path.join(rundir, "one")
    os.makedirs(corpus_dir)
    os.makedirs(one_dir)
    docs = stats.corpus(seed, spec["files"], spec["words_per_file"])
    for name, text in docs.items():
        with open(os.path.join(corpus_dir, name), "w", encoding="utf-8") as f:
            f.write(text)
    with open(os.path.join(one_dir, "one.txt"), "w") as f:
        f.write("one line of text\n")
    jobs = ["wc", "indexer", "wc-partitioned"]
    ofile = os.path.join(rundir, "orders")
    with open(ofile, "w") as f:
        f.write("".join(",".join(o) + "\n" for o in stats.pass_orders(seed, jobs, MAX_PASSES)))
    outdir = os.path.join(rundir, "out")
    args = {"one": os.path.join(one_dir, "*.txt"), "corpus": os.path.join(corpus_dir, "*.txt"),
            "outdir": outdir, "orders": ofile, "seconds": seconds, "trace": int(trace),
            "partitions": spec["partitions"], "out": os.path.join(rundir, "result.json"),
            "spans": os.path.join(WORK, "spans-mr_cli.json"), "minwarm": spec["min_warm"]}
    t0, rss = spawn(java_cmd(cp, "cli", args, tmp), os.path.join(rundir, "run.log"), env)
    r = load_result(args["out"])
    setup = (r["ready_ns"] - t0) / 1e9
    # every job's output is checked against a Python count of the corpus
    want = {"wc": stats.expected_wc(docs), "indexer": stats.expected_indexer(docs)}
    want["wc-partitioned"] = want["wc"]
    out_mb = {}
    for e in r["execs"]:
        d = os.path.join(outdir, f"p{e['pass']}-{e['name']}")
        if e["ok"]:
            got = sorted(read_output(d))
            if got != want[e["name"]]:
                e["ok"], e["err"] = False, f"{len(got)} lines differ from the expected {len(want[e['name']])}"
        out_mb[(e["pass"], e["name"])] = du(d) / 1e6
        if not e["ok"]:
            log(f"{e['name']} pass {e['pass']} FAILED: {e['err']}")
    e2e = e2e_metrics(setup, r["passes"], r["execs"])
    layers = None
    if trace:
        layers, a = layer_metrics(r, json.load(open(args["spans"])), t0, rss)
        src = {p["pass"] for p in r["passes"] if p["traced"] and p["kind"] == "warm"} or {0}
        layers.update({
            "exec.wall_s": a["query_wall"],
            "exec.core_busy_frac": a["run"] / (CPUS * a["query_wall"]) if a["query_wall"] else 0.0,
            "mr.map_stage_s": a["map"], "mr.reduce_stage_s": a["reduce"],
            "mr.shuffle_mb": a["shw"], "mr.task_cpu_s": a["cpu"],
            "cli.job_s": a["query_wall"] / a["queries"], "cli.job_cpu_s": a["query_cpu"] / a["queries"],
            "cli.output_mb": stats.mean(v for k, v in out_mb.items() if k[0] in src),
        })
    info = run_info(r, rss)
    info["corpus_mb"] = sum(len(t) for t in docs.values()) / 1e6
    return e2e, layers, r["execs"], info


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still kills and reaps its JVM (spawn's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}: run from the root of a checkout")
        return 2
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    prep = prepare(cp)
    spec = WORKLOADS[a.workload]
    rundir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(rundir)
    m0 = machine()
    try:
        runner = run_cli if spec["kind"] == "cli" else run_queries
        e2e, layers, execs, info = runner(cp, prep, spec, a.seed, a.seconds, bool(a.trace), rundir)
    finally:
        m1 = machine()
        shutil.rmtree(rundir, ignore_errors=True)
    warm_lat = [e["wall_s"] for e in execs if e["kind"] == "warm"]
    tail = stats.tail_percentile(len(warm_lat))
    failed = sum(1 for e in execs if not e["ok"])
    info.update({
        "cores": CPUS, "machine_start": m0, "machine_end": m1,
        "attempted": len(execs),
        "failed_frac": stats.failed_frac(e["ok"] for e in execs), "warm_samples": len(warm_lat),
        "warm_quartiles_s": stats.quartiles(warm_lat),
        "warm_p90_s": stats.percentile(warm_lat, 90),
        "warm_tail": {"pct": tail, "s": stats.percentile(warm_lat, tail) if tail else None},
        "failures": sorted({f"{e['name']}: {e['err']}" for e in execs if not e["ok"]}),
    })
    for k, v in info.items():
        print(f"{a.workload} {k} = {json.dumps(v)}")
    for k, unit in END_TO_END:
        print(f"{a.workload} {k} = {e2e[k]:.6g} {unit}")
    for k, unit in PER_LAYER if layers else ():
        print(f"{a.workload} {k} = {layers[k]:.6g} {unit}")
    names, values = (PER_LAYER, layers) if a.trace else (END_TO_END, e2e)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(execs), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(str(e))
        sys.exit(1)
