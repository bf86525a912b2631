#!/usr/bin/env python3
"""The repository's benchmark: build the program from source, generate
seeded inputs, run one workload in a fresh JVM, check its outputs against
DuckDB, and print one JSON result line (the last line of stdout).

    python3 perfbench/run.py --workload etl_warehouse --seed 1 \
        --seconds 5 --trace 0

--trace 0 reports the end-to-end metrics from an untraced run; --trace 1
attaches the benchmark's listeners and reports the per-layer metrics.
--wrong-expected perturbs every expected answer, so a run must report
failed ops: the self-test of the output checks.

See perfbench/README.md for the workloads, the metrics and the method.
"""
import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GENRE_MAP = os.path.join(ROOT, "src", "main", "resources", "genre_map.csv")
HEAP = "4g"
RUN_LIMIT_S = 175    # a run must end within 180 s once built
FIRST_RUN_LIMIT_S = 850  # the run that builds may take 900 s
sys.dont_write_bytecode = True  # the checkout holds sources only
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

CURATION = ["g_concomp", "g_modularity", "t_dedup_savings",
            "t_setsim_prefix", "fi_triples", "t_winnow_pairs",
            "t_cms_join_size_stream"]

# ETL ops run cold, in a JVM whose heap grows as a scheduled run's does.
# The query workload runs in a JVM whose heap is sized up front, so no pass
# pays for growing it, and warms up with untimed passes until two in a row
# differ by less than `steady` of the earlier one (at most `warm_max`).
# Sizes are set so that the benchmark's schedule (48 runs in 3420 s) fits;
# see README.md.
WORKLOADS = {
    "etl_warehouse": {"scale": 1.0, "jvm_flags": []},
    "curation_graph": {"jvm_flags": [f"-Xms{HEAP}"],
                       "warm_max": 3, "steady": 0.15, "sf": 0.02,
                       "queries": CURATION,
                       "tables": ["lineitem", "part", "documents"]},
}

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ------------------------------------------------------------

def _files(*dirs):
    out = []
    for d in dirs:
        for dp, _, fs in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dp, f) for f in fs]
    return sorted(out)


def spark_jars():
    """The Spark jars directory: build.sbt's unmanagedBase, else
    $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build():
    """Compiles the program (src/main/scala) and the benchmark's harness
    with the Scala compiler shipped among the Spark jars — the same
    compiler version, classpath and (default) options as build.sbt.
    Returns the runtime classpath; skips work when sources are unchanged."""
    prog = _files("src/main/scala")
    if not prog:
        die("no program sources under src/main/scala: nothing to benchmark")
    jars = spark_jars()
    if not os.path.isdir(jars):
        die(f"Spark jars not found at {jars}")
    bench = _files("perfbench/src")
    h = hashlib.sha256()
    for f in prog + _files("src/main/resources") + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "build.stamp")
    cp = [os.path.join(out, "program"), os.path.join(ROOT, "src/main/resources"),
          os.path.join(out, "bench"), os.path.join(jars, "*")]
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return ":".join(cp), digest, False
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    for name, srcs, extra in (("program", prog, []),
                              ("bench", bench, [cp[0]])):
        os.makedirs(os.path.join(out, name))
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp",
             ":".join([os.path.join(jars, "*")] + extra),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", os.path.join(out, name)] + [s for s in srcs
                                               if s.endswith(".scala")],
            capture_output=True, text=True)
        if r.returncode != 0:
            die(f"compiling {name} failed:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built program and harness in {time.time() - t0:.1f} s")
    return ":".join(cp), digest, True


# ---- inputs -----------------------------------------------------------

def _cached(path, make):
    """Runs make(path) once; `path/done.json` marks a complete result."""
    done = os.path.join(path, "done.json")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        info = make(path)
        with open(done, "w") as f:
            json.dump(info, f)
    with open(done) as f:
        return json.load(f)


def etl_inputs(seed, scale):
    base = os.path.join(BUILD, "data")
    path = os.path.join(base, f"etl-seed{seed}-x{scale}")

    def make(p):
        info = gen.etl_inputs(seed, scale, p, GENRE_MAP)
        info["expected"] = checks.etl_expected(
            os.path.join(p, "spotify.csv"), os.path.join(p, "grammy.csv"),
            GENRE_MAP)
        return info
    info = _cached(path, make)
    # Keep the three most recent input sets: every run draws a new seed.
    os.utime(path)
    sets = sorted((d for d in os.listdir(base) if d.startswith("etl-")),
                  key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for d in sets[:-3]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path, info


def corpus(sf):
    path = os.path.join(BUILD, "data", f"corpus-sf{sf}")
    return path, _cached(path, lambda p: gen.corpus(sf, p))


# ---- metrics ----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def host_record():
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    commit = "unknown"  # a checkout without .git: see source_sha256
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                               capture_output=True, text=True, timeout=10)
            if r.returncode == 0:
                commit = r.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 1048576, 1),
            "heap": HEAP, "python": platform.python_version(),
            "git_commit": commit}


LAYER_SUMS = [
    "session.build_s", "sources.read_mb", "sources.rows_read",
    "sink.write_mb", "sink.files", "catalyst.executions",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_s", "scheduler.job_wall_s", "shuffle.write_mb",
    "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
    "staged.mb", "staged.blocks", "driver.result_mb", "self.stage_s",
    "self.job_s", "self.catalyst_s", "self.execution_s", "self.session_s",
    "self.driver_s"]


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MB"
    if name.endswith(("share", "amplification", "parallelism", "1core")):
        return "ratio"
    return "count"


def layer_metrics(ops, passes, workload, input_bytes, session_build_s):
    """Per-pass layer numbers of the traced passes (medians over passes)."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    per_pass = []
    for p in traced:
        po = [o for o in ops if o["jvm"] == p["jvm"] and
              o["pass"] == p["index"]]
        m = {k: sum(o["layers"].get(k, 0.0) for o in po) for k in LAYER_SUMS}
        m["codegen.compile_s"] = sum(o["compile_s"] for o in po)
        m["codegen.classes"] = sum(o["classes"] for o in po)
        m["gc_s"] = p["gc_s"]
        m["wall_s"] = p["wall_s"]
        per_pass.append(m)
    keys = sorted(per_pass[0]) if per_pass else []
    out = {k: median([m[k] for m in per_pass]) for k in keys}
    wall = out.pop("wall_s", 0.0)
    if workload != "etl_warehouse":
        out["session.build_s"] = session_build_s
    out["sources.read_amplification"] = (
        out["sources.read_mb"] * 1048576 / input_bytes if input_bytes else 0.0)
    out["scheduler.parallelism"] = out["scheduler.task_s"] / wall if wall else 0.0
    out["driver.gap_s"] = out["self.execution_s"] + out["self.driver_s"]
    out["trace.residual_share"] = out["self.driver_s"] / wall if wall else 0.0
    out["trace.pass_s"] = wall
    out["trace.untraced_pass_s"] = median([p["wall_s"] for p in plain])
    out["trace.overhead_s"] = (wall - out["trace.untraced_pass_s"]
                               if plain else 0.0)
    one = [o for o in ops if o["name"] == "etl_1core"]
    out["scheduler.speedup_1core"] = (one[0]["wall_s"] / wall
                                      if one and wall else 0.0)
    for q in CURATION:
        walls = [o["wall_s"] for o in ops if o["name"] == q and o["traced"]]
        out[f"queries.{q}_s"] = median(walls)
    return out


def layer_table(m):
    """The traced pass split into layer self times (they add up to the
    pass wall; self.driver_s is the residual no listener span covers)."""
    wall = m["trace.pass_s"] or 1.0
    rows = [("stage (tasks running)", "self.stage_s"),
            ("job (scheduling outside stages)", "self.job_s"),
            ("catalyst (analysis+optimization+planning)", "self.catalyst_s"),
            ("execution (in SQL execution, outside jobs)", "self.execution_s"),
            ("session (EtlJobs session start)", "self.session_s"),
            ("residual (no span: driver/client)", "self.driver_s")]
    lines = [f"layer self times per traced pass (pass wall {wall:.3f} s):"]
    for label, k in rows:
        lines.append(f"  {label:45s} {m[k]:9.3f} s  {100 * m[k] / wall:5.1f} %")
    lines.append(
        f"  jobs {m['scheduler.jobs']:.0f}, executions "
        f"{m['catalyst.executions']:.0f}, tasks {m['scheduler.tasks']:.0f}, "
        f"parallelism {m['scheduler.parallelism']:.2f} (task_s "
        f"{m['scheduler.task_s']:.2f} / wall {wall:.2f}), codegen "
        f"{m['codegen.classes']:.0f} classes {m['codegen.compile_s']:.3f} s, "
        f"tracing overhead {m['trace.overhead_s']:+.3f} s (traced "
        f"{wall:.3f} vs untraced {m['trace.untraced_pass_s']:.3f})")
    return "\n".join(lines)


# ---- run --------------------------------------------------------------

class Jvm:
    """Launches the harness JVM (perfbench.Main) for one workload run."""

    def __init__(self, cp, work, deadline, flags):
        self.cp, self.work, self.deadline = cp, work, deadline
        self.flags = flags
        self.n = 0

    def run(self, jargs, cores, traced):
        """Returns (result dict, launch time, this JVM's output dir)."""
        k = self.n
        self.n += 1
        out = os.path.join(self.work, f"jvm{k}")
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                   SPARK_LOCAL_DIRS=tmp)
        props = ["-Dspark.extraListeners=perfbench.SparkTracer",
                 "-Dspark.sql.queryExecutionListeners=perfbench.QueryTracer"
                 ] if traced else []
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        cmd = ["java", "-XX:-UsePerfData", *JDK_OPENS, *self.flags,
               f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
               *props, "-cp", self.cp, "perfbench.Main", *jargs,
               f"cores={cores}", f"trace={int(traced)}",
               f"work={os.path.join(out, 'out')}",
               f"out={os.path.join(out, 'result.json')}"]
        log_path = os.path.join(out, "jvm.log")
        t_launch = time.time()
        limit = self.deadline - t_launch
        if limit < 5:
            die("no time left for another JVM within the run's limit")
        with open(log_path, "w") as lf:
            p = subprocess.Popen(cmd, cwd=out, env=env, stdout=lf,
                                 stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"the JVM did not finish in time; log: {log_path}")
        if rc != 0:
            with open(log_path) as f:
                die(f"the JVM exited with {rc}:\n{f.read()[-3000:]}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        for o in res["ops"]:
            o["jvm"] = k
        for p_ in res["passes"]:
            p_["jvm"] = k
        return res, t_launch, os.path.join(out, "out")


def reference(cfg, digest):
    """(directory of the reference outputs for this build and corpus,
    their fingerprints or None when no run has written them yet)."""
    path = os.path.join(BUILD, "ref", f"{digest[:16]}-sf{cfg['sf']}")
    try:
        with open(os.path.join(path, "fps.json")) as f:
            return path, json.load(f)
    except OSError:
        return path, None


def keep_reference(path, extra):
    """Stores the fingerprints a reference pass wrote next to its outputs
    (in `path` + ".new"), then moves the whole reference into place."""
    fps = {k[len("ref_fp."):]: v for k, v in extra.items()
           if k.startswith("ref_fp.")}
    with open(os.path.join(path + ".new", "fps.json"), "w") as f:
        json.dump(fps, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(path + ".new", path)
    return fps


def check_queries(cfg, data, res, ref_dir, ref_fp, wrong_expected):
    """{op label: reason} for every failed op of a query workload."""
    extra, ref_bad, failures = res["extra"], {}, {}
    for q in cfg["queries"]:
        sql = extra.get(f"oracle_sql.{q}")
        if sql is None:
            ref_bad[q] = "no oracle SQL registered"
            continue
        want = checks.oracle_result(data, sql, os.path.join(
            BUILD, "oracle", f"sf{cfg['sf']}"))
        if wrong_expected:
            want = (want[0], want[1] + [want[1][0] if want[1] else ()])
        why = checks.compare_ref(os.path.join(ref_dir, q), want)
        if why:
            ref_bad[q] = why
    for o in res["ops"]:
        q = o["name"]
        why = (o["error"] or
               (f"reference output differs from the oracle: {ref_bad[q]}"
                if q in ref_bad else "") or
               ("" if o["fp"] == ref_fp.get(q)
                else f"fingerprint {o['fp']} != reference {ref_fp.get(q)}"))
        if why:
            failures[f"{q} pass {o['pass']}"] = why
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--wrong-expected", action="store_true",
                    help="perturb every expected answer (checks self-test)")
    args = ap.parse_args()
    t_begin = time.time()
    cfg = WORKLOADS[args.workload]
    cp, digest, built = build()

    nproc = os.cpu_count() or 1
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    method = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "source_sha256": digest, **host_record()}
    base = [f"workload={args.workload}", f"seed={args.seed}"]
    if args.workload == "etl_warehouse":
        data, info = etl_inputs(args.seed, cfg["scale"])
        base += [f"spotify={data}/spotify.csv", f"grammy={data}/grammy.csv",
                 "seconds=0"]
        input_bytes = sum(os.path.getsize(f"{data}/{f}")
                          for f in ("spotify.csv", "grammy.csv"))
        method["inputs"] = {"scale": cfg["scale"], **info,
                            "planted_shares": gen.ETL_SHARES}
    else:
        data, info = corpus(cfg["sf"])
        base += [f"corpus={data}", "queries=" + ",".join(cfg["queries"]),
                 f"seconds={args.seconds}", f"warm_max={cfg['warm_max']}",
                 f"steady={cfg['steady']}"]
        input_bytes = sum(os.path.getsize(f"{data}/{t}.parquet")
                          for t in cfg["tables"])
        method["inputs"] = {"sf": cfg["sf"], "rows": info}
    method["input_bytes"] = input_bytes

    jvm = Jvm(cp, work, t_begin + (FIRST_RUN_LIMIT_S if built
                                   else RUN_LIMIT_S) - 10, cfg["jvm_flags"])
    failures, results, setups = {}, [], []
    if args.workload == "etl_warehouse":
        # Each op is one scheduled run of the job: a fresh JVM, until the
        # measuring time is used. A traced run adds an untraced op (the
        # tracing overhead) and a one-core op (the parallel speedup).
        expected = dict(info["expected"])
        if args.wrong_expected:
            expected = {k: v + 1 for k, v in expected.items()}
        plan = []
        t_meas = time.time()
        while not plan or time.time() - t_meas < args.seconds:
            res, t_launch, out = jvm.run(base, nproc, bool(args.trace))
            plan.append((res, t_launch, out))
            if args.trace:
                break
        if args.trace:
            plan.append(jvm.run(base, nproc, False))
            one = jvm.run(base, 1, True)
            for o in one[0]["ops"]:
                o["name"] = "etl_1core"
            one[0]["passes"] = []
            plan.append(one)
        for res, t_launch, out in plan:
            for o in res["ops"]:
                why = o["error"] or checks.check_warehouse(
                    os.path.join(out, "op"), expected)
                if why:
                    failures[f"{o['name']} jvm {o['jvm']}"] = why
            setups.append(res["first_timed_ms"] / 1e3 - t_launch)
            results.append(res)
    else:
        # The reference pass runs in the first run of a build only; later
        # runs check against the outputs and fingerprints it kept.
        ref_dir, ref_fp = reference(cfg, digest)
        if ref_fp is None:
            shutil.rmtree(ref_dir + ".new", ignore_errors=True)
        res, t_launch, _ = jvm.run(
            base + ["ref=" + (ref_dir + ".new" if ref_fp is None else "")],
            nproc, bool(args.trace))
        if ref_fp is None:
            ref_fp = keep_reference(ref_dir, res["extra"])
        method["reference"] = {"dir": os.path.relpath(ref_dir, ROOT),
                               "fingerprints": ref_fp}
        failures = check_queries(cfg, data, res, ref_dir, ref_fp,
                                 args.wrong_expected)
        setups.append(res["first_timed_ms"] / 1e3 - t_launch)
        results.append(res)
    ops = [o for r in results for o in r["ops"]]
    # A pass's wall, CPU and GC are the sums over its ops: the harness's
    # own work between ops (dropping cached and staged data) is not the
    # program's.
    passes = []
    for p in (p for r in results for p in r["passes"]):
        po = [o for o in ops if o["jvm"] == p["jvm"] and
              o["pass"] == p["index"]]
        passes.append({**p, **{k: sum(o[k] for o in po) for k in
                               ("wall_s", "cpu_s", "gc_s", "jit_s")}})
    attempted, failed = len(ops), len(failures)
    for k, v in list(failures.items())[:10]:
        log(f"FAILED {k}: {v[:400]}")

    # ---- metrics -------------------------------------------------------
    first = results[0]
    method.update({
        "warm_up": [w for r in results for w in r["warm_log"]],
        "jvms": len(results), "passes": len(passes), "ops": len(ops),
        "pass_walls_s": [round(p["wall_s"], 3) for p in passes],
        "op_walls_s": [[o["name"], round(o["wall_s"], 3)] for o in ops],
        "op_cpu_s": [[o["name"], round(o["cpu_s"], 3)] for o in ops],
        "op_jit_s": [[o["name"], round(o["jit_s"], 3)] for o in ops],
        "spark_version": first["spark_version"],
        "java_version": first["java_version"],
        "heap_max_mb": first["heap_max_mb"]})
    # Too unsteady between runs to carry a bound (README.md, "End-to-end
    # metrics"): recorded in every method record, reported by traced runs.
    method["heap_live_peak_mb"] = first["heap_live_peak_mb"]
    if args.trace:
        m = layer_metrics(ops, passes, args.workload, input_bytes,
                          float(first["extra"].get("session_build_s", 0.0)))
        m["heap_live_peak_mb"] = first["heap_live_peak_mb"]
        print(layer_table(m))
    else:
        m = {
            "setup_s": median(setups),
            "pass_s": median([p["wall_s"] for p in passes]),
            "op_p50_s": median([o["wall_s"] for o in ops]),
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "ok_share": (attempted - failed) / attempted if attempted else 0.0,
        }
    method["metrics"] = m
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    with open(os.path.join(BUILD, "runs", run_id + ".json"), "w") as f:
        json.dump(method, f, indent=1, default=str)
    print("method: " + json.dumps({k: method[k] for k in (
        "nproc", "mem_gb", "heap", "spark_version", "git_commit", "seed",
        "inputs", "warm_up", "jvms", "passes", "ops")}, default=str))
    shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": v, "unit": unit(k)} for k, v in sorted(m.items())}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
