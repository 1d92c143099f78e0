#!/usr/bin/env python3
"""graft benchmark: run one workload under one seed and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the harness (`perfbench/harness`, an sbt build that depends on the
checkout's own build) and caches the runtime classpath under
`$CARGO_TARGET_DIR` (default `.bench_build`), keyed by a digest of the
sources; later runs start the JVM directly with `java -cp`.

Each run generates (or reuses) the seeded corpus, starts one JVM that
sets up a graft session and runs whole cycles of the workload's op mix
for `--seconds`, checks every result (DuckDB oracle for gate queries,
same-result-every-cycle and full-rebuild checks for the rest), and
prints a report. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Workloads and metrics are described in BENCHMARK.json and
perfbench/README.md.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["relational", "dedup_search", "graph_iter", "corpus_ingest"]
# corpus size relative to sf0.1 (see gen.py)
SCALE = 0.25
XMX = "2g"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (the module opens spark-submit adds)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(root):
    """Digest of everything the build compiles: graft's sources and build
    files and the harness."""
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties"]
    for base in ("src/main", "perfbench/harness/src", "perfbench/harness/build.sbt",
                 "perfbench/harness/project/build.properties"):
        full = os.path.join(root, base)
        if os.path.isfile(full):
            paths.append(base)
        for d, _, files in sorted(os.walk(full)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def classpath(root, work):
    """Build graft and the harness once per source digest; return the
    runtime classpath."""
    digest = source_digest(root)
    cp_file = os.path.join(work, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), digest
    log(f"building graft and the harness (sources {digest})")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # no hsperfdata files in the system temp directory
    env["SBT_OPTS"] = (opts + " -Xmx2g -XX:-UsePerfData -Dsbt.server.autostart=false").strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench", "harness"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines
           if ln.endswith(".jar") and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    os.makedirs(work, exist_ok=True)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cps[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return cps[-1], digest


def corpus(work, seed, scale):
    """The seeded corpus, generated once per (seed, scale, generator)."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(work, "data", f"seed{seed}-x{scale}-{version}")
    if not os.path.exists(os.path.join(out, "manifest.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, scale)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)


def oracle_digests(data_dir, sql_by_op):
    """DuckDB digests for the gate ops, cached beside the corpus."""
    path = os.path.join(data_dir, "oracle.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    todo = {op: sql for op, sql in sql_by_op.items()
            if cached.get(op, {}).get("sql") != hashlib.sha256(sql.encode()).hexdigest()}
    if todo:
        for op, d in oracle.run(data_dir, todo).items():
            d["sql"] = hashlib.sha256(todo[op].encode()).hexdigest()
            cached[op] = d
        with open(path + ".tmp", "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return cached


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_record(root, seed, spark_version, load_start, steal_start):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        commit = p.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
            "xmx": XMX, "spark_version": spark_version, "git_commit": commit,
            "seed": seed, "load_avg_start": load_start, "load_avg_end": os.getloadavg()[0],
            "steal_s": steal_s() - steal_start}


def run_jvm(cp, args, log_path):
    cmd = ["java", *ADD_OPENS, f"-Xms{XMX}", f"-Xmx{XMX}", "-Duser.timezone=UTC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={args['out']}/tmp",
           "-cp", cp, "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{args['out']}/tmp", exist_ok=True)
    # the session runs on the engine's defaults: no ad-hoc conf overrides
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_EXTRA_CONF"}
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(build.sbt and src/main/scala/graft not found)")
    work = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graft")
    load_start, steal_start = os.getloadavg()[0], steal_s()
    phases = {}
    t = time.time()
    cp, digest = classpath(root, work)
    phases["build_s"] = time.time() - t
    t = time.time()
    data_dir, manifest = corpus(work, opts.seed, SCALE)
    phases["corpus_s"] = time.time() - t

    run_dir = os.path.join(work, "runs", f"{opts.workload}-seed{opts.seed}-trace{opts.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm_log = os.path.join(run_dir, "jvm.log")
    t = time.time()
    code = run_jvm(cp, {"workload": opts.workload, "data": data_dir,
                        "seed": opts.seed, "seconds": opts.seconds, "trace": opts.trace,
                        "out": run_dir,
                        "launched": time.time_ns()}, jvm_log)
    phases["jvm_s"] = time.time() - t
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness JVM exited with {code}")
    with open(result_path) as f:
        res = json.load(f)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "stores"), ignore_errors=True)

    # ---- correctness ----------------------------------------------------
    t = time.time()
    expected = oracle_digests(data_dir, res["oracle_sql"])
    phases["oracle_s"] = time.time() - t
    ops = [op for c in res["cycles"] for op in c["ops"]]
    mismatches = []
    for op in ops:
        want = expected.get(op["name"])
        got = op["digest"]
        if op["error"] is None and want is not None and any(
                got[k] != want[k] for k in ("rows", "cols", "hash")):
            op["error"] = f"differs from oracle: {got} != {want}"
            mismatches.append(op["id"])
    failed_checks = [c for c in res["checks"] if not c["ok"]]
    bad_names = {c["op"] for c in failed_checks}
    failed = sum(1 for op in ops if op["error"] is not None or op["name"] in bad_names)
    attempted = len(ops)

    # ---- end-to-end metrics --------------------------------------------
    # timings come from the cycles the hypervisor did not disturb (see
    # graftbench.Main), or the two least disturbed when fewer are left
    kept = [c for c in res["cycles"] if not c["disturbed"]]
    if len(kept) < 2:
        kept = sorted(res["cycles"], key=lambda c: c["steal_s"] / c["wall_s"])[:2]
    by_name = {}
    for op in (op for c in kept for op in c["ops"]):
        by_name.setdefault(op["name"], []).append(op["wall_s"])
    cycle_rows = sum(op["rows_in"] for op in kept[0]["ops"])
    cycle_s = statistics.median(c["wall_s"] for c in kept)
    # every cycle runs every op once, so the quantiles of the ops' median
    # times estimate those of all op times without hinging on which
    # samples straddle them
    op_medians = [statistics.median(ts) for ts in by_name.values()]
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (statistics.median(op_medians), "s"),
        "op_tail_s": (statistics.quantiles(op_medians, n=4)[2], "s"),
        "rows_per_s": (cycle_rows / cycle_s, "rows/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    extra = {"fail_ratio": (failed / attempted, "ratio")}
    stores = [c["store_bytes"] for c in res["cycles"] if c["store_bytes"] is not None]
    if stores:
        ingested = manifest["tables"]["documents"]["bytes"] + manifest["tables"]["embeddings"]["bytes"]
        extra["space_amp"] = (statistics.median(stores) / ingested, "ratio")

    host = host_record(root, opts.seed, res["spark_version"], load_start, steal_start)
    report = {"workload": opts.workload, "seed": opts.seed, "trace": opts.trace,
              "seconds": opts.seconds, "scale": SCALE, "sources": digest, "host": host,
              "phases": phases, "cycles": len(res["cycles"]), "cycles_kept": len(kept),
              "cycle_steal_s": [c["steal_s"] for c in res["cycles"]], "ops": attempted,
              "checks": res["checks"], "errors": res["errors"] + mismatches,
              "end_to_end": {k: v[0] for k, v in {**e2e, **extra}.items()}}
    log(f"{opts.workload} seed {opts.seed}: {len(res['cycles'])} cycles "
        f"({len(kept)} timed), {attempted} ops, "
        f"{failed} failed; "
        + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    for k, (v, unit) in {**e2e, **extra}.items():
        log(f"  {k:28s} {v:14.6g} {unit}")
    for c in failed_checks:
        log(f"  CHECK FAILED {c['name']}: {c['detail']}")
    for e in report["errors"]:
        log(f"  ERROR {e}")

    if opts.trace:
        per_layer = layers.compute(res, os.path.join(run_dir, "trace.json"), res["cores"])
        report["per_layer"] = per_layer
        for k, v in per_layer.items():
            log(f"  {k:28s} {'absent' if v is None else format(v, '14.6g'):>14s}")
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in layers.REPORTED}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
