#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while no source file has changed. Each run starts one JVM,
prints a human-readable report, a host record, and as its last line
one JSON object with `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer ones with --trace 1). Artifacts go to .bench_build/perfbench/.

Maintenance commands:

    python3 perfbench/run.py --record-digests   # re-record registry digests
    python3 perfbench/run.py --selftest         # the benchmark's own tests

See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".bench_build", "perfbench")
RUN_LIMIT_S = 175  # a run, build excluded, must end within this
BUILD_LIMIT_S = 850

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# graft.Bench's session conf (its builder plus the -D flags its JVM
# gets from build.sbt); the run checks its own session against these.
EXPECTED_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.codegen.cache.maxEntries": "5000",
    "spark.ui.enabled": "false",
    "spark.network.timeout": "600s",
    "spark.executor.heartbeatInterval": "60s",
    "spark.sql.session.timeZone": "UTC",
    "graftbench.graftExtensions": "true",
}
# Fixed heap (-Xms = -Xmx). With G1 sizing the heap on demand, the
# same code's pass times differed by up to 18% between runs; fixed,
# by about 6%.
HEAP = "3g"
# JIT compiler threads (the JVM picks 3 on 4 CPUs). More of them end the
# warm-up sooner: in a fresh JVM the registry's pass times kept falling
# for about eight passes with the default.
JIT_THREADS = 6


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cores():
    """Spark's local[n] and shuffle partitions: half the CPUs. The
    other half is left to the JVM's JIT and GC threads and to the host,
    so a stolen or busy CPU does not stall every stage barrier. On a
    shared 4-CPU VM, local[4] passes slowed by up to 40% in runs with
    5-10% CPU steal; at local[2] such runs stayed within 10%."""
    return max(1, nproc() // 2)


def load1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def uptime_s():
    try:
        with open("/proc/uptime") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """Aggregate /proc/stat cpu ticks: (total, steal)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def sources_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project"),
             os.path.join(REPO, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(root)
            if "target" not in os.path.relpath(d, root).split(os.sep) for f in fs)
        for p in paths:
            if os.path.isfile(p) and "/target/" not in p:
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_proc(cmd, cwd, env, limit, log_path):
    """Run cmd in its own process group; kill the group on timeout.
    Returns the exit code (None on timeout). Waits for the group."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(l[:300] for l in f.readlines()[-n:])
    except OSError:
        return ""


def classpath():
    """Build when the sources changed; return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_path = os.path.join(WORK, "build.stamp")
    cp_path = os.path.join(WORK, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read().strip()
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                   "export Runtime/fullClasspath"],
                  HERE, sbt_env(), BUILD_LIMIT_S, log)
    if rc != 0:
        fail(f"build failed (exit {rc}); last lines of {log}:\n{tail(log)}", 3)
    lines = [l.strip() for l in open(log, errors="replace")
             if l.strip() and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}", 3)
    cp = lines[-1]
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return cp


def java_cmd(cp, tmp, main_args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:CICompilerCount={JIT_THREADS}"]
            + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main"] + main_args)


def run_jvm(cp, name, main_args, limit, index_dir=None):
    """One JVM run. The ext/*Index stores go to index_dir, or to a
    fresh directory of the run's own."""
    run_dir = os.path.join(WORK, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_INDEX_DIR"] = index_dir or os.path.join(run_dir, "index")
    log = os.path.join(WORK, f"{name}.log")
    rc = run_proc(java_cmd(cp, tmp, ["--work", os.path.join(run_dir, "work")] + main_args),
                  REPO, env, limit, log)
    return rc, run_dir, log


def data(cp):
    """The registry's tables and their ext/*Index stores, as
    (tables, index) directories: made once per build by graft.SyntheticGen
    and the index builders (they depend on the program, not on the
    seed), then shared read-only by every untraced registry run of the
    build. A traced run builds the index afresh to time it."""
    with open(os.path.join(WORK, "build.stamp")) as f:
        final = os.path.join(WORK, "data-" + f.read()[:16])
    if os.path.exists(os.path.join(final, "ready")):
        return os.path.join(final, "tables"), os.path.join(final, "index")
    for old in os.listdir(WORK):
        if old.startswith(("data-", "tables-")):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    tmp = f"{final}.tmp{os.getpid()}"
    rc, run_dir, log = run_jvm(cp, "gen-data", ["--gen-tables", os.path.join(tmp, "tables"),
                                                "--cpus", str(nproc())],
                               RUN_LIMIT_S, index_dir=os.path.join(tmp, "index"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        fail(f"table and index generation failed (exit {rc}); last lines of {log}:\n{tail(log)}", 1)
    open(os.path.join(tmp, "ready"), "w").close()
    os.rename(tmp, final)
    return os.path.join(final, "tables"), os.path.join(final, "index")


def listing(root):
    """Every file under root with its size, to detect a rewrite."""
    return sorted((os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)))
                  for d, _, fs in os.walk(root) for f in fs)


def unit_of(name):
    """Unit of a per-layer metric that BENCHMARK.json does not list."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share", "_overhead")):
        return "ratio"
    return "bytes" if name.startswith("bytes") else "count"


def human(metrics, title):
    print(f"# {title}")
    for k, v in metrics.items():
        print(f"#   {k:<28} {v['value']:>14.6g} {v['unit']}")


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"{need} not found next to perfbench/; run from a full checkout")
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]

    if a.selftest:
        log = os.path.join(WORK, "selftest.log")
        os.makedirs(WORK, exist_ok=True)
        rc = run_proc(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "test"],
                      HERE, sbt_env(), BUILD_LIMIT_S, log)
        print(tail(log, 30))
        sys.exit(0 if rc == 0 else 1)

    cp = classpath()
    if a.record_digests:
        out = os.path.join(HERE, "src", "main", "resources", "graftbench",
                           "registry_digests.tsv")
        rc, run_dir, log = run_jvm(cp, "record-digests",
                                   ["--record-digests", out, "--tables", data(cp)[0],
                                    "--seed", str(a.seed), "--cpus", str(nproc())], 3600)
        shutil.rmtree(run_dir, ignore_errors=True)
        if rc != 0:
            fail(f"recording failed (exit {rc}); see {log}", 1)
        print(f"wrote {out}")
        return

    if a.workload not in names:
        fail(f"--workload must be one of {names}")
    extra, index_dir = [], None
    if a.workload.startswith("registry"):
        tables_dir, shared_index = data(cp)
        extra = ["--tables", tables_dir]
        index_dir = None if a.trace else shared_index
    index_before = listing(index_dir) if index_dir else None
    host = {"nproc": nproc(), "spark_cores": spark_cores(), "load1_before": load1(),
            "uptime_s": uptime_s()}
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    t0 = time.time()
    ticks0 = cpu_ticks()
    rc, run_dir, log = run_jvm(cp, name, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(host["spark_cores"]),
        "--result", os.path.join(WORK, f"{name}.result.json")] + extra, RUN_LIMIT_S, index_dir)
    host["load1_after"] = load1()
    host["run_wall_s"] = time.time() - t0
    ticks1 = cpu_ticks()
    # Share of CPU time the hypervisor gave to other guests during the
    # run: the usual cause of a slow run on a shared host.
    host["cpu_steal_pct"] = 100.0 * (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        fail(f"run failed (exit {rc}); last lines of {log}:\n{tail(log)}", 1)
    if index_dir and listing(index_dir) != index_before:
        fail(f"the shared index under {index_dir} changed during the run; "
             "remove .bench_build/perfbench to rebuild it", 1)
    with open(os.path.join(WORK, f"{name}.result.json")) as f:
        res = json.load(f)

    conf = res["conf"]
    expected = dict(EXPECTED_CONF, **{"spark.sql.shuffle.partitions": str(host["spark_cores"]),
                                      "spark.master": f"local[{host['spark_cores']}]"})
    conf_diff = {k: (v, conf.get(k)) for k, v in expected.items() if conf.get(k) != v}
    host.update(heap_max_mb=res["jvm"]["heap_max_mb"], conf_matches_bench=not conf_diff)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]
    got = res["layers"] if a.trace else res["e2e"]
    missing = [m for m in wanted if m not in got]
    if missing:
        fail(f"result lacks metrics {missing}", 1)
    metrics = {m: {"value": got[m], "unit": units[m]} for m in wanted}

    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0 and attempted > 0 and not conf_diff
    # The same figures under their workload-specific names.
    d = res["detail"]
    e = res["e2e"]
    if a.workload.startswith("etl_"):
        named = {"pages_per_s": (e["throughput_per_s"], "pages/s")}
    else:
        named = {"suite_s": (d["suite_s"], "s"),
                 "query_p50_s": (e["op_p50_s"], "s"),
                 "query_p90_s": (e["op_p90_s"], "s")}
    named.update(error_rate=(failed / max(attempted, 1), "ratio"),
                 peak_rss_mb=(res["peak_rss_mb"], "MB"), setup_s=(e["setup_s"], "s"))
    print(f"# workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}: "
          f"{d['samples']} timed samples, {attempted} operations, {failed} failed")
    for k, (v, u) in named.items():
        print(f"#   {k:<28} {v:>14.6g} {u}")
    human(metrics, "per-layer metrics (traced run)" if a.trace else "end-to-end metrics")
    if a.trace:
        # Layers only one workload runs: reported here and in the trace
        # sidecar, not in the result line (the other workload has no value).
        human({k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()
               if k not in metrics}, "workload-specific per-layer metrics (0 = layer not run)")
    for line in res["failures"][:10]:
        print(f"# failure: {line}")
    if conf_diff:
        print(f"# conf differs from graft.Bench: {conf_diff}")
    print("# host " + json.dumps(host, sort_keys=True))

    artifact = dict(res, host=host, correct=correct)
    spans = artifact.pop("spans")
    with open(os.path.join(WORK, f"{name}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if a.trace:
        with open(os.path.join(WORK, f"{name}.trace.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": res["layers"],
                       "trace_overhead": res["layers"].get("trace_overhead"),
                       "spans": spans}, f)
    os.remove(os.path.join(WORK, f"{name}.result.json"))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
