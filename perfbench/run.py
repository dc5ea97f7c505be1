"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_read --seed 1 --seconds 20 --trace 0

Builds the harness (once per source state), generates the seeded inputs
(a fixed amount of work: ``--seconds`` sets how many rounds of the
workload's op pattern a run does), runs the harness JVM, checks every
distinct read against DuckDB over the same files, and prints one JSON
object as the last line of stdout. With ``--trace 0`` it carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones. The full
record of the run is kept under perfbench/out/. See perfbench/README.md
for what each workload and metric means.
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
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(HERE, ".build")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SPAN_NAMES = ["op", "spark.read", "spark.sql", "spark.action", "query.analysis",
              "query.optimization", "query.planning", "spark.job", "engine.tick",
              "engine.sql", "streaming.commit"]
RULES = ["ZoneMapPruneRule", "ZoneAggRule", "DictDistinctRule", "AggViewRewriteRule",
         "EagerAggregationRule", "BucketLayoutRule", "DecimalSumRule"]
SOURCES = ["layout", "zone_index", "dict_index", "aggview", "calibrate"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the harness build reads: graft's sources and build
    definition plus the harness's own."""
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile graft and the harness with sbt; cache the runtime
    classpath keyed by a hash of every build input."""
    files = build_inputs()
    missing = [f for f in files[:4] if not os.path.exists(f)]
    if missing or not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail(f"graft's sources are not beside the benchmark (missing {missing or 'src/main/scala'})")
    # the classpath names this checkout's directories, so they are part of the key
    h = hashlib.sha256(REPO.encode())
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=840, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        with open(log_path, "a") as log:
            log.write(proc.stdout)
        fail(f"build failed (exit {proc.returncode}); see {log_path}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_steal_s():
    """Seconds of CPU time the hypervisor took from this machine so far
    (the `steal` column of /proc/stat), or None where it is not exposed."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, args, work):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        fail(f"harness JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}", 4)


def pct(values, q):
    """Linear-interpolated percentile of `values` (0 < q < 100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def ratio(num, den):
    return num / den if den else 0.0


def self_times(spans, op_ids):
    """Per span name: summed self time (duration minus the union of its
    children's intervals) over the given ops; and per op its root span's
    self time and duration."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    totals = {n: 0.0 for n in SPAN_NAMES}
    root_self, root_dur = 0.0, 0.0
    for s in spans:
        if s["op"] not in op_ids:
            continue
        kids = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                      for c in by_parent.get(s["id"], []) if c["op"] == s["op"])
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        own = (s["end_ns"] - s["start_ns"] - covered) / 1e6
        totals[s["name"]] = totals.get(s["name"], 0.0) + own
        if s["parent"] == -1:
            root_self += own
            root_dur += (s["end_ns"] - s["start_ns"]) / 1e6
    return totals, root_self, root_dur


def end_to_end(res, ok_reads):
    lat = [o["ms"] for o in ok_reads]
    return {
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_p90_ms": (pct(lat, 90), "ms"),
        "throughput_qps": (len(lat) / res["timed_s"], "1/s"),
        "setup_s": (res["setup_build_s"] + res["setup_pass_s"], "s"),
        "storage_amp": (res["storage_bytes"] / res["source_bytes"], "ratio"),
        "retained_mb": (res["retained_mb"], "MB"),
    }


def per_layer(res, spans, ok_reads, ops, failed, attempted):
    m = {}
    traced = [o for o in ok_reads if o["traced"]]
    m["query.plan_ms"] = (mean([o["plan_ms"] for o in traced]), "ms")
    m["query.exec_ms"] = (mean([o["exec_ms"] for o in traced]), "ms")
    m["spark.jobs_per_op"] = (mean([o["jobs"] for o in traced]), "count")
    m["spark.task_s_per_op"] = (mean([o["task_s"] for o in traced]), "s")
    m["scan.files_read_frac"] = (ratio(sum(o["base_files_read"] for o in traced),
                                       sum(o["files_total"] * o["base_scans"] for o in traced)),
                                 "ratio")
    m["scan.mb_read_per_op"] = (mean([o["mb_read"] for o in traced]), "MB")
    m["shuffle.mb_per_op"] = (mean([o["shuffle_mb"] for o in traced]), "MB")
    for r in RULES:
        m[f"plans.rule_ms.{r}"] = (mean([o["rule_ms"][r] for o in traced]), "ms")
    eligible = [o for o in traced if o["serve"]]
    m["plans.serve_rate"] = (ratio(sum(o["base_files_read"] == 0 for o in eligible),
                                   len(eligible)), "ratio")

    for name in SOURCES:
        m[f"sources.{name}_s"] = (sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                                      if s["op"] == -1 and s["name"] == f"sources.{name}"),
                                  "s")
    m["sources.sidecar_mb"] = (res["sidecar_bytes"] / 1e6, "MB")

    eng = [o for o in ok_reads if "served" in o]
    m["engine.sql_ms"] = (mean([o["sql_ms"] for o in eng]), "ms")
    m["engine.cache_hit_rate"] = (ratio(sum(o["hits"] for o in eng),
                                        sum(o["hits"] + o["misses"] for o in eng)), "ratio")
    m["engine.blocks_per_op"] = (mean([o["served"] for o in eng]), "count")
    m["engine.overread"] = (ratio(sum(o["served"] for o in eng),
                                  sum(o["candidates"] for o in eng)), "ratio")
    m["engine.tick_ms"] = (mean([o["tick_ms"] for o in eng]), "ms")
    m["engine.prefetch_precision"] = (ratio(sum(o["warmed_used"] for o in eng),
                                            sum(o["warmed"] for o in eng)), "ratio")
    m["engine.prefetched_per_op"] = (mean([o["warmed"] for o in eng]), "count")

    commits = [o for o in ops if o["kind"] == "commit" and o["ok"]]
    m["streaming.write_amp"] = (ratio(sum(o.get("written_bytes", 0) for o in commits),
                                      sum(o.get("batch_bytes", 0) for o in commits)), "ratio")
    m["streaming.sidecar_mb_per_commit"] = (
        mean([o.get("sidecar_bytes", 0) / 1e6 for o in commits]), "MB")
    m["streaming.files_total"] = (res["run"].get("files_total", 0), "count")
    cms = [o["ms"] for o in commits]
    m["streaming.commit_p50_ms"] = (statistics.median(cms) if cms else 0.0, "ms")
    m["streaming.commit_p75_ms"] = (pct(cms, 75) if cms else 0.0, "ms")

    m["failed_frac"] = (ratio(failed, attempted), "ratio")
    traced_ids = {o["i"] for o in ops if o["traced"] and o["ok"]}
    totals, root_self, root_dur = self_times(spans, traced_ids)
    for name in SPAN_NAMES:
        m[f"trace.self_ms.{name}"] = (totals[name] / max(1, len(traced_ids)), "ms")
    m["trace.unaccounted_frac"] = (ratio(root_self, root_dur), "ratio")
    untraced = [o["ms"] for o in ok_reads if not o["traced"]]
    m["trace.overhead_ms"] = (
        statistics.median([o["ms"] for o in traced]) - statistics.median(untraced)
        if traced and untraced else 0.0, "ms")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        rounds = gen.generate(a.workload, a.seed, a.seconds, work)
        gen_s = time.time() - t0
        t1 = time.time()
        steal0 = cpu_steal_s()
        run_jvm(cp, ["--workload", a.workload, "--dir", work, "--trace", str(a.trace)], work)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        jvm_s = time.time() - t1
        steal1 = cpu_steal_s()
        wrong = oracle.check(os.path.join(work, "checks.jsonl"), res["tables"])
        oracle_s = time.time() - t1 - jvm_s
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    # an op fails when it threw or when its read's rows differ from the oracle's
    for o in ops:
        if o.get("key") in wrong:
            o["ok"] = False
            o["err"] = "wrong rows: " + wrong[o["key"]]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    ok_reads = [o for o in ops if o["kind"] == "read" and o["ok"]]
    if not ok_reads:
        fail("no read op succeeded", 5)
    metrics = (per_layer(res, spans, ok_reads, ops, failed, attempted) if a.trace
               else end_to_end(res, ok_reads))

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "rounds": rounds, "attempted": attempted, "failed": failed,
        "failed_frac": ratio(failed, attempted),
        "reads_ok": len(ok_reads), "gen_s": gen_s, "jvm_s": jvm_s, "oracle_s": oracle_s,
        "setup_build_s": res["setup_build_s"], "setup_pass_s": res["setup_pass_s"],
        "env": res["env"], "params": gen.PARAMS[a.workload],
        "cpu_steal_s": steal1 - steal0 if steal0 is not None and steal1 is not None else None,
        "errors": sorted({o["err"] for o in ops if not o["ok"]})[:20],
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "ops": ops, "spans": spans if a.trace else [],
    }
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f)

    print(f"{a.workload} seed={a.seed}: {len(ok_reads)} reads ok, "
          f"{failed}/{attempted} ops failed (failed_frac={ratio(failed, attempted):.4f})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))

if __name__ == "__main__":
    main()
