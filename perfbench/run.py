#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source the first time (and again
whenever a source file changes), generates the workload's inputs from the
seed, runs one JVM that sets up the session, runs a cold pass and then
warm passes for --seconds, checks the outputs, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes every span to perfbench/out/). Everything the run creates
lives under perfbench/.work/ and is removed when the run ends.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
OUT = HERE / "out"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

WORKLOADS = ("mr_dfs", "sql_mix", "corpus_curate", "index_refresh")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
SPARK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
              ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("retained_heap_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build (when sources changed) and return the run classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("[perfbench] no engine sources next to perfbench/ "
                         "(expected build.sbt and src/main); nothing to build")
    digest = sources_digest()
    stamp, cp_file = BUILD / "digest", BUILD / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx3g")
    log("building engine + benchmark with sbt")
    t0 = time.time()
    (BUILD / "tmp").mkdir(exist_ok=True)
    # no sbt server socket, JVM perf file or temp files outside the checkout
    r = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        raise SystemExit("[perfbench] build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, inputs, work, result, spans):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in SPARK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--inputs", str(inputs), "--work", str(work),
            "--seconds", str(seconds), "--trace", str(trace),
            "--out", str(result), "--spans", str(spans)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    errlog = work / "jvm.stderr"
    with open(errlog, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # on a timeout or a SIGTERM: stop the JVM and wait for it
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    ours = [l for l in errlog.read_text(errors="replace").splitlines()
            if "[perfbench]" in l]
    for l in ours:
        print(l, file=sys.stderr)
    if rc != 0:
        tail = errlog.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"[perfbench] benchmark JVM failed ({rc})")
    return json.loads(result.read_text())


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def summarize(r, wrong_queries):
    ops = r["ops"]
    measured = {p["pass"] for p in r["passes"] if not p["traced"]}
    warm_ops = [o for o in ops if o["pass"] in measured]
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong_queries)
    plain = [p["wall_s"] for p in r["passes"] if not p["traced"]]
    lat = [o["s"] for o in warm_ops]
    # A pass runs T kinds of operation, so warm latencies form T clusters.
    # op_tail_s takes the nearest-rank percentile 1 - 1/(2T): the middle of
    # the slowest kind's cluster, never the edge between two clusters.
    # T is fixed by the workload, so the percentile is too.
    tail_q = 1 - 1 / (2 * len({o["name"] for o in warm_ops}))
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "first_pass_s": r["first_pass_s"],
        "pass_s": statistics.median(plain),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": percentile(lat, tail_q),
        "retained_heap_mb": r["retained_heap_mb"],
    }
    above = sum(1 for x in lat if x > e2e["op_tail_s"])
    info = {"warm_passes": len(plain), "warm_ops": len(lat),
            "tail_percentile": tail_q, "ops_above_tail": above,
            "setup_samples": r["setup_s"], "settling_pass_s": r["settling_pass_s"],
            "pass_samples": plain,
            "failed_ratio": failed / max(1, len(ops))}
    return e2e, failed, len(ops), info


def per_layer_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) \
        if (ROOT / "BENCHMARK.json").exists() else {}
    return [(m["name"], m["unit"]) for m in spec.get("per_layer", [])]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an error: child processes are stopped and the
    # run's directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    scratch = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    try:
        inputs, work = scratch / "inputs", scratch / "work"
        work.mkdir(parents=True)
        t0 = time.time()
        sizes = gen.generate(a.workload, a.seed, str(inputs))
        log(f"inputs generated in {time.time() - t0:.1f} s")
        OUT.mkdir(exist_ok=True)
        spans = OUT / f"spans-{a.workload}-{a.seed}.json"
        r = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, inputs, work,
                    scratch / "result.json", spans)
        for e in r["errors"]:
            log(f"FAILED {e}")
        wrong = {}
        if a.workload in ("sql_mix", "corpus_curate"):
            import oracle
            queries = sorted({o["name"] for o in r["ops"]})
            wrong = oracle.check(str(inputs), str(work / "check"), queries)
            for q, why in sorted(wrong.items()):
                log(f"FAILED {q}: wrong output: {why}")
        e2e, failed, attempted, info = summarize(r, wrong)
        ambient = {k: r[k] for k in ("cores", "heap_max_mb", "spark_version",
                                     "calib_s", "loadavg")}
        print("ambient " + json.dumps(ambient))
        print("inputs " + json.dumps(sizes))
        print("samples " + json.dumps(info))
        by_op = {}
        for o in r["ops"]:
            by_op.setdefault(o["name"], []).append(o["s"])
        for name, xs in by_op.items():
            print(f"op {name:60s} cold {xs[0]:8.3f} s  warm median "
                  f"{statistics.median(xs[1:] or xs):8.3f} s")
        if a.trace:
            metrics = {}
            for name, unit in per_layer_names():
                metrics[name] = {"value": r["layers"].get(name, 0.0), "unit": unit}
            for name in sorted(r["layers"]):
                print(f"{name:40s} {r['layers'][name]:.6g}")
            print(f"spans written to {spans.relative_to(ROOT)}")
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
            for n, u in END_TO_END:
                print(f"{n:20s} {e2e[n]:12.6f} {u}")
            print(f"{'failed_ratio':20s} {info['failed_ratio']:12.6f} "
                  f"({failed} of {attempted} operations)")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            (HERE / ".work").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    main()
