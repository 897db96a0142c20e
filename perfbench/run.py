#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload small_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (scalac from the Spark
distribution), generates the parquet tables, runs one workload in one JVM
(see perfbench/src/perfbench/GraftBench.scala), checks every query's
output against its DuckDB oracle with tools/check_oracle.py and the
session's confs against graft.Bench's source, and prints the metrics. The
last line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (BENCHMARK.json lists both).

All state lives under .perfbench/ in the repository root: the compiled
classes and tables are cached there, and each run's temp directory (the
JVM's java.io.tmpdir) and query outputs are deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
BENCH_SCALA = PROGRAM_SRC / "graft" / "Bench.scala"
CHECK_ORACLE = ROOT / "tools" / "check_oracle.py"
HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.path.insert(0, str(HERE))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit lives."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def digest_of(files, base):
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(base)).encode())
        digest.update(f.read_bytes())
    return digest.hexdigest()[:16]


def compile_scala(name, files, classpath, resources=(), res_root=None):
    """Compile `files` once per content hash into .perfbench/<name>-<hash>."""
    classes = STATE / f"{name}-{digest_of(list(files) + list(resources), ROOT)}"
    if classes.exists():
        return classes
    STATE.mkdir(exist_ok=True)
    staging = STATE / f"{name}-build-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = STATE / f"{name}-sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    log(f"compiling {len(files)} {name} sources")
    try:
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
                        "-classpath", classpath, "-d", str(staging), f"@{argfile}"],
                       check=True, stdout=sys.stderr)
        for f in resources:
            dest = staging / f.relative_to(res_root)
            dest.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(f, dest)
        staging.rename(classes)
    finally:
        argfile.unlink(missing_ok=True)
        shutil.rmtree(staging, ignore_errors=True)
    return classes


def build():
    """Compile the engine, then the benchmark against it; return the
    classpath of both. Each is cached by the hash of its sources, so a
    change to the benchmark alone does not recompile the engine."""
    engine_src = sorted(PROGRAM_SRC.rglob("*.scala"))
    if not engine_src:
        raise SystemExit(f"no engine sources under {PROGRAM_SRC}")
    resources = sorted(f for f in PROGRAM_RES.rglob("*") if f.is_file())
    jars = f"{spark_jars()}/*"
    engine = compile_scala("engine", engine_src, jars, resources, PROGRAM_RES)
    bench = compile_scala(f"bench-{engine.name.rsplit('-', 1)[1]}", sorted(BENCH_SRC.rglob("*.scala")),
                          f"{engine}:{jars}")
    return f"{bench}:{engine}"


def tables(sf):
    data = STATE / "data" / f"sf{sf}"
    if not (data / "done").exists():
        import datagen
        log(f"generating tables at sf{sf}")
        data.mkdir(parents=True, exist_ok=True)
        datagen.generate(sf, data)
        (data / "done").write_text("ok\n")
    return data


def du(path):
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file() and not f.is_symlink())


def run_jvm(classes, args, tmp, deadline):
    # graft's own knobs and Spark's local-dir override would change what is
    # measured or where it writes.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{spark_jars()}/*", "perfbench.GraftBench", *args]
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with code {rc}")


def bench_conf(cpus):
    """graft.Bench's session confs as its source sets them: literals, env
    defaults (`sys.env.getOrElse("X", "v")`) and `cpus`, the host's count."""
    src = BENCH_SCALA.read_text()
    conf = {"spark.master": f"local[{cpus}]"} if '.master(s"local[$cpus]")' in src else {}
    found = re.findall(r'\.config\(\s*"([^"]+)",\s*(?:"([^"]*)"|'
                       r'sys\.env\.getOrElse\("[^"]+",\s*"([^"]*)"\)|(cpus))\s*\)', src)
    for key, literal, env_default, _ in found:
        conf[key] = literal or env_default or str(cpus)
    if not conf or len(found) != src.count(".config("):
        raise SystemExit(f"cannot read the session confs of {BENCH_SCALA}")
    return conf


def oracle_check(data, out, queries, deadline):
    """Run the repository's DuckDB oracle gate on the set-up outputs; map
    each query to None (match) or the reason it failed."""
    verdict = {q: "no result from the oracle check" for q in queries}
    try:
        proc = subprocess.run([sys.executable, str(CHECK_ORACLE), str(data), str(out), *queries],
                              cwd=out, capture_output=True, text=True,
                              timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return verdict
    for line in proc.stdout.splitlines():
        m = re.match(r"(ok|FAIL) +(\S+): (.*)", line)
        if m and m[2] in verdict:
            verdict[m[2]] = None if m[1] == "ok" else m[3]
    return verdict


def percentile(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(-(-q * len(xs) // 100)) - 1))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # Turn SIGTERM into SystemExit so the cleanup below stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S

    spec = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if a.workload not in spec:
        raise SystemExit(f"unknown workload {a.workload}; known: {', '.join(spec)}")
    wl = spec[a.workload]
    queries = wl["queries"]
    classes = build()
    deadline = max(deadline, time.monotonic() + 150)  # a cold build does not eat the run's time
    data = tables(wl["sf"])
    cpus = len(os.sched_getaffinity(0))  # what nproc reports

    run_dir = STATE / f"run-{os.getpid()}"
    tmp, out = run_dir / "tmp", run_dir / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp.mkdir(parents=True)
    out.mkdir()
    try:
        run_jvm(classes, ["--queries", ",".join(queries), "--sf-dir", str(data), "--out", str(out),
                          "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--cpus", str(cpus)], tmp, deadline)
        res = json.loads((out / "result.json").read_text())
        tmp_bytes = du(tmp)
        t0 = time.monotonic()
        verdict = oracle_check(data, out, queries, deadline)
        log(f"oracle check took {time.monotonic() - t0:.1f}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad = {q: why for q, why in verdict.items() if why}
    bad.update(res["warmup_errors"])
    execs = res["execs"]  # [query, pass, seconds, error, traced]
    failed = [e for e in execs if e[3] is not None or e[0] in bad]
    plain = [e for e in execs if not e[4]]
    ok_lat = [e[2] for e in plain if e[3] is None and e[0] not in bad]
    window_s = sum(p["busy_s"] for p in res["passes"] if not p["traced"])
    # Throughput of each untraced pass: successful executions ÷ its wall.
    pass_qps = [sum(1 for e in plain if e[1] == i and e[3] is None and e[0] not in bad) / p["busy_s"]
                for i, p in enumerate(res["passes"], 1) if not p["traced"]]
    per_query = {}  # each query's successful untraced latencies
    for q, _, sec, err, _ in plain:
        if err is None and q not in bad:
            per_query.setdefault(q, []).append(sec)
    median_s = {q: statistics.median(v) for q, v in sorted(per_query.items())}
    ocr = res["ocr"] or {}
    want = bench_conf(cpus)
    conf_mismatch = [f"{k}={res['conf'].get(k, '<unset>')} (graft.Bench: {v})"
                     for k, v in sorted(want.items()) if res["conf"].get(k) != v]
    layers = res["layers"] or {}
    correct = (not bad and not failed and not conf_mismatch and not ocr.get("mismatches")
               and not layers.get("trace.lost_events"))

    print(f"workload={a.workload} seed={a.seed} sf_dir={data} nproc={cpus} heap={HEAP} "
          f"queries={len(queries)} passes={len(res['passes'])} window_s={window_s:.3f}")
    print("conf " + json.dumps(res["conf"], sort_keys=True))
    print("conf_check " + (f"ok: the {len(want)} confs graft.Bench's source sets match, "
                           f"with local[{cpus}]" if not conf_mismatch
                           else "MISMATCH " + "; ".join(conf_mismatch)))
    print(f"oracle_check {len(queries) - len(bad)}/{len(queries)} match"
          + "".join(f"\n  FAIL {q}: {why}" for q, why in sorted(bad.items())))
    print(f"attempted={len(execs)} failed={len(failed)} failed_frac={len(failed) / len(execs):.4f}")
    if ok_lat:
        p50, p90 = statistics.median(ok_lat), percentile(ok_lat, 90)
        print(f"query_s_p50 = {p50:.6g} s, query_s_p90 = {p90:.6g} s (samples={len(ok_lat)}, "
              f"above_p90={sum(x > p90 for x in ok_lat)}; reported, not gated)")
        # p90 needs 100 samples to leave ten above it; also give the highest
        # percentile above the median (in steps of 5) that does.
        tail = [k for k in range(55, 100, 5) if sum(x > percentile(ok_lat, k) for x in ok_lat) >= 10]
        if tail:
            print(f"query_s_p{tail[-1]} = {percentile(ok_lat, tail[-1]):.6g} s "
                  f"(the highest percentile with at least ten samples above it)")
    print("query_s_median " + json.dumps({q: round(v, 4) for q, v in median_s.items()}))
    in_order = {}  # every execution's latency, in window order; null if it threw
    for q, _, sec, err, _ in execs:
        in_order.setdefault(q, []).append(round(sec, 4) if err is None else None)
    print("exec_s " + json.dumps(dict(sorted(in_order.items()))))
    print("setup_query_s " + json.dumps({q: round(v, 4) for q, v in res["warmup_s"].items()}))
    print("pass_s " + json.dumps([(round(p["busy_s"], 3), "traced" if p["traced"] else "plain")
                                  for p in res["passes"]]))
    print("pass_gc_s " + json.dumps([round(p["gc_s"], 3) for p in res["passes"]]))
    print("pass_jit_s " + json.dumps([round(p["jit_s"], 3) for p in res["passes"]]))
    print("pass_queries_per_s " + json.dumps([round(x, 4) for x in pass_qps])
          + f" (whole window: {len(ok_lat) / window_s:.4f}; reported, not gated)")

    if a.trace == 0:
        if not ok_lat:
            raise SystemExit("no successful executions")
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "queries_per_s": (len(median_s) / sum(median_s.values()), "1/s"),
            "ok_frac": (len(ok_lat) / len(plain), "frac"),
            "heap_retained_mb": (res["heap_retained_mb"], "MiB"),
        }
    else:
        layers = dict(layers)
        # the set-up pass and the window's passes
        layers["sources.tmp_bytes"] = tmp_bytes / (1 + len(res["passes"]))
        layers["ocr.preprocess_ms"] = ocr["preprocess_ms"]
        layers["ocr.extract_ms"] = ocr["extract_ms"]
        layers["ocr.images"] = ocr["images"]
        units = {m["name"]: m["unit"] for m in
                 json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        metrics = {k: (layers[k], u) for k, u in units.items()}
        print("accounting " + json.dumps(res["accounting"], sort_keys=True))
        print(f"tracing overhead: traced {layers['trace.queries_per_s']:.4f} q/s vs untraced "
              f"{len(ok_lat) / window_s:.4f} q/s ({layers['trace.overhead_frac']:+.2%}; "
              f"both over all passes of their kind)")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({"correct": correct, "attempted": len(execs), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
