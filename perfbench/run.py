#!/usr/bin/env python3
"""graft benchmark: seeded `extract`, `curate` and `maintain` workloads.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles `src/main/scala`
together with the benchmark's own Scala harness (perfbench/scala) into
one jar in .bench_build (or $CARGO_TARGET_DIR), with the Scala compiler
that ships in Spark's jars, and records a JVM class-data-sharing archive
of one short untimed run; later runs reuse both while the sources are
unchanged. Each run then:

1. writes the seeded corpus (perfbench/gen.py) into an emptied
   .perfbench_work/<workload> directory, next to every checkpoint, state
   and extract directory of the run;
2. starts one JVM (local[N], N = min(4, cores), one client thread) that
   warms the workload up untimed, runs the timed closed loop and gathers
   correctness evidence untimed. The timed loop is a fixed amount of
   work, max(1, seconds // 10) whole cycles of the workload's op mix
   (each about 11-19 s on a 4-vCPU host), so every run of every commit
   measures the same mix however fast the program is;
3. checks the evidence against DuckDB (perfbench/oracle.py);
4. prints the metrics: with --trace 0 the end-to-end metrics, with
   --trace 1 the per-layer ones from a traced run (spans around every
   call into a layer plus Spark's listener events). The last stdout line
   is one JSON object {correct, attempted, failed, metrics}; the lines
   before it name each metric with its unit and sample count, and the
   provenance (seed, N, corpus, git HEAD). Full results, spans and the
   tracing overhead go to .perfbench_out/.

`setup_s` runs from the JVM's process start through session start and
the untimed warm-up. A wrong result, a failed op or a metric left without
a successful sample makes `correct` false and the exit code 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

SF = 0.01
JVM_HEAP = "3g"
JVM_LIMIT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
WORKLOADS = ("extract", "curate", "maintain")
# end-to-end metric -> (unit, what it is on each workload)
E2E = {
    "setup_s": ("s", "process start -> session up and untimed warm-up done"),
    "op_p50_ms": ("ms", {"extract": "soql_p50_ms", "curate": "step_p50_ms",
                         "maintain": "tick_p50_ms"}),
    "op_p90_ms": ("ms", {"extract": "soql_p90_ms", "curate": "step_p90_ms",
                         "maintain": "tick_p90_ms"}),
    "ops_per_s": ("1/s", {"extract": "soql_qps", "curate": "steps_per_s",
                          "maintain": "commits_per_s"}),
    "rows_per_s": ("rows/s", {"extract": "bulk_rows_per_s",
                              "curate": "corpus_docs_per_s",
                              "maintain": "maintain_rows_per_s"}),
    "pass_s": ("s", {"extract": "round_s", "curate": "curate_pass_s",
                     "maintain": "tick_round_s"}),
    "materialize_p50_ms": ("ms", {"extract": "soql_collect_p50_ms",
                                  "curate": "step_exec_p50_ms",
                                  "maintain": "state_read_p50_ms"}),
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        return os.path.join(os.path.dirname(pyspark.__file__), "jars")
    except ImportError:
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")


def build(root, build_dir, jars):
    """Compiles the program and the harness into one jar, then records a
    class-data-sharing archive of a short untimed run, so every run's JVM
    maps the Spark and graft classes instead of parsing them again.
    Returns (jar, archive or None)."""
    sources = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala",
                               recursive=True))
    if not sources:
        log("perfbench: no program sources under src/main/scala")
        sys.exit(2)
    sources += sorted(glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))
    key = hashlib.sha256()
    for s in sources:
        key.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            key.update(f.read())
    key = key.hexdigest()
    jar = os.path.join(build_dir, "graftbench.jar")
    jsa = os.path.join(build_dir, "graftbench.jsa")
    stamp = os.path.join(build_dir, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return jar, (jsa if os.path.exists(jsa) else None)
    for old in (stamp, jar, jsa):
        if os.path.exists(old):
            os.remove(old)
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(sorted(glob.glob(f"{jars}/*.jar")))
    log(f"perfbench: compiling {len(sources)} Scala sources")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        log(proc.stdout[-4000:])
        log("perfbench: build failed")
        sys.exit(2)
    # the archive only covers classes loaded from jars, not directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(d, f),
                        os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    log("perfbench: recording the class-data-sharing archive")
    run = os.path.join(build_dir, "cds-run")
    shutil.rmtree(run, ignore_errors=True)
    gen.generate(os.path.join(run, "data"), 0, SF, 0)
    _, code = run_jvm(jar, None, jars, [
        "--workload", "extract", "--seed", "0", "--reps", "1",
        "--trace", "0", "--data", os.path.join(run, "data"),
        "--work", run, "--out", os.path.join(run, "out.json")],
        run, os.path.join(run, "jvm.log"), time.time() + 600,
        [f"-XX:ArchiveClassesAtExit={jsa}"])
    if code != 0 and os.path.exists(jsa):
        os.remove(jsa)
    shutil.rmtree(run, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(key)
    return jar, (jsa if os.path.exists(jsa) else None)


def run_jvm(jar, jsa, jars, args, work, log_path, deadline, extra=()):
    """One JVM; returns (spawn epoch s, exit code). Always reaped."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file under the system temp dir
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if jsa:
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    cmd += list(extra) + [
        f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", f"{jar}:{jars}/*", "graftbench.Main"] + args
    with open(log_path, "w") as out:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return t0, code


def pct(xs, q):
    """Quantile with linear interpolation (numpy's default)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def e2e_metrics(workload, res, setup_s, n_docs):
    """Values and sample counts; a metric with no sample is None."""
    smp = res["samples"]
    cnt = res["counters"]
    op = smp.get("op_ms", [])
    passes = smp.get("pass_s", [])
    mat = smp.get("mat_ms", [])
    if workload == "extract":
        rows = sum(smp.get("bulk_rows", []))
        secs = sum(smp.get("bulk_ms", [])) / 1e3
        n_rows = len(smp.get("bulk_rows", []))
    elif workload == "curate":
        rows, secs, n_rows = n_docs * len(passes), sum(passes), len(passes)
    else:
        rows, secs = cnt.get("rows_committed", 0), cnt.get("loop_s", 0)
        n_rows = len(passes)
    vals = {
        "setup_s": setup_s,
        "op_p50_ms": pct(op, 0.5) if op else None,
        "op_p90_ms": pct(op, 0.9) if op else None,
        "ops_per_s": len(op) / (sum(op) / 1000.0) if op else None,
        "rows_per_s": rows / secs if rows and secs else None,
        "pass_s": statistics.median(passes) if passes else None,
        "materialize_p50_ms": statistics.median(mat) if mat else None,
    }
    counts = {
        "setup_s": 1, "op_p50_ms": len(op), "op_p90_ms": len(op),
        "ops_per_s": len(op), "rows_per_s": n_rows, "pass_s": len(passes),
        "materialize_p50_ms": len(mat)}
    return vals, counts


def git_head(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still reaps its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                                  ".bench_build"))
    jar, jsa = build(root, build_dir, jars)
    deadline = time.time() + JVM_LIMIT_S

    work = os.path.join(root, ".perfbench_work", a.workload)
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    data = os.path.join(work, "data")
    reps = max(1, a.seconds // 10)
    sizes = gen.generate(data, a.seed, SF,
                         reps if a.workload == "maintain" else 0)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    base = ["--workload", a.workload, "--seed", str(a.seed),
            "--reps", str(reps), "--trace", str(a.trace),
            "--data", data]

    out = os.path.join(out_dir, f"{tag}.jvm.json")
    log_path = os.path.join(out_dir, f"{tag}.jvm.log")
    t0, code = run_jvm(jar, jsa, jars,
                       base + ["--work", work, "--out", out],
                       work, log_path, deadline)
    if code != 0 or not os.path.exists(out):
        log(f"perfbench: JVM exited with {code}; log in {log_path}")
        sys.exit(3)
    with open(out) as f:
        res = json.load(f)
    setup_s = res["setup_end_ms"] / 1000.0 - t0

    # correctness, outside every timed window
    orc = oracle.Oracle(data)
    checks = res["checks"]
    for chk in checks:
        if chk["kind"] == "maintain_landed":
            orc.check(chk)
    checks = [c for c in checks if c["kind"] != "maintain_landed"]
    with ThreadPoolExecutor(4) as pool:
        causes = list(pool.map(orc.check, checks))
    wrong = [{"op": chk.get("op", chk.get("sink", chk["kind"])), "cause": c}
             for chk, c in zip(checks, causes) if c]
    vals, counts = e2e_metrics(a.workload, res, setup_s, sizes["documents"])
    empty = [{"op": f"metric:{k}", "cause": "no successful timed sample"}
             for k, v in vals.items() if v is None]
    failures = res["failures"] + wrong + empty
    for f in failures:
        log(f"perfbench: FAILED {f['op']}: {f['cause']}")
    attempted = max(1, res["attempted"])
    failed = len({f["op"] for f in failures})
    report = {"workload": a.workload, "seed": a.seed, "cores": res["cores"],
              "sf": SF, "corpus": sizes,
              "corpus_dir": os.path.relpath(data, root),
              "git_head": git_head(root),
              "fail_ratio": failed / attempted, "failures": failures,
              "e2e": vals, "samples": counts, "counters": res["counters"]}
    if a.trace:
        layer = res["layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        untraced = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                plain = json.load(f)["e2e"]
            report["tracing_overhead"] = {
                k: vals[k] - plain[k] for k in vals
                if vals[k] is not None and plain.get(k) is not None}
        report["layer"] = layer
    else:
        metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)

    for name, v in vals.items():
        unit, alias = E2E[name]
        alias = alias.get(a.workload) if isinstance(alias, dict) else name
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"{a.workload} {alias} [{name}] = {shown} {unit}"
              f" (n={counts[name]})")
    print(f"{a.workload} fail_ratio = {failed}/{attempted}"
          f" = {failed / attempted:.4g}")
    if a.trace and "tracing_overhead" in report:
        print("tracing overhead (traced - untraced): " + json.dumps(
            {k: round(v, 4) for k, v in report["tracing_overhead"].items()}))
    print(json.dumps({"provenance": {k: report[k] for k in (
        "seed", "cores", "sf", "corpus", "corpus_dir", "git_head")},
        "samples": counts}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
