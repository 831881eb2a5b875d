#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

    python3 perfbench/run.py --workload etl_ads|curation_lsh|analytics_mix|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each workload runs in its own JVM
with local[nproc]: set-up (session + one cold run), a closed-loop timed
window of `--seconds`, and output checks. `--trace 1` adds the traced run,
the quarter-size scale pass and the kernel microbenchmark, and reports the
per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The exit code is 0 only when every output check passed.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen_ads  # noqa: E402
import metrics  # noqa: E402
from host import HostRecord  # noqa: E402

DATA = HERE / "data" / "sf0.01"
ETL_ADS = 80_000        # raw ads per etl_ads run (16+ files, ~42 MB of JSON)
CURATION_FACTOR = 2     # crawl-mode amplification of the sf0.01 documents/embeddings
WORKLOADS = ("etl_ads", "curation_lsh", "analytics_mix")
RUN_LIMIT_S = 172       # one run, after the build, must end within 180 s
JVM_HEAP = "4g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# -------------------------------------------------------------------- build

def _sources():
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HERE / "harness" / "build.sbt", HERE / "harness" / "project" / "build.properties",
             HERE / "harness" / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def ensure_built():
    """Compile the engine (the repository's own sbt build) and the harness,
    then snapshot both class directories so a later compile cannot change
    classes under a running JVM."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources here (build.sbt, src/main/scala); run from a checkout root", 2)
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp, classes = h.hexdigest(), BUILD / "classes"
    if (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp:
        return
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH", 2)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = "-Dsbt.offline=true -Dsbt.override.build.repos=true -Dsbt.server.autostart=false -Xmx2g"
    out = BUILD / "logs" / "build.out"
    with open(BUILD / "logs" / "build.log", "w") as log, open(out, "w") as stdout:
        code = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE / "harness", env=env, stdout=stdout, stderr=log, stdin=subprocess.DEVNULL,
            start_new_session=True), 850)
    lines = [x for x in out.read_text().splitlines() if x and not x.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed, see {BUILD / 'logs' / 'build.log'}", 3)
    engine_classes = ROOT / "target" / "scala-2.13" / "classes"
    harness_classes = HERE / "harness" / "target" / "scala-2.13" / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    shutil.copytree(engine_classes, classes / "engine")
    shutil.copytree(harness_classes, classes / "harness")
    snapshot = {str(engine_classes): str(classes / "engine"),
                str(harness_classes): str(classes / "harness")}
    cp = [snapshot.get(str(Path(x).resolve()), x) for x in lines[-1].split(os.pathsep)]
    (BUILD / "classpath").write_text(os.pathsep.join(cp))
    (BUILD / "stamp").write_text(stamp)


# ------------------------------------------------------------------- inputs

def etl_input(seed, n_ads, nproc):
    d = BUILD / "inputs" / f"etl-s{seed}-n{n_ads}"
    if not (d / "expect.json").is_file():
        shutil.rmtree(d, ignore_errors=True)
        gen_ads.generate(seed, str(d), max(16, nproc), n_ads)
    return d


# ---------------------------------------------------------------------- run

def wait_group(p, timeout):
    """Wait for a child started in its own session; on timeout kill its whole
    process group (sbt's launcher runs a separate JVM) and reap it. Returns
    the exit code, or None after a timeout."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def run_jvm(args, log_path, timeout):
    cp = (BUILD / "classpath").read_text()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        return wait_group(subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                           stdin=subprocess.DEVNULL, start_new_session=True), timeout)


def run_workload(workload, seed, seconds, trace, deadline):
    nproc = os.cpu_count()
    tag = f"{workload}-s{seed}-t{int(trace)}"
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    expect = {}
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(int(trace)), "--work", str(work), "--nproc", str(nproc),
            "--out", str(work / "result.json")]
    if workload == "etl_ads":
        full = etl_input(seed, ETL_ADS, nproc)
        expect[full.name] = json.loads((full / "expect.json").read_text())
        args += ["--input", str(full)]
        if trace:
            quarter = etl_input(seed, ETL_ADS // 4, nproc)
            expect[quarter.name] = json.loads((quarter / "expect.json").read_text())
            args += ["--quarter", str(quarter)]
    elif workload == "curation_lsh":
        # the amplified corpus does not depend on the seed: built once, kept
        args += ["--input", str(DATA), "--factor", str(CURATION_FACTOR),
                 "--cache", str(BUILD / "inputs")]
    else:
        args += ["--input", str(DATA)]

    host = HostRecord()
    code = run_jvm(args, BUILD / "logs" / f"{tag}.log", max(10, deadline - time.time()))
    host_rec = host.finish()
    if code != 0 or not (work / "result.json").is_file():
        fail(f"{workload}: the benchmark JVM {'timed out' if code is None else f'exited {code}'}, "
             f"see {BUILD / 'logs' / f'{tag}.log'}", 1)
    result = json.loads((work / "result.json").read_text())

    # checks: every failed call or wrong output is one failed operation
    failures = {}
    for s in result["samples"]:
        if s.get("error"):
            failures[f"{s['op']}#{s['i']}"] = [s["error"]]
    for op in result["cold"]:
        failures[f"{op}#cold"] = ["threw in the cold run or the check run"]
    if workload == "etl_ads":
        runs = result["runs"] + (result.get("trace") or {}).get("runs", [])
        for r in runs:
            bad = checks.check_etl_run(r, expect[r["input"]])
            if bad:
                failures[f"runFiles#{r['i']}@{r['input']}"] = bad
        checked = len(runs)
    else:
        names = [n for n in sorted({s["op"] for s in result["samples"]}) if f"{n}#cold" not in failures]
        dumps = work / "dumps"
        data_dir = (dumps / "data_dir.txt").read_text()
        failures.update(checks.check_oracle(dumps, data_dir, names))
        if workload == "curation_lsh":
            failures.update(checks.check_curation(dumps, data_dir))
        elif "q_approx_distinct" in names:
            bad = checks.check_approx_distinct(dumps, data_dir)
            if bad:
                failures["q_approx_distinct"] = bad
        checked = len(names)
    attempted = len(result["samples"]) + checked
    e2e = metrics.end_to_end(result)
    walls = [s["wall_s"] for s in result["samples"] if not s.get("error")]
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "host": host_rec, "setup": result["setup"], "window_s": result["window_s"],
        "settle_s": result["settle_s"], "input_rows": result["input_rows"],
        "input_bytes": result["input_bytes"], "samples": result["samples"],
        "warmup": result.get("warmup"), "gc_heap_mb": result.get("gc_heap_mb"),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "query_p90_s": metrics.p90(walls), "failures": failures,
        "attempted": attempted,
    }
    layer = None
    if trace:
        exp = expect.get(f"etl-s{seed}-n{ETL_ADS}")
        layer, rows, scale = metrics.per_layer(result, exp)
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        record["layer_table"] = rows
        record["scale_by_op"] = {op: {"fixed_s": f, "per_krow_ms": p} for op, (f, p) in scale.items()}
        record["spans"] = result["trace"]["spans"]
    (BUILD / "results").mkdir(parents=True, exist_ok=True)
    (BUILD / "results" / f"{tag}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    for d in (BUILD / "inputs").glob(f"etl-s{seed}-*"):
        shutil.rmtree(d, ignore_errors=True)
    return record, e2e, layer


def print_summary(record, e2e, layer):
    w = record["workload"]
    print(f"== {w} (seed {record['seed']}, {len(record['samples'])} timed calls, "
          f"window {record['window_s']:.1f} s)")
    for k, (v, u) in e2e.items():
        print(f"  {k:<24} {v:>14.4f} {u}")
    p90 = record["query_p90_s"]
    print(f"  {'query_p90_s':<24} {p90:>14.4f} s" if p90 is not None else
          f"  {'query_p90_s':<24} {'-':>14} (fewer than 10 samples beyond p90)")
    fails = record["failures"]
    print(f"  {'failed_frac':<24} {len(fails) / record['attempted']:>14.4f} ratio")
    h = record["host"]
    print(f"  host: nproc {h['nproc']}, loadavg {h['loadavg_start']:.2f}/{h['loadavg_max']:.2f}/"
          f"{h['loadavg_end']:.2f} (start/max/end), steal {h.get('steal_share', 0):.3f}, "
          f"iowait {h.get('iowait_share', 0):.3f}")
    for name, msgs in fails.items():
        print(f"  FAILED {name}: {'; '.join(map(str, msgs))}")
    if layer:
        print("  layer table (traced pass):")
        for r in record["layer_table"]:
            selfs = ", ".join(f"{k} {v:.3f}" for k, v in r["self_s"].items())
            print(f"    {r['op']:<26} wall {r['wall_s']:.3f} s  jobs {r['spark.jobs']}  "
                  f"stages {r['spark.stages']}  tasks {r['spark.tasks']}  "
                  f"gap {r['spark.driver_gap_s']:.3f} s  plan {r['spark.plan_s']:.3f} s  self: {selfs}")
        for op, s in record["scale_by_op"].items():
            print(f"    scale {op:<20} fixed {s['fixed_s']:.3f} s  per_krow {s['per_krow_ms']:.3f} ms")
        for k, (v, u) in layer.items():
            print(f"  {k:<34} {v:>16.4f} {u}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    ensure_built()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = []
    for name in names:
        deadline = time.time() + RUN_LIMIT_S
        record, e2e, layer = run_workload(name, a.seed, a.seconds, bool(a.trace), deadline)
        print_summary(record, e2e, layer)
        results.append((record, {k: v for k, v in layer.items() if k not in metrics.RECORD_ONLY}
                        if a.trace else e2e))
    correct = all(not r["failures"] for r, _ in results)
    line = {"correct": correct,
            "attempted": sum(r["attempted"] for r, _ in results),
            "failed": sum(len(r["failures"]) for r, _ in results)}
    if len(results) == 1:
        line["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in results[0][1].items()}
    else:
        line["metrics"] = {f"{r['workload']}.{k}": {"value": v, "unit": u}
                           for r, m in results for k, (v, u) in m.items()}
    print(json.dumps(line))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
