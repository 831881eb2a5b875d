#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report, per metric, the
median and the interquartile spread as a share of the median -- the test a
benchmark's bounds are held to.

    python3 perfbench/spread.py --workload etl_ads --seeds 1-10 --seconds 10 \
        [--trace 0|1] [--out FILE]

Each run is one `perfbench/run.py` process; its host record and metrics are
kept (from .bench_build/results/) in the output file.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        line = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        rec_path = HERE.parent / ".bench_build" / "results" / f"{a.workload}-s{s}-t{a.trace}.json"
        rec = json.loads(rec_path.read_text()) if rec_path.is_file() else {}
        runs.append({"seed": s, "exit": p.returncode, "line": line, "host": rec.get("host"),
                     "query_p90_s": rec.get("query_p90_s"),
                     "walls": [x["wall_s"] for x in rec.get("samples", [])]})
        print(f"seed {s}: exit {p.returncode} " + (" ".join(
            f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()) if line else ""), flush=True)
    ok = [r["line"] for r in runs if r["line"]]
    summary = {}
    for k in (ok[0]["metrics"] if ok else {}):
        vals = [l["metrics"][k]["value"] for l in ok]
        summary[k] = {"unit": ok[0]["metrics"][k]["unit"], "median": metrics.median(vals),
                      "spread": metrics.spread(vals) if len(vals) >= 2 else None, "values": vals}
        sp = summary[k]["spread"]
        print(f"  {k:<36} median {summary[k]['median']:>14.4f} {summary[k]['unit']:<7} "
              f"spread {sp if sp is None else round(sp, 4)}")
    # pooled per-call walls: enough samples for the p90 rule across runs
    pooled = [w for r in runs for w in r["walls"]]
    p90 = metrics.p90(pooled)
    print(f"  pooled query walls: {len(pooled)} samples, p50 {metrics.median(pooled):.4f} s, "
          f"p90 {'-' if p90 is None else f'{p90:.4f} s'}")
    result = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "runs": runs,
              "summary": summary, "pooled_calls": len(pooled), "pooled_p90_s": p90,
              "correct": all(r["line"] and r["line"]["correct"] for r in runs)}
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(result, indent=1) + "\n")
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
