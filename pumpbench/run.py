#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload per call, in one warm JVM.

    python3 pumpbench/run.py --workload queue_sweep --seed 1 --seconds 20 --trace 0

Builds the program from source when needed (`build.py`), runs the
workload, checks its outputs, and prints as its last line one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The line before it carries the detail
(sample counts, the run environment, tracing overhead). Everything the
run writes stays under `.bench_build/pumpbench/`; the artifact of each
run lands in its `artifacts/` directory. Exits 1, without a result
line, when the workload cannot run, and 1, after the result line, when
an output is wrong. See README.md in this directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "pumpbench"
WORKLOADS = ("queue_sweep", "corpus_stream", "query_board")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"pumpbench: {msg}\n")
    sys.exit(1)


def run_jvm(classes, jars, workload, seed, seconds, trace, cores, run_dir):
    """Run one workload in a fresh JVM; return its result.json."""
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dderby.stream.error.file={run_dir / 'derby.log'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "pumpbench.Main",
              workload, str(seed), str(seconds), str(trace), str(run_dir),
              str(cores)])
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=seconds + 140)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} did not finish in time; log: {log_path}")
    result = run_dir / "result.json"
    if code != 0 or not result.exists():
        tail = log_path.read_text(errors="replace")[-4000:]
        fail(f"{workload} JVM exited with code {code}:\n{tail}")
    return json.loads(result.read_text())


def overhead(workload, artifacts):
    """Tracing overhead: traced minus untraced timed wall per item, from
    the latest run of each mode of this workload in this checkout."""
    latest = {}
    for trace in (0, 1):
        runs = sorted(artifacts.glob(f"{workload}-seed*-trace{trace}.json"),
                      key=lambda p: p.stat().st_mtime)
        if runs:
            latest[trace] = json.loads(runs[-1].read_text())
    if len(latest) < 2:
        return None
    per_item = {t: r["detail"]["timed_wall_s"] / max(1, r["attempted"])
                for t, r in latest.items()}
    return {"untraced_s_per_item": per_item[0],
            "traced_s_per_item": per_item[1],
            "overhead_s_per_item": per_item[1] - per_item[0],
            "overhead_ratio": per_item[1] / per_item[0] - 1}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(HERE))
    import build
    classes = build.build()
    # two task threads: the workloads are bound by per-job overhead, which
    # the driver, JIT and GC threads carry (see README.md)
    cores = min(2, os.cpu_count() or 1)
    run_dir = WORK / "runs" / f"{args.workload}-trace{args.trace}"
    res = run_jvm(classes, build.spark_jars(), args.workload, args.seed,
                  args.seconds, args.trace, cores, run_dir)

    errors = list(res["errors"])
    if args.workload == "query_board":
        import oracle
        errors += oracle.check(res["detail"]["warmup_data_dir"],
                               res["detail"]["oracle_dir"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    declared = {w["name"] for w in spec["workloads"]}
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing and not args.trace:
        fail(f"{args.workload} did not measure {missing}")
    # a layer the workload never enters reads 0 in the traced run
    metrics = {m["name"]: {"value": got.get(m["name"], {}).get("value", 0),
                           "unit": m["unit"]} for m in wanted}
    for name, m in got.items():
        want = next((w for w in wanted if w["name"] == name), None)
        if want and want["unit"] != m["unit"]:
            fail(f"{name} measured in {m['unit']}, declared {want['unit']}")
        # query_board is not in BENCHMARK.json: report its own metrics too
        if not want and args.workload not in declared:
            metrics[name] = {"value": m["value"], "unit": m["unit"]}

    artifacts = WORK / "artifacts"
    artifacts.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    res["errors"] = errors
    res["correct"] = not errors
    (artifacts / f"{stem}.json").write_text(json.dumps(res, indent=1))
    if args.workload == "queue_sweep":
        with open(artifacts / f"{stem}-drops.jsonl", "w") as f:
            for item in res["items"]:
                f.write(json.dumps(item) + "\n")
    res["env"]["trace_overhead"] = overhead(args.workload, artifacts)
    (artifacts / f"{stem}.json").write_text(json.dumps(res, indent=1))

    detail = {"workload": args.workload, "env": res["env"],
              "samples": {k: v["samples"] for k, v in got.items()},
              "detail": res["detail"], "marks_s": res.get("marks_s"),
              "errors": errors[:20]}
    print(json.dumps(detail))
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
