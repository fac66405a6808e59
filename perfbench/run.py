"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 14 --trace 0

Builds the engine and the harness (cached), generates the workload's data
once (cached by scale), then runs one JVM: a few timed set-ups (each an
empty codegen cache, a fresh Spark session and a warm-up pass over the
keys), an untimed pass that checks every key's output against
`expected/<workload>.json`, an untimed warm-up pass, and measured passes
in a seed-permuted key order: as many as take `--seconds` at the nominal
pass time, at least three.

Prints every metric with its unit, median, quartiles and sample count, the
output-check verdict and per-pass steadiness, then, as the last line, one
JSON object: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. Artifacts go to `perfbench/out/`: the report, the raw
observations the JVM wrote, and for a traced run its spans. Exits non-zero
without a result line if anything fails to build or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

BENCH = build.BENCH
WORK = build.WORK
OUT = BENCH / "out"
MAIN = "org.apache.spark.sql.perfbench.PerfBench"
# JVM start, the set-ups, the checking pass and the warm-up pass take
# about 45 s on 4 cores; the timeout allows them and each measured pass
# about three times that, and ends a run well within 180 s
JVM_FIXED_S = 120
# a measured pass of either workload takes 3 to 4 s on 4 cores. The run
# measures a fixed number of passes, so that every run stops at the same
# point of the JIT's warm-up whatever the host's speed
NOMINAL_PASS_S = 3.5


def log(msg):
    sys.stdout.write(f"[perfbench] {msg}\n")
    sys.stdout.flush()


def jvm(cp, args, run_dir, timeout, heap, flags=()):
    """Run a JVM main in `run_dir` with every temp path inside it; kill the
    whole process group if it outlives `timeout`."""
    tmp = run_dir / "tmp"
    (tmp / "java").mkdir(parents=True, exist_ok=True)
    (tmp / "spark").mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL"))}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    cmd = build.java_cmd(heap) + list(flags) + [
        f"-Djava.io.tmpdir={tmp / 'java'}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Dderby.stream.error.file=" + str(run_dir / "derby.log"),
        "-cp", ":".join(cp)] + args
    with open(run_dir / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail + "\n")
        raise SystemExit(f"{args[0]} exited with {rc}")


def ensure_data(cp, scale):
    """Generate the base corpus once per scale; the time is logged and is
    part of no metric."""
    base = WORK / "data" / f"base-{scale}"
    stamp = (BENCH / "src" / "GenData.scala").read_text()
    ok = base / "OK"
    if ok.exists() and ok.read_text() == stamp:
        return base
    shutil.rmtree(base, ignore_errors=True)
    t0 = time.time()
    run_dir = WORK / f"gen-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    jvm(cp, ["perfbench.GenData", str(base), str(scale)], run_dir, 800, "3g")
    shutil.rmtree(run_dir, ignore_errors=True)
    ok.write_text(stamp)
    log(f"generated {base.name} in {time.time() - t0:.1f} s (not part of any metric)")
    return base


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write this run's output checksums as the expected ones")
    a = ap.parse_args()

    cfg = json.loads((BENCH / "workloads.json").read_text())
    if a.workload not in cfg["workloads"]:
        raise SystemExit(f"unknown workload {a.workload!r}")
    wl = cfg["workloads"][a.workload]

    t0 = time.time()
    cp = build.build()
    log(f"build ready in {time.time() - t0:.1f} s")
    sf = ensure_data(cp, cfg["scale"])

    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    raw_path = run_dir / "raw.json"
    passes = max(3, round(a.seconds / NOMINAL_PASS_S))
    nondet = [k for k in wl["keys"] if k in cfg["row_count_only"]]
    # The first run of a build records the classes it loads in a
    # class-data-sharing archive; later runs map it and start the JVM
    # about 7 s sooner. Measured passes and later set-ups are unaffected.
    jsa = Path(cp[0]).with_suffix(".jsa")
    cds = (f"-XX:SharedArchiveFile={jsa}" if jsa.exists()
           else f"-XX:ArchiveClassesAtExit={jsa}")
    jvm(cp, [MAIN, str(raw_path), str(sf), ",".join(wl["keys"]), str(a.seed),
             str(passes), str(cfg["setups"]), str(a.trace),
             str(run_dir / "tmp"), ",".join(nondet) or "-"],
        run_dir, JVM_FIXED_S + 3 * passes * NOMINAL_PASS_S, cfg["heap"],
        # a fixed heap, so that runs do not differ in when the heap grows
        [cds, f"-Xms{cfg['heap']}"])
    raw = json.loads(raw_path.read_text())
    OUT.mkdir(exist_ok=True)
    shutil.move(str(raw_path), OUT / f"{a.workload}-seed{a.seed}-trace{a.trace}-raw.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    expected_path = BENCH / "expected" / f"{a.workload}.json"
    if a.record_expected:
        expected_path.write_text(json.dumps(
            {k: v.get("checksum") for k, v in sorted(raw["checks"].items())},
            indent=1) + "\n")
    expected = json.loads(expected_path.read_text()) if expected_path.exists() else {}

    report = metrics.report(raw, wl, cfg, expected)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if a.trace:
        untraced = OUT / f"{a.workload}-seed{a.seed}-trace0.json"
        if not untraced.exists():
            others = sorted(OUT.glob(f"{a.workload}-seed*-trace0.json"),
                            key=lambda p: p.stat().st_mtime)
            untraced = others[-1] if others else None
        if untraced:
            base = json.loads(untraced.read_text())["end_to_end"]["pass_s"]["median"]
            traced = report["end_to_end"]["pass_s"]["median"]
            report["tracing_overhead"] = {
                "untraced_run": untraced.name, "untraced_pass_s": base,
                "traced_pass_s": traced, "overhead_frac": traced / base - 1}
        (OUT / f"trace-{a.workload}-seed{a.seed}.json").write_text(json.dumps(
            metrics.trace_artifact(raw, a.workload), indent=None))
    (OUT / f"{name}.json").write_text(json.dumps(report, indent=1))

    for line in metrics.describe(report):
        log(line)
    section = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["correct"], "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {m: {"value": s["median"], "unit": s["unit"]}
                    for m, s in section.items()}}))


if __name__ == "__main__":
    main()
