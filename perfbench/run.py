#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload search_interactive --seed 1 --seconds 10 --trace 0

The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it name
the input properties ("inputs ...") and the workload's own figures
("report ..."). Other modes:

    --steadiness N     run the workload N times with seeds 1..N (or --seeds
                       a,b,...) and print each end-to-end metric's median,
                       quartiles and spread next to its bound
    --self-test        run the benchmark's own tests
    --record-fingerprints
                       re-record the registry fingerprints of pipeline_mix
                       (only for an intended change of query results)
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["search_interactive", "search_bulk", "index_ingest", "pipeline_mix"]
FINGERPRINTS = build.BENCH / "fingerprints.tsv"
JVM_TIMEOUT_S = 170


def jvm(classpath: list[str], work: Path, args: list[str], timeout: float) -> tuple[int, str]:
    """Run perfbench.Main in its own JVM; stdout is returned, stderr passes
    through. The whole process group is killed on timeout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"] + build.ADD_OPENS +
           ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        print(f"[perfbench] run exceeded {timeout:.0f} s", file=sys.stderr)
        return 124, ""
    return p.returncode, out


def parse_result(line: str) -> dict | None:
    try:
        r = json.loads(line)
    except json.JSONDecodeError:
        return None
    ok = (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(r["attempted"], int) and r["attempted"] >= 1)
    return r if ok else None


def one_run(workload: str, seed: int, seconds: int, trace: bool,
            extra: list[str] = (), quiet: bool = False) -> dict | None:
    classpath = build.build()
    work = build.BUILD / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spans = build.BUILD / "traces" / f"{workload}-seed{seed}.jsonl"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", str(work),
            "--spans", str(spans), "--fingerprints", str(FINGERPRINTS)] + list(extra)
    try:
        code, out = jvm(classpath, work, args, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    result = parse_result(lines[-1]) if lines else None
    if code != 0 or result is None:
        print(f"[perfbench] {workload} seed {seed}: no result (exit {code})", file=sys.stderr)
        return None
    if not quiet:
        print("\n".join(lines[:-1]))
    return result


def steadiness(workload: str, seeds: list[int], seconds: int) -> int:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for s in seeds:
        r = one_run(workload, s, seconds, trace=False, quiet=True)
        if r is None or not r["correct"]:
            print(f"seed {s}: failed run", file=sys.stderr)
            return 1
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + " ".join(f"{k}={m['value']:.6g}" for k, m in r["metrics"].items()),
              flush=True)
    print(f"{workload}: {len(seeds)} runs")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    worst = 0.0
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(k)
        flag = ""
        if bound is not None:
            worst = max(worst, spread / bound)
            flag = "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "OVER")
        print(f"{k:28} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f} "
              f"{bound if bound is not None else '-':>6} {flag}")
    print(f"worst spread / bound: {worst:.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    help="measured seconds per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", type=int, metavar="N")
    ap.add_argument("--seeds", help="comma-separated seeds for --steadiness")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    if a.seconds is None:
        a.seconds = json.loads((build.ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    t0 = time.time()
    try:
        if a.self_test:
            work = build.BUILD / "runs" / f"self-test-{os.getpid()}"
            try:
                code, out = jvm(build.build(), work, ["--self-test"], JVM_TIMEOUT_S)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            print(out, end="")
            return code
        if a.workload is None:
            ap.error("--workload is required")
        if a.record_fingerprints:
            r = one_run("pipeline_mix", a.seed, 1, trace=False, extra=["--record"])
            print(f"[perfbench] recorded {FINGERPRINTS}", file=sys.stderr)
            return 0 if r is not None else 1
        if a.steadiness:
            seeds = ([int(s) for s in a.seeds.split(",")] if a.seeds
                     else list(range(1, a.steadiness + 1)))
            return steadiness(a.workload, seeds, a.seconds)
        r = one_run(a.workload, a.seed, a.seconds, bool(a.trace))
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    if r is None:
        return 1
    print(f"[perfbench] {a.workload} seed {a.seed}: {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
