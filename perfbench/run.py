"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (`perfbench/build.py`),
then runs the workload in one JVM with the Spark jars on the class path.
With `--trace 0` the result carries every end-to-end metric of
BENCHMARK.json, with `--trace 1` every per-layer metric; the traced run
also keeps its span file under `.bench_build/perfbench/spans/`.
Everything the run writes stays under `.bench_build/` in the checkout.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

DEADLINE_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classes = build.build()
    started = time.monotonic()  # the deadline is the run's, after any build
    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    jars = str(build.spark_jars() / "*")
    # the heap is fixed and pre-touched so `peak_rss_mb` does not swing
    # with how far the collector let it grow
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("workload ran past its deadline", 3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    spans = work / "spans.tsv"
    kept = build.OUT / "spans" / f"{args.workload}-{args.seed}.tsv"
    if spans.is_file():
        kept.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(spans, kept)
    else:
        kept = None
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"workload exited with {proc.returncode}")

    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}")
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or not in {m['unit']}")
    result["metrics"] = {m["name"]: result["metrics"][m["name"]] for m in wanted}
    if kept is not None:
        info["info"]["spans_file"] = str(kept.relative_to(ROOT))
    print(json.dumps(info))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
