#!/usr/bin/env python3
"""graft's benchmark: one seeded workload against graft's public API.

    python3 graftbench/run.py --workload serve|dedup|crud --seed N \
        --seconds S --trace 0|1

Run from the repository root. The command builds graft and the harness
(graftbench/build.sh) into $CARGO_TARGET_DIR (default .bench_build),
generates the workload's inputs from the seed (gen.py), runs the
workload in a fresh JVM on local[<all cores>] from one closed-loop
client thread, checks every output (checks.py) and prints every metric
by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(report.py defines both). Everything it writes stays under
$CARGO_TARGET_DIR; the last run's full report is kept in
$CARGO_TARGET_DIR/last/. Exits 1 when an output check fails and 2 when
the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

JVM_TIMEOUT_S = 160
HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    out = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=REPO,
                           env={**os.environ, "CARGO_TARGET_DIR": out})
    if build.returncode != 0:
        die("build failed")

    work = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, tmp = os.path.join(work, "inputs"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        gen.generate(args.workload, args.seed, inputs)
        raw_path = os.path.join(work, "raw.json")
        with open(os.path.join(out, "classpath")) as f:
            classpath = f.read().strip()
        # -UsePerfData: no hsperfdata files outside the run directory
        jvm_opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] + [
            "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath]

        # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: keep its
        # scratch files inside the run directory
        jvm_env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}

        # class-data sharing: after a build, a short unmeasured JVM dumps
        # the classes a Spark session loads; every measured run maps them
        # instead of loading Spark anew, so all measured runs start alike
        archive = os.path.join(out, "graftbench.jsa")
        if not os.path.exists(archive):
            try:
                subprocess.run(["java", f"-XX:ArchiveClassesAtExit={archive}"] + jvm_opts +
                               ["graftbench.ClassDump", os.path.join(work, "dump")],
                               cwd=work, env=jvm_env, stdout=subprocess.DEVNULL,
                               stderr=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                pass  # the run below then loads its classes itself
        cmd = ["java", f"-XX:SharedArchiveFile={archive}"] + jvm_opts + [
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--work", os.path.join(work, "data"), "--out", raw_path]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            try:
                jvm = subprocess.run(cmd, cwd=work, env=jvm_env, stdout=log,
                                     stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                jvm = None
        # the JVM writes raw.json as its last step before stopping Spark
        if jvm is None or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die("the workload timed out" if jvm is None else "the workload did not complete")
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[graftbench]")))
        with open(raw_path) as f:
            raw = json.load(f)

        results = checks.run(raw["checks"], raw["extra"]["tables"])
        failed_checks = [r for r in results if not r[2]]
        failed_keys = {r[1] for r in failed_checks}
        samples = raw["samples"]
        # every op the run issued counts, the warm-up's too
        issued = samples + raw["samples_untraced"] + raw["samples_warmup"]
        failed = sum(1 for s in issued if not s["ok"] or s["key"] in failed_keys)

        e2e, info = report.end_to_end(raw, failed_keys)
        full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cpus": raw["cpus"], "inputs": gen.SIZES[args.workload],
                "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
                "info": info, "checks": {"run": len(results), "failed": failed_checks},
                "op_errors": sorted({s["error"] for s in issued if s["error"]})[:10]}
        if args.trace:
            layers, linfo = report.per_layer(raw)
            full["per_layer"] = layers
            full["trace_info"] = linfo
            metrics = layers
        else:
            metrics = full["end_to_end"]
        os.makedirs(os.path.join(out, "last"), exist_ok=True)
        with open(os.path.join(out, "last", f"{args.workload}-trace{args.trace}.json"), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)

        print(f"graftbench {args.workload} seed={args.seed} trace={args.trace} "
              f"cpus={raw['cpus']} ops={len(samples)} checks={len(results)}")
        for k, v in full["end_to_end"].items():
            print(f"  {k:<22} {v['value']:.6g} {v['unit']}")
        for k, v in info.items():
            if isinstance(v, (int, float)):
                print(f"  {k:<22} {v:.6g}")
        for name, _, _, detail in failed_checks:
            print(f"  CHECK FAILED {name}: {detail}")
        correct = not failed_checks and failed == 0
        print(json.dumps({"correct": correct, "attempted": len(issued), "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
