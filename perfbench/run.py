#!/usr/bin/env python3
"""Benchmark runner: builds the program and the harness from source, makes
the workload's inputs from the seed, runs one workload in one JVM, checks
every result, and prints one JSON object as the last line of stdout.

Usage (from the repository root):
  python3 perfbench/run.py --workload <daily_cycle|read_curation>
                           --seed <n> --seconds <s> --trace <0|1>

The program is compiled with the Scala compiler shipped among the Spark jars
that build.sbt's `unmanagedBase` names (or $SPARK_HOME/jars) into jars under
$CARGO_TARGET_DIR (default .bench_build), once per source state.
Everything the run writes stays under the repository root: the build
cache, a per-run work directory that is removed at the end, and the run's
result and spans under .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

SCALA = "2.13.17"
DEADLINE_S = 170.0
# input scale per workload (1.0 = 60,000 lineitem rows, 500 documents)
SCALE = {"daily_cycle": 0.0, "read_curation": 1.0}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(str(f).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jar directory the build uses: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    d = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not glob.glob(str(d / "*.jar")):
        die(f"no Spark jars under {d}")
    return d


def scalac(build, jar_dir, sources, out, classpath, resources=None, dep_stamp=""):
    """Compiles `sources` into the jar `out`, together with the files under
    `resources`, unless its stamp (the sources, the classpath and
    `dep_stamp`, the stamp of a jar it compiles against) already matches.
    Returns the stamp."""
    extra = sorted(f for f in resources.rglob("*") if f.is_file()) if resources else []
    stamp = digest(list(sources) + extra, ":".join(classpath) + dep_stamp)
    stamp_file = Path(str(out) + ".stamp")
    if out.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return stamp
    classes = build / (out.stem + "-classes")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [str(jar_dir / f"scala-{n}-{SCALA}.jar") for n in ("compiler", "library", "reflect")]
    argfile = build / "scalac.args"
    argfile.write_text("\n".join(
        ["-nowarn", "-d", str(classes), "-classpath", ":".join(classpath)] + [str(s) for s in sources]))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        die(f"compile failed:\n{r.stdout[-4000:]}")
    tmp = Path(str(out) + ".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
        for f in extra:
            z.write(f, f.relative_to(resources).as_posix())
    tmp.replace(out)
    stamp_file.write_text(stamp)
    return stamp


def build(root):
    """Compiles the program and the harness into jars under the build dir;
    returns the benchmark JVM's classpath."""
    src = root / "src" / "main" / "scala"
    if not src.is_dir():
        die(f"no program sources at {src}")
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not build_dir.is_absolute():
        build_dir = root / build_dir
    build_dir.mkdir(parents=True, exist_ok=True)
    jar_dir = spark_jars(root)
    jars = sorted(glob.glob(str(jar_dir / "*.jar")))
    program = build_dir / "program.jar"
    harness = build_dir / "harness.jar"
    resources = root / "src" / "main" / "resources"
    t0 = time.time()
    stamp = scalac(build_dir, jar_dir, sorted(src.rglob("*.scala")), program, jars,
                   resources if resources.is_dir() else None)
    scalac(build_dir, jar_dir, sorted((HERE / "scala").glob("*.scala")), harness,
           [str(program)] + jars, dep_stamp=stamp)
    classpath = [str(harness), str(program)] + jars
    if time.time() - t0 > 1:
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def run_jvm(classpath, args, work, out, budget):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out.mkdir(parents=True, exist_ok=True)
    # no hsperfdata file: the JVM would write it to /tmp whatever the tmpdir;
    # a fixed heap, so GC frequency does not follow G1's timing-driven sizing
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", str(work / "data"), "--work", str(work), "--out", str(out)])
    log = out / "jvm.log"
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    return rc, log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = Path.cwd().resolve()
    spec_file = root / "BENCHMARK.json"
    if not spec_file.exists():
        die("run from the repository root: BENCHMARK.json not found")
    spec = json.loads(spec_file.read_text())
    classpath = build(root)
    t_run = time.time()

    work = root / ".bench_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "out"
    try:
        import gen
        import oracle
        if SCALE[args.workload] > 0:
            gen.generate(str(work / "data"), args.seed, SCALE[args.workload])
        else:
            (work / "data").mkdir(parents=True)
        t_jvm = time.time()
        budget = DEADLINE_S - (t_jvm - t_run)
        rc, log = run_jvm(classpath, args, work, out, budget)
        t_check = time.time()
        result_file = out / "result.json"
        if rc != 0 or not result_file.exists():
            tail = log.read_text(errors="replace")[-4000:]
            die(f"harness exited with {rc}:\n{tail}", 1)
        res = json.loads(result_file.read_text())
        failures = list(res["failures"])
        attempted = res["attempted"]
        checks = oracle.check(str(work / "data"), res["oracle"])
        attempted += len(checks)
        failures += [f"oracle {n}: {msg}" for n, msg in checks if msg]

        kind = "per_layer" if args.trace else "end_to_end"
        source = res["layers"] if args.trace else res["e2e"]
        metrics = {}
        for m in spec[kind]:
            v = source.get(m["name"])
            if v is None:
                if args.trace:
                    v = 0.0  # layer not exercised by this workload
                else:
                    failures.append(f"metric {m['name']} missing")
                    continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  wall_s: inputs {t_jvm - t_run:.1f}, jvm {t_check - t_jvm:.1f}, "
              f"oracle {time.time() - t_check:.1f}")
        for k, v in res["notes"].items():
            print(f"  {k}: {v}")
        for k, v in metrics.items():
            print(f"{k} {v['value']} {v['unit']}")
        for f in failures:
            print(f"FAILED {f}")

        keep = root / ".bench_out"
        keep.mkdir(exist_ok=True)
        stem = f"{args.workload}_seed{args.seed}_trace{args.trace}"
        (keep / f"{stem}.json").write_text(json.dumps(
            {"result": res, "metrics": metrics, "failures": failures,
             "build_s": t_run - t_start, "wall_s": time.time() - t_start}, indent=1))
        if (out / "spans.jsonl").exists():
            shutil.copy(out / "spans.jsonl", keep / f"{stem}_spans.jsonl")
        correct = not failures
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
