"""Benchmark of the book-graph engine: stored-corpus extraction, a cold
session over every stage and query, and the resumable RunAll job.

Run from the repository root:

    python3 perfbench/run.py --workload session --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine (`src/main/scala`) together
with the benchmark runner (`perfbench/src`) using the Scala compiler that
ships with Spark, generates the input tables and writes the stored
extraction corpus; later runs reuse them while the sources are unchanged.
All of it lives under `.perfbench/` in the checkout.

Every run prints a table of its metrics (median, quartiles, samples) and,
as the last line, one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer ones).
It exits 1 when any output check fails and 2 when the run cannot be made.
See README.md in this directory for the workloads and the metric map.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(BENCH))

import harness  # noqa: E402

WORKLOADS = ("session", "runall")
SCALE = 0.001  # session and RunAll inputs: 6,000 line items, 50 documents
CORPUS_SCALE = 0.024  # stored extraction corpus: 74,641 triples
RUN_LIMIT_S = 170  # a run, build excluded, ends well within 180 s
BUILD_LIMIT_S = 600

# The JVM options build.sbt gives `run`: Spark 4 on JDK 17 needs these
# module opens outside spark-submit, and the same collector settings.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:+UseParallelGC", "-XX:NewRatio=1",
]


class BenchError(Exception):
    """The run cannot be made (missing sources, toolchain or build)."""


def host_cores():
    """Cores this process may run on, as `nproc` counts them."""
    return len(os.sched_getaffinity(0))


def host_heap():
    """Heap from MemTotal as the Tier-1 test command sizes it: half the
    memory in GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{min(8, max(2, int(line.split()[1]) // 2097152))}g"
    return "2g"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("Spark not found: set SPARK_HOME")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BenchError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BenchError("no engine sources under src/main/scala")
    return main + sorted((BENCH / "src").rglob("*.scala"))


def build_key(srcs, jars):
    h = hashlib.sha256()
    for p in srcs + [BENCH / "gen.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    h.update(f"{SCALE} {CORPUS_SCALE}".encode())
    return h.hexdigest()[:16]


def call(cmd, log, limit):
    """Run `cmd` in its own process group with output to `log`; kill the
    group if it outlives `limit` seconds. Returns the exit code."""
    with open(log, "ab") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=ROOT, start_new_session=True)
        try:
            return proc.wait(timeout=max(1, limit))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"timed out after {limit:.0f} s; log: {log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def jvm_cmd(build, args, work, *flags):
    return [java(), f"-Xmx{host_heap()}", f"-Djava.io.tmpdir={work}/tmp",
            *JVM_FLAGS, *flags, "-cp", f"{build / 'perfbench.jar'}:{spark_jars()}/*",
            "perfbench.Main", *args]


def ensure_build():
    """Once per source tree: compile into a jar, generate the inputs,
    write the stored corpus and, from that run, a class-data archive that
    shortens every later JVM start. Returns the build directory."""
    jars = spark_jars()
    srcs = sources()
    build = STATE / "build" / build_key(srcs, jars)
    STATE.mkdir(exist_ok=True)
    with open(STATE / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (build / "DONE").exists():
            return build
        shutil.rmtree(build, ignore_errors=True)
        classes = build / "classes"
        classes.mkdir(parents=True)
        log = build / "build.log"
        t0 = time.monotonic()
        rc = call([java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                   "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
                   "-classpath", f"{jars}/*", *map(str, srcs)],
                  log, BUILD_LIMIT_S)
        if rc != 0:
            raise BenchError(f"compile failed; log: {log}")
        # a class-data archive takes jars only, not class directories
        with zipfile.ZipFile(build / "perfbench.jar", "w") as jar:
            for f in sorted(classes.rglob("*.class")):
                jar.write(f, f.relative_to(classes))
        shutil.rmtree(classes)
        import gen
        gen.generate(str(build / "inputs"), SCALE)
        gen.generate(str(build / "corpus-inputs"), CORPUS_SCALE)
        work = build / "work"
        (work / "tmp").mkdir(parents=True)
        rc = call(jvm_cmd(build, [
            "prepare", "0", "0", str(host_cores()), str(build / "corpus-inputs"),
            str(build / "corpus"), str(work), str(work / "unused.json")], work,
            f"-XX:ArchiveClassesAtExit={build / 'classes.jsa'}"),
            log, BUILD_LIMIT_S - (time.monotonic() - t0))
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            raise BenchError(f"corpus preparation failed; log: {log}")
        (build / "DONE").write_text("")
        return build


def summarize(raw, expected, workload, traced):
    """The result object and the table lines of one run."""
    attempted, failures, bad = harness.check(raw, expected)
    if traced:
        metrics = harness.per_layer(raw)
        table = [(n, u, v, v, v, 1) for n, (v, u) in sorted(metrics.items())]
        out = {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}
    else:
        samples = harness.end_to_end_samples(raw, bad, workload)
        table, out = [], {}
        for name, unit in harness.END_TO_END_UNITS.items():
            if name in samples:
                q1, med, q3 = harness.quartiles(samples[name])
                table.append((name, unit, med, q1, q3, len(samples[name])))
                out[name] = {"value": med, "unit": unit}
    share = len(failures) / attempted if attempted else 1.0
    table.append(("failed_share", "ratio", share, share, share, attempted))
    missing = [] if traced else [n for n in harness.END_TO_END_UNITS if n not in out]
    correct = not failures and not missing and attempted > 0
    result = {"correct": correct, "attempted": attempted,
              "failed": len(failures), "metrics": out}
    return result, table, failures + [f"{n}: not measured" for n in missing]


def main(argv=None):
    # a terminated run still stops its JVM: `call` kills it on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        build = ensure_build()
        t0 = time.monotonic()
        stamp = time.strftime("%Y%m%dT%H%M%S")
        run = STATE / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
        work = STATE / "work" / str(os.getpid())
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        run.mkdir(parents=True)
        try:
            rc = call(jvm_cmd(build, [
                args.workload, str(args.seed), str(args.trace),
                str(host_cores()), str(build / "inputs"), str(build / "corpus"),
                str(work), str(run / "raw.json")], work,
                f"-XX:SharedArchiveFile={build / 'classes.jsa'}"),
                run / "jvm.log", RUN_LIMIT_S - (time.monotonic() - t0))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if rc != 0 or not (run / "raw.json").exists():
            raise BenchError(f"runner exited with {rc}; log: {run / 'jvm.log'}")
        raw = json.loads((run / "raw.json").read_text())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    expected = json.loads((BENCH / "expected.json").read_text())
    result, table, failures = summarize(raw, expected, args.workload, bool(args.trace))
    if args.trace:
        with open(run / "trace.jsonl", "w") as f:
            for rec in harness.trace_lines(raw):
                f.write(json.dumps(rec) + "\n")
    (run / "result.json").write_text(json.dumps(
        {**result, "workload": args.workload, "seed": args.seed,
         "cores": host_cores(), "heap": host_heap(),
         "spread": {n: {"median": m, "q1": a, "q3": b, "n": k}
                    for n, _, m, a, b, k in table},
         "failures": failures}, indent=1))
    print(f"workload={args.workload} seed={args.seed} cores={host_cores()} "
          f"heap={host_heap()} run={run.relative_to(ROOT)}")
    print(f"{'metric':34} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} {'n':>4}")
    for name, unit, med, q1, q3, n in table:
        print(f"{name:34} {unit:6} {med:12.4f} {q1:12.4f} {q3:12.4f} {n:4d}")
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
