"""graft benchmark: one seeded workload through graft's public API.

    python3 perfbench/run.py --workload catalog_refresh --seed 1 \
        --seconds 10 --trace 0

Builds graft and the benchmark program from source on first use
(perfbench/build.py), runs the program in one JVM with Spark in local mode
on every available core, and prints one JSON object as the last line of
stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the spans of the traced batches are written to
.bench_build/traces/<workload>-seed<seed>.spans.jsonl.

Everything the run writes stays under .bench_build/ in the checkout; the
run's work directory is removed at exit. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("catalog_refresh", "corpus_curation", "table_maintenance")
# the JVM's time limit, after the build
JVM_LIMIT_S = 170.0
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--break-input", action="store_true",
                   help="point catalog_refresh at a missing delta dump "
                        "(the failure-accounting self-test)")
    return p.parse_args()


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run(a) -> dict:
    classes = build.build()
    out = build.OUT
    work = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work.parent / f"{work.name}.log"
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.spark_jars()}/*",
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out / "traces"),
              "--cpus", str(cpus()),
              "--break-input", "1" if a.break_input else "0"])
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    text=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit(f"run: benchmark JVM exceeded {JVM_LIMIT_S:.0f} s")
        sys.stderr.write("".join(l for l in open(log)
                                 if l.startswith("[perfbench]")))
        if proc.returncode != 0:
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"run: benchmark JVM exited with {proc.returncode}")
        lines = [l for l in stdout.splitlines() if l.strip()]
        if not lines:
            raise SystemExit("run: benchmark JVM printed no result")
        log.unlink()
        return json.loads(lines[-1])
    finally:
        # never leave the JVM behind, whatever ended this run
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    res = run(parse())
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"run: malformed result {res}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
