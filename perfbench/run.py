"""Runs one benchmark workload and prints its result as the last line
of standard output (see perfbench/README.md).

    python3 perfbench/run.py --workload sql_interactive --seed 1 \
        --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), derives the
workload's input from the committed base tables, starts one JVM with a
private java.io.tmpdir and SPARK_LOCAL_DIRS, and deletes both when the
JVM has ended. `--record 1` rewrites the workload's expected-output
file instead of checking against it.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing next to the sources
import build  # noqa: E402

# Two task threads on a 4-vCPU host: with four, the task threads, the
# driver thread and the JIT compiler threads outnumber the cores, and
# pass times follow the OS scheduler and the neighbours' load more than
# the program.
CORES = "2"
# The program's own JVM options (build.sbt), with a fixed heap and a
# fixed young generation, so that peak_rss_mb and GC work do not follow
# G1's adaptive sizing from run to run, and no hsperfdata file outside
# the checkout. JIT compiler threads are kept alive for the whole run:
# cpu_s subtracts their CPU per thread, and the CPU of a compiler thread
# that the JVM stops during a pass would be counted as the program's.
JVM_OPTS = [
    "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
JVM_TIMEOUT_S = 170


def java(cp, main, args, run, env):
    """Runs one JVM in `run` with `run/tmp` as its java.io.tmpdir and
    returns its exit code; the JVM is killed and reaped if it outlives
    JVM_TIMEOUT_S or this process is interrupted."""
    opts = JVM_OPTS + [f"-Djava.io.tmpdir={run / 'tmp'}"]
    p = subprocess.Popen(["java"] + opts + ["-cp", cp, main] + args,
                         cwd=run, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {main} timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def derived_data(cp, base, factor, env, run):
    """The base tables scaled by `factor` with the program's ScaleData,
    cached under .bench_build per program build."""
    if factor == 1:
        return base
    stamp = (build.CLASSES / ".stamp").read_text()[:16]
    dst = build.BUILD / "data" / stamp / f"{base.name}x{factor}"
    if not (dst / "_DONE").is_file():
        shutil.rmtree(dst, ignore_errors=True)
        rc = java(cp, "graft.ScaleData", [str(base), str(dst), str(factor)], run, env)
        if rc != 0:
            sys.exit(f"perfbench: input derivation failed ({rc})")
        (dst / "_DONE").write_text("")
    return dst


def main():
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    base = HERE / "data" / w["base"]
    if not base.is_dir():
        sys.exit(f"perfbench: base tables {base} missing")

    classes = build.build()
    cp = os.pathsep.join([str(classes)] + build.classpath())

    run = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    tmp, local = run / "tmp", run / "local"
    try:
        for d in (tmp, local):
            d.mkdir(parents=True)
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(local), SPARK_GRAFT_CPUS=CORES)
        env.pop("JAVA_TOOL_OPTIONS", None)  # the JVM options are JVM_OPTS only
        data = derived_data(cp, base, w["scale"], env, run)
        out_dir = build.BUILD / "out"
        out_dir.mkdir(parents=True, exist_ok=True)
        result_file = run / "result.json"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", str(data), "--entries", ",".join(w["entries"]),
                "--expected", str(HERE / "expected" / f"{a.workload}.tsv"),
                "--out", str(result_file), "--record", str(a.record),
                "--trace-out", str(out_dir / f"trace-{a.workload}-seed{a.seed}.json"),
                "--scale-src", str(base), "--scale-factor", str(w["scale"])]
        rc = java(cp, "perfbench.Runner", args, run, env)
        if rc != 0 or not result_file.is_file():
            sys.exit(f"perfbench: run failed ({rc})")
        r = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(run, ignore_errors=True)

    info = r.pop("info")
    print(json.dumps(info))
    summary = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in r["metrics"].items())
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {summary} "
          f"failed_frac={info['failed_frac']} (attempted {r['attempted']}) "
          f"entry samples={info['entry_samples']} verified={info['verified']}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
