#!/usr/bin/env python3
"""Benchmark runner for the graft engine and its pipeline operators.

    python3 perfbench/run.py --workload dml_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. It compiles src/main and the harness with
the Scala compiler shipped in Spark's jars (into .bench_build, only when
sources changed), generates the seeded inputs, runs the workload in one
JVM, checks every answer against DuckDB outside the timed window, and
prints one JSON result as the last line of standard output. See
perfbench/README.md.
"""
import argparse
import contextlib
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
JVM_HEAP = "4g"
RUN_LIMIT_S = 170  # whole run after the build, including the oracle checks

WORKLOADS = {
    "dml_mixed": ["orders"],
    "pipeline_batch": ["documents", "events"],
}

# input scale (1.0 is sf0.1). The pipeline entries run at sf0.01, to fit
# the per-run time budget (perfbench/README.md)
SCALE = {"dml_mixed": 1.0, "pipeline_batch": 0.1}

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


class Refused(Exception):
    """The benchmark cannot run here; the message says why."""


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars(root):
    """Spark's jars directory: $SPARK_HOME/jars, or else the directory
    build.sbt compiles the program against (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise Refused("no Spark jars with a Scala compiler in %r "
                      "(set SPARK_HOME)" % jars)
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@contextlib.contextmanager
def locked(path):
    with open(path, "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


def compile_scala(srcs, out, classpath, build_dir):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=build_dir, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise Refused("compiling %s failed:\n%s" % (out, p.stdout[-3000:]))
    log("compiled %d files into %s in %.1fs" % (len(srcs), out,
                                                time.time() - t0))


def build(root):
    """Compile the program and the harness when their sources changed;
    return (classpath, source digest)."""
    prog = scala_sources(os.path.join(root, "src", "main", "scala"))
    if not prog:
        raise Refused("no program sources under src/main/scala: run from "
                      "the repository root")
    jars = spark_jars(root)
    bench = scala_sources(os.path.join(HERE, "scala"))
    build_dir = os.path.join(root, BUILD)
    os.makedirs(build_dir, exist_ok=True)
    classes = os.path.join(build_dir, "classes")
    bench_classes = os.path.join(build_dir, "bench-classes")
    prog_digest = digest(prog)
    newest = max(os.path.getmtime(p) for p in prog)
    with locked(os.path.join(build_dir, "build.lock")):
        for out, srcs, cp, key in (
                (classes, prog, jars, prog_digest),
                (bench_classes, bench, classes + os.pathsep + jars,
                 digest(bench, prog_digest))):
            stamp = out + ".stamp"
            fresh = (os.path.exists(stamp) and open(stamp).read() == key
                     and os.path.getmtime(stamp) >= newest)
            if not fresh:
                compile_scala(srcs, out, cp, build_dir)
                with open(stamp, "w") as f:
                    f.write(key)
        # the harness refuses classes older than the program sources
        if os.path.getmtime(classes + ".stamp") < max(
                os.path.getmtime(p) for p in prog):
            raise Refused("compiled classes are older than src/main")
    return os.pathsep.join([bench_classes, classes, jars]), prog_digest


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------ the JVM

def run_jvm(classpath, main, jvm_args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # no perf-data file in /tmp: the run writes only inside the checkout
    cmd = [java(), "-XX:-UsePerfData", "-Xmx" + JVM_HEAP, "-Xss4m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", classpath, main] + jvm_args
    logpath = os.path.join(work, "jvm.log")
    with open(logpath, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        old = signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
        try:
            code = p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            stop()
            raise Refused("the JVM did not finish within %ds" % timeout)
        except BaseException:
            stop()
            raise
        finally:
            signal.signal(signal.SIGTERM, old)
    if code != 0:
        with open(logpath, errors="replace") as f:
            tail = f.read()[-3000:]
        raise Refused("the JVM exited with code %d:\n%s" % (code, tail))


# ------------------------------------------------------------ summary

def class_summaries(samples):
    return {c: stats.summary(xs) for c, xs in sorted(samples.items())}


def tally(res, wrong_entries=(), check_failures=0):
    """Count attempted and failed operations. An operation fails when
    it threw, got an ERR packet, timed out, or returned a wrong answer;
    failed operations never enter the latency samples. The JVM records
    failed warm-up statements as operations too, and failed checks made
    here (final state, entry answers) count as failed attempts. Returns
    (attempted, failed, samples by class)."""
    samples = {}
    failed = 0
    for op in res["ops"]:
        if not op["ok"] or op["cls"] in wrong_entries:
            failed += 1
            continue
        samples.setdefault(op["cls"], []).append(op["ms"])
    return (len(res["ops"]) + check_failures, failed + check_failures,
            samples)


def latency_group(cls):
    """The class an operation's latency is pooled in for the geometric
    mean: its pipeline entry, or for DML statements the kind (point read
    or write) and the table (pk or kv)."""
    if cls.startswith(("insert_", "update_", "delete_")):
        return "write_" + cls.rsplit("_", 1)[1]
    return cls


def end_to_end(res, samples):
    """The workload-independent metrics. Latency is the geometric mean
    over latency groups (see latency_group) of each group's median, so
    that a fixed class mix gives a steady figure and every group's
    change shows in it. OPTIMIZE is left out of latency."""
    groups = {}
    for c, xs in samples.items():
        if not c.startswith("optimize"):
            groups.setdefault(latency_group(c), []).extend(xs)
    medians = [stats.median(xs) for xs in groups.values()]
    done = sum(len(xs) for xs in samples.values())
    setup = res["setup"]
    return {
        "setup_s": res["spark_s"] + setup["load_s"] + setup["warm_s"],
        "p50_geomean_ms": stats.geomean(medians) if medians else None,
        "ops_per_s": done / res["window_s"] if res.get("window_s") else None,
        "cpu_ms_per_op": res["window_cpu_ms"] / done if done else None,
        "mem_live_mb": res["mem_live_mb"],
    }


def workload_detail(workload, res, samples):
    """The per-workload numbers behind the generic metrics."""
    def pooled(pred):
        return stats.summary([x for c, xs in samples.items() if pred(c)
                              for x in xs])
    if workload == "dml_mixed":
        writes = ("insert", "update", "delete")
        return {"point": pooled(lambda c: c.startswith("point")),
                "write": pooled(lambda c: c.startswith(writes)),
                "optimize": pooled(lambda c: c.startswith("optimize")),
                "space_amp": res.get("space_amp")}
    per_entry = {c: stats.median(xs) for c, xs in samples.items()}
    return {"batch_s": sum(per_entry.values()) / 1000.0,
            "passes": res.get("passes"), "entry_ms": per_entry}


def run_checks(workload, res, data):
    """(wrong entries, failed checks, notes)."""
    if workload == "dml_mixed":
        # the final state of every warehouse the run wrote to
        errs = [oracle.check_dml(data, res["log"], f) for f in res["finals"]]
        return set(), sum(1 for e in errs if e), {"final_state": errs}
    con = oracle.connect(data, WORKLOADS[workload])
    try:
        verdict = oracle.check_entries(con, res["entries"])
    finally:
        con.close()
    wrong = {n for n, err in verdict.items() if err}
    return wrong, len(wrong), {"entries": verdict}


def benchmark_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def inputs(root, workload, seed):
    """The generated tables for (workload, seed), made once and kept
    under the build directory, keyed by the generator's own digest."""
    key = digest([os.path.join(HERE, "datagen.py")])[:12]
    tables = WORKLOADS[workload]
    d = os.path.join(root, BUILD, "data", key, "%d-%s" % (seed, SCALE[workload]))
    meta = os.path.join(d, "sizes.json")
    sizes = {}
    if os.path.exists(meta):
        with open(meta) as f:
            sizes = json.load(f)
    todo = [t for t in tables if t not in sizes]
    if todo:
        sizes.update(datagen.generate(seed, d, todo, SCALE[workload]))
        with open(meta + ".tmp", "w") as f:
            json.dump(sizes, f)
        os.replace(meta + ".tmp", meta)
    return d, {t: sizes[t] for t in tables}


def main_run(a):
    root = os.getcwd()
    spec = benchmark_spec(root)
    classpath, src_digest = build(root)
    t_start = time.time()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, BUILD, "runs", "%s-%d-%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    with locked(os.path.join(root, BUILD, "data.lock")):
        data, sizes = inputs(root, a.workload, a.seed)
    try:
        out = os.path.join(work, "result.json")
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", data, "--work", work, "--out", out,
                    "--cpus", str(cpus)]
        run_jvm(classpath, "perfbench.Main", jvm_args, work,
                RUN_LIMIT_S - 15 - (time.time() - t_start))
        with open(out) as f:
            res = json.load(f)
        wrong_e, check_fail, notes = run_checks(a.workload, res, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, samples = tally(res, wrong_e, check_fail)
    if a.trace:
        layers = res.get("layers", {})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        e2e = end_to_end(res, samples)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "env": res["env"], "git_commit": git_commit(root),
        "source_sha256": src_digest, "inputs": sizes,
        "setup": dict(res["setup"], spark_s=res["spark_s"]),
        "classes": class_summaries(samples),
        "workload_metrics": workload_detail(a.workload, res, samples),
        "fail_ratio": failed / attempted if attempted else None,
        "mem_peak_mb": res["mem_peak_mb"],
        "checks": notes, "failed_ops": [o for o in res["ops"] if not o["ok"]][:20],
        "metrics": metrics,
    }
    os.makedirs(os.path.join(root, BUILD, "results"), exist_ok=True)
    with open(os.path.join(root, BUILD, "results", "%s-s%d-t%d.json" % (
            a.workload, a.seed, a.trace)), "w") as f:
        json.dump(dict(detail, ops=res["ops"], spans=res["spans"]), f,
                  indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    if missing:
        raise Refused("no value for %s" % ", ".join(missing))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def main_self_test():
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    root = os.getcwd()
    classpath, _ = build(root)
    work = os.path.join(root, BUILD, "runs", "selftest-%d" % os.getpid())
    try:
        run_jvm(classpath, "perfbench.SelfTest",
                ["--work", work, "--cpus", "2"], work, RUN_LIMIT_S)
        with open(os.path.join(work, "jvm.log")) as f:
            lines = [ln for ln in f if ln.startswith("[selftest]")]
        print("".join(lines), end="")
    except Refused as e:
        log(str(e))
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-test %s" % ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args(argv)
    try:
        if a.self_test:
            return main_self_test()
        if not a.workload:
            p.error("--workload is required")
        main_run(a)
        return 0
    except Refused as e:
        log("refused: %s" % e)
        return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
