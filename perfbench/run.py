#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run builds: it compiles the
engine (`src/main/scala`) and the benchmark (`perfbench/src`) with the
Scala compiler that ships with Spark, and generates the input tables.
Build outputs live under `perfbench/.work/`. Each run starts one JVM with
Spark in-process on `local[nproc]`, prints every metric with its unit,
and ends with one JSON line: correct, attempted, failed, metrics.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see BENCHMARK.json and perfbench/spec.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(WORK, "data")
CLASSES = os.path.join(WORK, "classes")


def spark_home():
    """SPARK_HOME, or the first Spark distribution (bin/spark-submit next
    to jars/) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
HEAP = "3g"
RUN_TIMEOUT_S = 170
# a fixed-size young generation that every collection reuses: the
# high-water RSS then follows live data rather than the default collector's
# adaptive region sizing, which spread peak_rss_mb by a third between runs;
# metaspace is sized so that class loading triggers no full collection
GC = ["-XX:+UseParallelGC", "-Xmn256m", "-XX:MetaspaceSize=256m"]
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every input of the build, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out) + [os.path.join(HERE, "gen_data.py")]


def scalac(out_dir, classpath, files):
    os.makedirs(out_dir, exist_ok=True)
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
           os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def build():
    """Compile and generate inputs unless the stamp says it is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) next to perfbench/")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS!r} (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    shutil.rmtree(DATA, ignore_errors=True)
    jars = os.path.join(SPARK_JARS, "*")
    engine = [p for p in sources() if p.endswith(".scala")
              and p.startswith(os.path.join(ROOT, "src"))]
    bench = [p for p in sources() if p.endswith(".scala")
             and p.startswith(os.path.join(HERE, "src"))]
    scalac(os.path.join(CLASSES, "engine"), jars, engine)
    scalac(os.path.join(CLASSES, "bench"),
           os.path.join(CLASSES, "engine") + os.pathsep + jars, bench)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"),
                    "--out", DATA], check=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the steal column of /proc/stat), or None where it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def java(args, cores, log_path):
    """Runs the benchmark JVM; returns its exit code."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join([os.path.join(CLASSES, "bench"),
                          os.path.join(CLASSES, "engine"),
                          os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(SPARK_JARS, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData"] + opens +
           [f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}"] + GC +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-cp", cp, "perfbench.Main"] + args + ["--cores", str(cores)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=tmp, env=env)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
    shutil.rmtree(tmp, ignore_errors=True)
    return code


def spec():
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def write_inputs(workload):
    """Query list and certified results of a batch workload, as TSV."""
    s = spec()
    qpath = os.path.join(WORK, f"queries-{workload}.tsv")
    cpath = os.path.join(WORK, "certified.tsv")
    with open(qpath, "w") as f:
        for fam, names in s["workloads"][workload]["families"].items():
            for q in names:
                f.write(f"{q}\t{fam}\n")
    with open(os.path.join(HERE, "certified.json")) as f:
        cert = json.load(f)
    with open(cpath, "w") as f:
        for q, c in sorted(cert["queries"].items()):
            f.write(f"{q}\t{c['rows']}\t{c['fingerprint']}\n")
    return qpath, cpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "stream_windows", "stream_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark local cores (default: nproc)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build()
    cores = a.cores or nproc()
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    out = os.path.join(WORK, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    log = os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    if os.path.exists(out):
        os.remove(out)
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--work", WORK, "--out", out]
    if a.workload == "catalog":
        q, c = write_inputs(a.workload)
        args += ["--queries", q, "--certified", c]
    t0 = time.time()
    steal0 = steal_s()
    code = java(args, cores, log)
    steal1 = steal_s()
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited with {code}; log tail:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    # the per-layer metrics of the layers this workload drives; every other
    # per-layer metric is printed as n/a and reported as 0
    uses = ({m["name"] for m in wanted} if not a.trace
            else set(spec()["per_layer_by_workload"][a.workload]))
    if set(res["metrics"]) != uses:
        fail(f"metrics differ from spec.json: missing "
             f"{sorted(uses - set(res['metrics']))}, unexpected "
             f"{sorted(set(res['metrics']) - uses)}")
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0.0,
                              "unit": m["unit"]}
        shown = f"{got['value']:.6g}" if got else "n/a"
        print(f"{m['name']} = {shown} {m['unit']}")
    frac = res["failed"] / max(1, res["attempted"])
    print(f"failed_frac = {frac:.6g} ({res['failed']}/{res['attempted']})")
    for note in res.get("notes", [])[:20]:
        print(f"note: {note}")
    context = dict(res.get("context", {}))
    if steal0 is not None and steal1 is not None:
        # CPU stolen by other guests during the run: a slow run with a high
        # value was slowed by the machine, not by the program
        context["steal_s"] = round(steal1 - steal0, 2)
    print("context: " + json.dumps(context, sort_keys=True))
    print(f"run took {time.time() - t0:.1f} s; log {os.path.relpath(log, ROOT)}")
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
