#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

Builds the program from source, runs one workload closed-loop in a single
JVM (one client, one operation at a time, on local[<cores>]), checks every
operation's output, and prints the metrics. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run it from the repository root. Everything it builds, generates or writes
goes under `.perfbench/` there. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen_excel  # noqa: E402
import layers  # noqa: E402

DEADLINE_S = 165
RUN_DATE = "2024-04-01"
# the JVM options build.sbt passes to forked runs
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars build.sbt compiles against (its `unmanagedBase`, or
    $SPARK_HOME/jars when set); they carry the matching Scala compiler."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("perfbench: build.sbt names no unmanagedBase; "
                             "set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler "
                         "under %s" % jars)
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    res = sorted(p for p in glob.glob(
        os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
        if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    return prog, res, harness


def scalac(jars, out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")


def build(jars):
    """Compile the program and the harness, once per source state."""
    prog, res, harness = sources()
    h = hashlib.sha1()
    for p in prog + res + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    out = os.path.join(STATE, "build", h.hexdigest()[:16])
    classes, hcls = os.path.join(out, "classes"), os.path.join(out, "harness")
    cp = os.pathsep.join([hcls, classes, os.path.join(jars, "*")])
    if os.path.exists(os.path.join(out, "ok")):
        return cp
    shutil.rmtree(os.path.join(STATE, "build"), ignore_errors=True)
    t0 = time.time()
    scalac(jars, classes, os.path.join(jars, "*"), prog)
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(jars, hcls, os.pathsep.join([classes, os.path.join(jars, "*")]),
           harness)
    open(os.path.join(out, "ok"), "w").close()
    log("built in %.0f s" % (time.time() - t0))
    return cp


def heap_mb():
    """A quarter of this machine's memory, between 1 and 3 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(1024, min(3072, kb // 4096))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def segment_counts(sf_dir):
    """Rows Download writes per segment and Upload("ALL") writes, counted
    with DuckDB straight from the parquet files."""
    import duckdb
    con = duckdb.connect()
    seg = dict(con.execute(
        "SELECT c_mktsegment, count(*) FROM read_parquet('%s/orders.parquet') o "
        "JOIN read_parquet('%s/customer.parquet') c ON o.o_custkey = c.c_custkey "
        "GROUP BY 1" % (sf_dir, sf_dir)).fetchall())
    cust = dict(con.execute(
        "SELECT c_mktsegment, count(*) FROM read_parquet('%s/customer.parquet') "
        "GROUP BY 1" % sf_dir).fetchall())
    return seg, cust


def excel_inputs(work, seed, sf_dir):
    gen = gen_excel.generate(work, seed)
    seg, cust = segment_counts(sf_dir)
    segments = gen_excel.SEGMENTS
    return {
        "spec": {
            "q1": gen["paths"]["q1"], "q2": gen["paths"]["q2"],
            "template": gen["paths"]["template"], "key": gen_excel.KEY,
            "compare": "|".join(gen_excel.COMPARE),
            "word_diff": "|".join(gen_excel.WORD_DIFF),
            "segments": ",".join(segments), "run_date": RUN_DATE,
        },
        "expect": {
            "status": gen["expected"]["status"],
            "marks": gen["expected"]["marks"],
            "cells_read": gen["cells"],
            "download": {s: seg.get(s, 0) for s in segments},
            "upload": sum(cust.get(s, 0) for s in segments),
            "customers": sum(cust.values()),
        },
    }


def run_jvm(cp, spec_path, heap, timeout):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms%dm" % heap, "-Xmx%dm" % heap, "-Xss4m",
           "-XX:+UseG1GC", "-Djava.io.tmpdir=" + spec_path + ".tmp",
           "-Dderby.stream.error.file=" + spec_path + ".derby.log",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_path]
    os.makedirs(spec_path + ".tmp", exist_ok=True)
    with open(spec_path + ".log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=os.path.dirname(spec_path))
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: the run exceeded %d s" % timeout)
    if rc != 0:
        with open(spec_path + ".log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: harness exited with %d" % rc)


def harness(cp, workload, seed, seconds, trace, spec, deadline):
    """Run the JVM harness for one workload; returns its result and what
    the checks expect."""
    w = spec["workloads"][workload]
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sf_dir = os.path.join(HERE, "data", spec["sf"])
    props = {"workload": workload, "seed": seed, "seconds": seconds,
             "trace": trace, "cores": cores(), "sf_dir": sf_dir,
             "work_dir": work, "out": os.path.join(work, "result.json")}
    props["tables"] = ",".join(w["tables"])
    if workload == "excel-roundtrip":
        inp = excel_inputs(work, seed, sf_dir)
        props.update(inp["spec"])
        expect = inp["expect"]
    else:
        props["queries"] = ",".join(w["queries"])
        with open(os.path.join(HERE, "expected.json")) as f:
            expect = json.load(f)
    spec_path = os.path.join(work, "spec.properties")
    with open(spec_path, "w") as f:
        for k, v in props.items():
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
    run_jvm(cp, spec_path, heap_mb(),
            timeout=max(30, deadline - time.time()))
    with open(props["out"]) as f:
        return json.load(f), expect


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        raise SystemExit("perfbench: unknown workload %r" % a.workload)
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        raise SystemExit("perfbench: no program sources under %s/src/main/scala"
                         % ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    cp = build(spark_jars())

    # the first run of a checkout also builds; the run itself gets the
    # same budget either way
    result, expect = harness(cp, a.workload, a.seed, a.seconds, a.trace,
                             spec, deadline=time.time() + DEADLINE_S)
    heap = result["meta"]["heap_max_mb"]
    report = layers.score(a.workload, result, expect, declared,
                          trace=bool(a.trace))
    meta = dict(result["meta"], sf=spec["sf"])
    print("perfbench %s seed=%d trace=%d cores=%d heap=%dMB sf=%s spark=%s"
          % (a.workload, a.seed, a.trace, meta["cores"], heap, spec["sf"],
             meta["spark"]))
    for line in report["lines"]:
        print("  " + line)
    if a.trace:
        side = os.path.join(STATE, "trace", "%s-seed%d.json"
                            % (a.workload, a.seed))
        os.makedirs(os.path.dirname(side), exist_ok=True)
        with open(side, "w") as f:
            json.dump({"meta": meta, "ops": report["sidecar"],
                       "layers": report["metrics"]}, f, indent=1)
        print("  trace sidecar: " + os.path.relpath(side, ROOT))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": report["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
