#!/usr/bin/env python3
"""Runs one workload of the graft wire-to-commit benchmark.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. It compiles graft's main
sources together with the harness in perfbench/src (once per source
tree; `sbt` and `$SPARK_HOME` are needed), runs the workload in one JVM
with a local Spark session, checks every output (DuckDB runs the
registered oracles), and prints one JSON line last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything else the run produces
(context, the workload's own metric names, spans, logs) lands under
perfbench/out/<run>/ and nowhere else. The exit code is 1 when a check
failed and 2 when the benchmark could not run at all.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# class-data-sharing archive of the classes a run loads: class loading
# from ~300 jars dominates JVM start-up, so the build records it once and
# every run maps it
CDS = os.path.join(HERE, "target", "perfbench.jsa")
WORKLOADS = ["cdc_upsert", "cdc_neardup", "analytics_mix", "ann_serving"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compiles graft + harness with sbt unless this source tree is built;
    says whether it compiled."""
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return False
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                             cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); see {log}")
    record_classes(digest)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return True


def record_classes(digest):
    """Records the class-data-sharing archive with a short cdc_upsert run,
    whose session, streaming, shuffle and parquet classes every workload
    loads; its result is discarded."""
    if os.path.exists(CDS):
        os.remove(CDS)
    out = os.path.join(OUT, "cds-record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = argparse.Namespace(workload="cdc_upsert", seed=0, seconds=1, trace=0, digest=digest)
    run_jvm(args, out, time.time() + RUN_LIMIT_S, f"-XX:ArchiveClassesAtExit={CDS}")
    shutil.rmtree(out, ignore_errors=True)
    if not os.path.exists(CDS):
        die("recording the class-data-sharing archive failed")


def load1():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def other_jvms():
    n = 0
    for p in glob.glob("/proc/[0-9]*/comm"):
        try:
            n += open(p).read().strip() == "java"
        except OSError:
            pass
    return n


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, out, deadline, cds=f"-XX:SharedArchiveFile={CDS}"):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark installation")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", cds]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    cmd += ["-cp", ":".join([JAR] + jars), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
            "--cache", os.path.join(OUT, "cache", args.digest[:16])]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"workload did not finish in time; see {out}/jvm.log")
    path = os.path.join(out, "result.json")
    if not os.path.exists(path):
        sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-4000:])
        die(f"the JVM wrote no result (exit {p.returncode})")
    return json.load(open(path))


def check_oracles(res):
    """Runs each registered oracle in DuckDB over the run's generated
    tables and compares it row by row with the saved Spark result."""
    if not res["oracles"]:
        return
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # no __pycache__ beside tools/check.py
    from check import frame  # the repo's own oracle comparison
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql(f"SET threads={os.cpu_count()}")
    data = res["info"]["data_dir"]
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}/*.parquet')")
    for o in res["oracles"]:
        why = None
        try:
            scols, srows = frame(con.sql(
                f"SELECT * FROM read_parquet('{o['result']}/*.parquet')"))
            dcols, drows = frame(con.sql(o["sql"]))
            if scols != dcols:
                why = f"columns differ: spark={scols} duckdb={dcols}"
            elif srows != drows:
                bad = next((i for i, (a, b) in enumerate(zip(srows, drows)) if a != b),
                           min(len(srows), len(drows)))
                why = (f"{len(srows)} vs {len(drows)} rows, first difference at row {bad}")
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle compare raised {e}"
        if why:
            res["failed"] += o["units"]
            res["failures"].append(f"{o['name']}: {why}")


def overhead(context, traced_e2e):
    """Traced minus untraced end-to-end numbers, from the latest untraced
    run of the same workload, seed and sources under perfbench/out."""
    runs = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(
        OUT, f"{context['workload']}-seed{context['seed']}-trace0-*", "summary.json")))]
    runs = [r for r in runs if r["context"]["source_sha256"] == context["source_sha256"]]
    if not runs:
        return None
    base = runs[-1]["e2e"]
    return {k: {"traced": v["value"], "untraced": base[k]["value"],
                "delta": v["value"] - base[k]["value"], "unit": v["unit"]}
            for k, v in traced_e2e.items() if k in base}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no graft sources under {ROOT}/src/main/scala; run from a graft checkout")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    digest = args.digest = source_digest()
    if build(digest):
        start = time.time()  # the build has its own budget
    out = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    os.makedirs(out)
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": os.cpu_count(),
               "spark_cores": os.cpu_count(), "load1_before": load1(),
               "other_jvms": other_jvms(), "git_commit": git_commit(),
               "source_sha256": digest}
    t0 = time.time()
    res = run_jvm(args, out, start + RUN_LIMIT_S)
    t1 = time.time()
    check_oracles(res)
    print(f"perfbench: jvm {t1 - t0:.1f} s, oracles {time.time() - t1:.1f} s", file=sys.stderr)
    context["load1_after"] = load1()
    res["info"]["error_rate"] = res["failed"] / max(1, res["attempted"])
    if args.trace:
        layer = res["layer"]
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name.startswith("traced."):
                v = res["e2e"].get(name[len("traced."):], {"value": 0.0})["value"]
            else:
                v = layer.get(name, {"value": 0.0})["value"]  # layer not on this path
            metrics[name] = {"value": v, "unit": m["unit"]}
        res["info"]["tracing_overhead"] = overhead(context, res["e2e"])
    else:  # a run that threw may lack some; it is not correct anyway
        metrics = {m["name"]: {"value": res["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in res["e2e"]}
    summary = {"context": context, "attempted": res["attempted"], "failed": res["failed"],
               "failures": res["failures"], "e2e": res["e2e"], "layer": res["layer"],
               "info": res["info"]}
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    for k, v in res["info"].items():
        print(f"perfbench: {k} = {json.dumps(v)}", file=sys.stderr)
    for f in res["failures"][:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    for d in os.listdir(out):  # generated data and state; the files stay
        if os.path.isdir(os.path.join(out, d)):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    ok = res["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
