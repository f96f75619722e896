#!/usr/bin/env python3
"""The pipeline benchmark: one seeded workload per call, through the
program's public entry points, with every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):
  curation_run   CorpusCurationJob.run over seeded documents
  ann_serve      VectorOps.ivfPqTopK serve batches against a stored index
A traced curation_run also drives StreamingJobs.nearDupStream (back-to-back
AvailableNow batches) and a traced ann_serve run WeeklyReportJob.runReport:
their layers are measured, but a timed workload of their own does not fit
the benchmark's time budget on a 4-core box.

The first call in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt); later calls reuse the build while
the sources are unchanged. perfbench/gen.py makes the inputs from the seed
(farm fleets are cut from a GenFarms base the JVM writes once) and caches
them under perfbench/.work/inputs; the work of one run goes to
perfbench/.work/run, its full record and spans to perfbench/.work/records.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics; with --trace 1 the per-layer
metrics of a traced run (every per-layer metric of BENCHMARK.json; a
layer the workload does not exercise reports 0). perfbench/layers.json
names, for each per-layer metric, the end-to-end metric it should move.
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
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("curation_run", "ann_serve")
JVM_TIMEOUT_S = 840
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SOURCES, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark unless the last build saw
    the same sources."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if (os.path.isdir(CLASSES) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "compile"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-6000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.0f} s")


def other_jvms():
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                pass
    return n


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def environment():
    return {"env.loadavg_1m": os.getloadavg()[0],
            "env.nproc": len(os.sched_getaffinity(0)),
            "env.other_jvms": other_jvms()}


def run_jvm(main_args, run_dir):
    """Run perfbench.Main in its own JVM with `run_dir` as working and
    temporary directory; its log goes to perfbench/.work/jvm.log."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise SystemExit("perfbench: SPARK_HOME must name a Spark 4 install")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{os.path.join(spark_home, 'jars', '*')}", "perfbench.Main"]
    jvm_log = os.path.join(WORK, "jvm.log")
    with open(jvm_log, "w") as fh:
        try:
            done = subprocess.run(cmd + main_args, stdout=fh, stderr=subprocess.STDOUT,
                                  cwd=run_dir, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: the benchmark JVM ran past {JVM_TIMEOUT_S} s")
    if done.returncode != 0:
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: the benchmark JVM failed (exit {done.returncode})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are not "
                         "next to perfbench/; run from a checkout of the repository")
    sys.path.insert(0, HERE)
    import checks
    import gen

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    root = os.path.join(WORK, "inputs")
    if not all(os.path.exists(os.path.join(root, b, "_READY")) for b in gen.BASES):
        log("generating the input bases (once per checkout)")
        run_jvm(["--bases", root], run_dir)
    t0 = time.time()
    inputs = gen.inputs_for(args.workload, root, args.seed, args.trace)
    log(f"inputs ready in {time.time() - t0:.1f} s")
    env = environment()
    result_path = os.path.join(run_dir, "result.json")
    main_args = ["--workload", args.workload, "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--work", run_dir, "--result", result_path]
    for k, v in inputs.items():
        main_args += [f"--in.{k}", v]
    steal0, total0 = cpu_ticks()
    run_jvm(main_args, run_dir)
    steal1, total1 = cpu_ticks()
    env["env.cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    with open(result_path) as fh:
        result = json.load(fh)

    t0 = time.time()
    verdicts = checks.check(inputs, result)
    log(f"outputs checked in {time.time() - t0:.1f} s")
    failed = sum(1 for ok, _ in verdicts if not ok)
    e2e, tail = checks.end_to_end(result, verdicts)
    if args.trace:
        values = dict(result["layer"])
        values.update(env)
        missing = [n for n, owner in layers.items()
                   if args.workload in owner["workloads"] and n not in values]
        if missing:
            raise SystemExit(f"perfbench: traced run did not measure {missing}")
        values = {m["name"]: values.get(m["name"], 0.0) for m in bench["per_layer"]}
        listed = bench["per_layer"]
    else:
        values = e2e
        listed = bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in listed}

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "env": env, "end_to_end": e2e, "tail": tail,
              "verdicts": verdicts, "result": result}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records",
                            f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    log(f"{args.workload} seed={args.seed}: {len(verdicts)} ops, {failed} failed; "
        f"op_tail_ms is p{tail['tail_percentile']:.1f} of n={tail['tail_n']}; "
        f"load {env['env.loadavg_1m']:.2f}, steal {env['env.cpu_steal_share']:.3f}, "
        f"nproc {env['env.nproc']}, "
        f"other JVMs {env['env.other_jvms']}, calib {result['calib_s']:.3f} s")
    if args.trace:
        self_s = {k: v for k, v in result["layer"].items() if k.startswith("self.")}
        log("self time by layer: " + ", ".join(f"{k[5:-2]} {v:.3f} s"
                                               for k, v in sorted(self_s.items())))
        shutil.move(os.path.join(run_dir, "spans.jsonl"),
                    rec_path[:-len(".json")] + "-spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(verdicts),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
