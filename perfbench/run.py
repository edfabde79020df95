#!/usr/bin/env python3
"""One benchmark command for the graft engine: the reference ETL DAG, the
event stream and the operator suite, measured end to end (untraced runs)
and per layer (traced runs). See perfbench/README.md.

  python3 perfbench/run.py --workload NAME|all --seed N --seconds N --trace 0|1
                           [--cpus N] [--record PATH]

Run from the repository root. The first run compiles the engine and the
benchmark from source into .bench_build/ (scalac from the Spark jars the
root build uses); later runs reuse the classes while the sources are
unchanged. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Exit code 0 only when every
operation succeeded and every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import hashes  # noqa: E402

WORKLOADS = ["etl_daily", "events_stream", "ops_sf001"]
ETL_ROWS = 50000
BACKLOG_EVENTS = 160000
JVM_TIMEOUT_S = 165
# a copy of the sf0.01 test corpus the engine's correctness gate
# (tools/gate.sh) runs on, committed because a run reads only its checkout
OPS_DATA = os.path.join(HERE, "data", "sf0.01")

# (query, query object): one cheap query for each of 16 of the 21 query
# objects in SparkEntry (Analytics, ModelCuration, Pipeline, Retrieval and
# WindowsExt left out to keep one pass under ~20 s on 4 cores), with q45
# and q75 on the near-dup memo chain
# (ordered_sets -> q22_pairs -> component_labels, whose build runs
# minLabelPropagation), q193 on eps_raw_pairs and q26 on lsh_buckets.
OPS_QUERIES = [
    ("q193_thresh_calib", "Clustering"),
    ("q75_cluster_sizes", "CorpusStats"),
    ("q136_pad_sweep", "Curation"),
    ("q45_dedup_components", "Dedup"),
    ("q134_compaction_plan", "Layout"),
    ("q36_multimodal_meta", "MultimodalQ"),
    ("q73_price_histogram", "Profiling"),
    ("q03_top_orders", "Relational"),
    ("q32_cross_join", "RelationalExt"),
    ("q62_shipping_priority", "RelationalTpch"),
    ("q26_ann_lsh", "Similarity"),
    ("q28_sliding_window", "Streaming"),
    ("q37_asof_join", "Temporal"),
    ("q19_token_count", "TextOps"),
    ("q57_corpus_shuffle", "TrainingData"),
    ("q211_line_clean", "WebCuration"),
]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def spark_jars():
    """The jar directory the root build compiles against: $SPARK_HOME/jars,
    else build.sbt's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        for line in f:
            if line.startswith("unmanagedBase"):
                return line.split('file("')[1].split('")')[0]
    sys.exit("cannot locate the Spark jars: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        sys.exit("no engine sources under src/main/scala: run from a full checkout")
    return main + bench


def build():
    """Compile engine + benchmark with scalac unless the sources' hash
    matches the last build. Returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "c"))
    comp = [os.path.join(jars, j) for j in os.listdir(jars)
            if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp),
                    "scala.tools.nsc.Main", "-nowarn", "-cp", os.path.join(jars, "*"),
                    "-d", os.path.join(tmp, "c")] + srcs, check=True, stdout=sys.stderr)
    # one jar, since a class-data-sharing archive only maps jar entries
    subprocess.run(["jar", "cf", os.path.join(tmp, "perfbench.jar"), "-C",
                    os.path.join(tmp, "c"), "."], check=True)
    shutil.rmtree(os.path.join(tmp, "c"))
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    dump_archive(classes)
    return classes


def dump_archive(classes):
    """Write the class-data-sharing archive with one short etl_daily run,
    so every measured run starts from the same archive."""
    work = os.path.join(BUILD, "runs", f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm("etl_daily", 0, 1, 0, 1, classes, work, stage_inputs("etl_daily", 0, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stage_inputs(workload, seed, work):
    if workload == "etl_daily":
        d = os.path.join(work, "inputs")
        gen.customers(os.path.join(d, "customers.parquet"), seed, ETL_ROWS)
        return d
    if workload == "events_stream":
        d = os.path.join(work, "inputs")
        # the set-up drain's backlog, 8 files; also fixes the event schema
        gen.stream(os.path.join(d, "warm"), seed, time.time() - 2.0,
                   [(2.0, BACKLOG_EVENTS / 8.0)], 0.25, 1800.0,
                   os.path.join(work, "warm_gen.json"))
        # the standing backlog the capacity drain reads, 16 files
        gen.stream(os.path.join(d, "backlog"), seed + 1, time.time() - 4.0,
                   [(4.0, BACKLOG_EVENTS / 4.0)], 0.25, 1800.0,
                   os.path.join(work, "backlog_gen.json"))
        return d
    return OPS_DATA


def cds_opts(classes):
    """Class-data-sharing archive of the loaded classes, written right
    after a build (dump_archive) and mapped by every run: it cuts the
    JVM's class loading, most of a cold Spark start."""
    jsa = os.path.join(classes, "app.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return [f"-XX:ArchiveClassesAtExit={jsa}"]


def run_jvm(workload, seed, seconds, trace, cpus, classes, work, inputs):
    out = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: with G1's adaptive young sizing
    # the peak resident memory of one workload fell into two modes ~0.5 GB
    # apart from run to run
    cmd = ["java"] + JAVA_OPTS + [
        "-Xms2g", "-Xmx2g", "-Xmn768m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        *cds_opts(classes),
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", os.pathsep.join([os.path.join(classes, "perfbench.jar"),
                                os.path.join(spark_jars(), "*")]),
        "graft.perfbench.Main",
        f"workload={workload}", f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
        f"work={work}", f"inputs={inputs}", f"out={out}", f"etl_rows={ETL_ROWS}",
        f"gen={os.path.join(HERE, 'gen.py')}",
        "queries=" + ",".join(f"{q}:{o}" for q, o in OPS_QUERIES)]
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = -9
    log.close()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def check_ops(res):
    """Hash every ops output and compare with the committed oracle hashes."""
    with open(os.path.join(HERE, "expected_ops.json")) as f:
        expected = json.load(f)
    out = res["extra"]["ops_out"]
    bad = []
    for q, _ in OPS_QUERIES:
        files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
        got = hashes.parquet_hash(files) if files else None
        if got != expected.get(q):
            bad.append(q)
    res["checks"]["ops_hash_mismatch"] = bad
    res["checks"]["ops_hash_matched"] = len(OPS_QUERIES) - len(bad)
    for q in bad:
        res["failed"] += 1
        res["failures"].append(f"{q}: output hash differs from the DuckDB oracle's")


def run_one(workload, seed, seconds, trace, cpus, record):
    t_start = time.time()
    classes = build()
    # set-up runs from here (the build is cached per checkout) to the JVM's
    # first timed call: input staging, JVM start, session start, warmup
    t_setup = time.time()
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = stage_inputs(workload, seed, work)
        res = run_jvm(workload, seed, seconds, trace, cpus, classes, work, inputs)
        if workload == "ops_sf001":
            check_ops(res)
    finally:
        keep = os.environ.get("PERFBENCH_KEEP_WORK") == "1"
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    res["wall_s"] = time.time() - t_start
    res["e2e"]["setup_s"] = res["extra"]["first_timed_call_epoch_s"] - t_setup
    res["source"] = "file source stands in for the Kafka topic (no broker, no spark-sql-kafka jar)"
    if not trace:
        res["e2e"]["peak_rss_mb"] = res["evidence"]["peak_rss_mb"]
        res["e2e"]["error_rate"] = res["failed"] / max(1, res["attempted"])
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["e2e"].items()
                   if k != "error_rate"}
        for k, m in res["named"].items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
        for k, v in res["e2e"].items():
            print(f"{k} {v:.6g} {unit_of(k)}")
    else:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer_metrics(res).items()}
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    ev = res["evidence"]
    print(f"[perfbench] {workload} seed={seed} nproc={ev['nproc']} "
          f"SPARK_GRAFT_CPUS={ev['spark_graft_cpus']} load1m start/peak/end="
          f"{ev['load1m_start']:.2f}/{ev['load1m_peak']:.2f}/{ev['load1m_end']:.2f}"
          f"{' CONTENDED' if ev['contended'] else ''}")
    for f in res["failures"][:20]:
        print(f"[perfbench] FAILED {f}")
    path = record or os.path.join(BUILD, "records", f"{workload}_seed{seed}_trace{trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    return {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def unit_of(k):
    if k.endswith("per_s"):
        return "1/s"
    if k.endswith("_ms") or "_ms." in k:
        return "ms"
    if k.endswith("_s") or k.endswith(".s") or "_s." in k:
        return "s"
    if k.endswith("_bytes") or k.endswith("_bytes_peak"):
        return "bytes"
    if k == "peak_rss_mb":
        return "MB"
    if k in ("error_rate", "sink.write_amp"):
        return "ratio"
    return "count"


def layer_metrics(res):
    """Every per-layer metric BENCHMARK.json lists, zero where the workload
    bypasses the layer (a count that read zero). Times of bypassed layers
    live only in the record, never in this line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    return {n: res["layers"].get(n, 0) for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get(
        "SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))))
    ap.add_argument("--record", default=None)
    a = ap.parse_args()
    todo = WORKLOADS if a.workload == "all" else [a.workload]
    ok = True
    for w in todo:
        try:
            out = run_one(w, a.seed, a.seconds, a.trace, a.cpus,
                          a.record if len(todo) == 1 else None)
        except Exception as e:  # build, input or JVM failure: no result line
            print(f"[perfbench] {w}: {e}", file=sys.stderr)
            sys.exit(2)
        ok = ok and out["correct"]
        print(json.dumps(out), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
