"""Lake-cycle benchmark: one command, one seeded workload per run.

    python3 perfbench/run.py --workload lake_cycle --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
runs the workload on local[nproc] in one JVM, checks every output against
the generator's ground truth, and prints a detail line followed by the
result line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run is
traced and the metrics are the per-layer ones. Exits 1 on any
correctness mismatch or failure to build or run.

--classes DIR runs against an already compiled program class dir instead
of building src/main/scala (used by ab.py).
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from stats import median, self_times, tail  # noqa: E402

WORKLOADS = ("lake_cycle", "ingest_batch")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 170


def metric(value, unit):
    return {"value": value, "unit": unit}


def tail_detail(xs):
    """Tail in the detail line: value, percentile and sample count, or None
    when there are 10 samples or fewer."""
    t = tail(xs)
    return t and {"value": t[0], "percentile": t[1], "samples": t[2]}


def images_per_s(r):
    """Images over the measured loop's wall time: everything the loop does
    per item, publications, state flips and reads included."""
    return r["items"] / r["wall_s"]


def end_to_end(r):
    st = r["storage"]
    return {
        "setup_s": metric(r["session_s"] + median(r["setup_reps_s"]), "s"),
        "images_per_s": metric(images_per_s(r), "1/s"),
        "op_p50_ms": metric(median(r["op_ms"]), "ms"),
        "retrieve_p50_ms": metric(median(r["retrieve_ms"]), "ms"),
        "lake_bytes_per_row": metric(st["lake_bytes"] / st["live_rows"], "B/row"),
    }


def per_layer(r):
    spans = r["spans"]
    selfms = self_times(spans)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def med_ms(name):
        xs = [selfms[s["id"]] for s in named(name)]
        return median(xs) if xs else 0.0

    def total(name, key, field="attrs"):
        return sum(s[field].get(key, 0.0) for s in named(name))

    def ratio(a, b):
        return a / b if b else 0.0

    images = total("sources.decode", "images")
    points = total("geo.classify", "points")
    reads = [s for s in spans if "files_total" in s["attrs"]]
    read_files = sum(s["attrs"]["files_read"] for s in reads)
    all_files = sum(s["attrs"]["files_total"] for s in reads)
    j1 = named("ops.get_url_list")
    commits = named("storage.commit")
    items = max(r["items"], 1)
    ex, st, jvm, cal = r["exec"], r["storage"], r["jvm"], r["calibration"]
    m = {
        "sources.decode_ms": metric(med_ms("sources.decode"), "ms"),
        "sources.bytes_read": metric(ratio(total("sources.decode", "input_bytes", "counts"), images), "B/image"),
        "sources.located_share": metric(ratio(total("sources.decode", "located"), images), "share"),
        "geo.classify_ms": metric(med_ms("geo.classify"), "ms"),
        "geo.contains_share": metric(ratio(total("geo.classify", "contains"), points), "share"),
        "geo.nearest_share": metric(ratio(total("geo.classify", "nearest"), points), "share"),
        "geo.nn_pairs": metric(ratio(total("geo.classify", "nn_pairs"), points), "pairs/image"),
        "pipelines.ingest_classify_ms": metric(med_ms("pipelines.ingest_classify"), "ms"),
        "pipelines.catalog_append_ms": metric(med_ms("pipelines.catalog_append"), "ms"),
        "pipelines.model_publication_ms": metric(med_ms("pipelines.model_publication"), "ms"),
        "ops.get_url_list_ms": metric(med_ms("ops.get_url_list"), "ms"),
        "ops.rows_examined_per_row_returned": metric(ratio(
            sum(s["counts"].get("input_rows", 0.0) for s in j1),
            sum(s["attrs"].get("rows_returned", 0.0) for s in j1)), "rows/row"),
        "storage.commit_ms": metric(med_ms("storage.commit"), "ms"),
        "storage.commit_jobs": metric(ratio(sum(s["counts"].get("jobs", 0.0) for s in commits),
                                            len(commits)), "jobs/commit"),
        "storage.update_ms": metric(med_ms("storage.update"), "ms"),
        "storage.snapshot_ms": metric(med_ms("storage.snapshot"), "ms"),
        "storage.txns": metric(st["txns"], "count"),
        "storage.manifest_entries": metric(st["manifest_entries"], "count"),
        "storage.manifest_bytes": metric(st["manifest_bytes"], "B"),
        "storage.bytes_written": metric(st["bytes_written"], "B"),
        "skip.files_read": metric(ratio(read_files, len(reads)), "files/read"),
        "skip.files_total": metric(ratio(all_files, len(reads)), "files/read"),
        "skip.read_ratio": metric(ratio(read_files, all_files), "share"),
        "skip.table_resolve_ms": metric(med_ms("skip.table_resolve"), "ms"),
        "jvm.heap_peak_mb": metric(jvm["heap_peak_mb"], "MB"),
        "jvm.gc_ms": metric(jvm["gc_ms"], "ms"),
        "host.cpu_probe_ms": metric(median([cal["cpu_ms_start"], cal["cpu_ms_end"]]), "ms"),
        "host.spark_probe_ms": metric(median([cal["spark_ms_start"], cal["spark_ms_end"]]), "ms"),
        "trace.images_per_s": metric(images_per_s(r), "1/s"),
        "trace.spans": metric(len(spans), "count"),
    }
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m["catalyst." + k] = metric(ex[k] / items, "ms/item")
    for k, unit in (("jobs", "count/item"), ("stages", "count/item"), ("tasks", "count/item"),
                    ("input_rows", "rows/item"), ("shuffle_read_bytes", "B/item"),
                    ("shuffle_write_bytes", "B/item"), ("spill_bytes", "B/item"),
                    ("executor_run_ms", "ms/item"), ("gc_ms", "ms/item")):
        m["exec." + k] = metric(ex[k] / items, unit)
    m["exec.executor_cpu_ms"] = metric(ex["executor_cpu_us"] / 1000.0 / items, "ms/item")
    return m


def run_jvm(classpath, workload, seed, seconds, trace):
    bd = build.build_dir()
    tag = f"{workload}-{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(bd, "work", tag)
    out = os.path.join(bd, "out", tag + ".json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main",
            workload, str(seed), str(seconds), str(trace), work, out]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd.insert(1, "-Djava.io.tmpdir=" + tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} did not finish in {JVM_TIMEOUT_S} s")
    finally:  # never leave the JVM behind, whatever ends this process
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.isfile(out):
        raise SystemExit(f"perfbench: {workload} run failed (exit {code})")
    with open(out) as fh:
        r = json.load(fh)
    r["result_file"] = os.path.relpath(out, build.ROOT)
    return r


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # runs the cleanup above
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--classes", help="prebuilt program class dir")
    a = ap.parse_args()
    classpath = build.build(a.classes)
    r = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace)
    metrics = per_layer(r) if a.trace else end_to_end(r)
    tails = {"op_ms": tail_detail(r["op_ms"]), "retrieve_ms": tail_detail(r["retrieve_ms"]),
             "op_samples": len(r["op_ms"]), "retrieve_samples": len(r["retrieve_ms"])}
    correct = not r["errors"]
    print(json.dumps({"detail": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": r["cpus"],
        "errors": r["errors"], "calibration": r["calibration"], "tails": tails,
        "setup": {"session_s": r["session_s"], "reps_s": r["setup_reps_s"]},
        "wall_s": r["wall_s"], "items": r["items"], "storage": r["storage"],
        "spans_file": r["result_file"]}}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
