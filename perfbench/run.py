#!/usr/bin/env python3
"""Layered corpus benchmark of the ten declared queries.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py), runs the benchmark
JVM (perfbench/src/BenchMain.scala) on the workload's input, checks every
query's output against its DuckDB twin (perfbench/check.py), and prints a
corpus-shape record and then, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import corpus  # noqa: E402

QUERIES = ["clean_text", "dedup_exact", "doc_fingerprint", "doc_stats", "keyword_filter",
           "lang_dist", "term_doc_freq", "word_count", "word_freq_top20", "word_freq_top200"]
FIXTURE = os.path.join("perfbench", "data", "fixture_sf01", "documents.parquet")
PREFIXES = ["scan", "normalize", "split", "clean_tokens", "explode"]
# Runnable workloads: the generated ones, the copied sf0.1 fixture, and
# `missing_input`, a parquet that does not exist, which shows that failing
# queries are counted and never timed.
WORKLOADS = list(corpus.WORKLOADS) + ["fixture_sf01", "missing_input"]
JVM_TIMEOUT_S = 160
# A fixed heap touched up front: first touches of heap pages otherwise slowed
# the early warm passes by 10-25% and made the peak RSS depend on GC timing.
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch"]


def median(xs):
    return statistics.median(xs) if xs else None


WALL, CPU = "wall", "cpu"


def per_query(passes, kind=WALL, names=QUERIES):
    """Median wall or CPU seconds of each query over passes, skipping failed runs."""
    return {q: median([p[q][kind] for p in passes if q in p]) for q in names}


def cold_pass(res, kind):
    return sum(v[kind] for v in res["cold"].values()) if len(res["cold"]) == len(QUERIES) else None


def docs_per(n_docs, medians):
    return n_docs * len(QUERIES) / sum(medians.values()) if all(medians.values()) and n_docs else None


def end_to_end(res, n_docs):
    return {"setup_s": (median(res["setup_s"]), "s"),
            "cold_pass_cpu_s": (cold_pass(res, CPU), "s"),
            "docs_per_cpu_s": (docs_per(n_docs, per_query(res["warm"], CPU)), "docs/cpu_s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB")}


def per_layer(res, chk, cores):
    traced = per_query(res["traced"])
    prefix = dict(zip(PREFIXES, per_query(res["traced"], WALL, [f"prefix.{p}" for p in PREFIXES]).values()))
    untraced = per_query(res["warm"])
    spans = res["spans"]
    c = res["counts"]

    def sub(a, b):
        return a - b if a is not None and b is not None else None

    def span_stats(name, key):
        """Median over traced passes of a task ("tasks") or plan ("plans")
        statistic of the spans called `name`."""
        table = "tasks" if key in TASK_KEYS else "plans"
        return median([res[table].get(f"span-{s['id']}", {}).get(key, 0)
                       for s in spans if s["name"] == name])

    def ratio(a, b):
        return a / b if a is not None and b else None

    mb = 1e6
    m = {
        "cold_pass_s": (cold_pass(res, WALL), "s"),
        "docs_per_s": (docs_per(c["docs"], untraced), "docs/s"),
        "scan.self_s": (prefix["scan"], "s"),
        "scan.input_partitions": (res["input_partitions"], "count"),
        "scan.input_mb": (ratio(span_stats("prefix.scan", "scanBytes"), mb), "MB"),
        "TextOps.normalize.self_s": (sub(prefix["normalize"], prefix["scan"]), "s"),
        "TextOps.normalize.removed_frac": (ratio(c["chars_in"] - c["chars_normalized"], c["chars_in"]), "ratio"),
        "TextOps.cleanTokens.split_self_s": (sub(prefix["split"], prefix["normalize"]), "s"),
        "TextOps.cleanTokens.filter_self_s": (sub(prefix["clean_tokens"], prefix["split"]), "s"),
        "TextOps.cleanTokens.keep_frac": (ratio(c["clean_tokens"], c["split_tokens"]), "ratio"),
        "explode.self_s": (sub(prefix["explode"], prefix["clean_tokens"]), "s"),
        "explode.rows": (c["clean_tokens"], "count"),
        "TextOps.wordFreq.agg_self_s": (sub(traced["word_freq_top200"], prefix["explode"]), "s"),
        "TextOps.wordFreq.combine_frac": (ratio(span_stats("word_freq_top200", "partialAggRows"),
                                                span_stats("word_freq_top200", "generateRows")), "ratio"),
        "TextOps.wordFreq.shuffle_mb": (ratio(span_stats("word_freq_top200", "shuffleWriteBytes"), mb), "MB"),
        "TfIdfOps.termDocFreq.post_explode_s": (sub(traced["term_doc_freq"], prefix["explode"]), "s"),
        "TfIdfOps.termDocFreq.tf_rows": (chk["rows"].get("term_doc_freq"), "count"),
        "TfIdfOps.termDocFreq.shuffle_read_per_write": (
            ratio(span_stats("term_doc_freq", "pairExchangeRead"),
                  span_stats("term_doc_freq", "pairExchangeWritten")), "ratio"),
        "TfIdfOps.termDocFreq.file_scans": (span_stats("term_doc_freq", "fileScans"), "count"),
        "TfIdfOps.termDocFreq.broadcast_mb": (ratio(span_stats("term_doc_freq", "broadcastBytes"), mb), "MB"),
        "TfIdfOps.termDocFreq.spill_mb": (ratio(span_stats("term_doc_freq", "spillBytes"), mb), "MB"),
        "TfIdfOps.termDocFreq.peak_exec_mem_mb": (ratio(span_stats("term_doc_freq", "peakExecMem"), mb), "MB"),
        "CorpusOps.docStats.self_s": (sub(traced["doc_stats"], prefix["scan"]), "s"),
        "CorpusOps.docStats.fallback_exprs": (span_stats("doc_stats", "fallbackExprs"), "count"),
        "CorpusOps.keywordFilter.self_s": (sub(traced["keyword_filter"], prefix["scan"]), "s"),
        "CorpusOps.dedupExact.agg_self_s": (sub(traced["dedup_exact"], traced["doc_fingerprint"]), "s"),
        "CorpusOps.dedupExact.groups_per_row": (ratio(chk["rows"].get("dedup_exact"), c["docs"]), "ratio"),
    }
    for q in QUERIES:
        m[f"{q}_s"] = (untraced[q], "s")
    for q in QUERIES:
        wall = traced[q]
        m[f"spark.{q}.tasks"] = (span_stats(q, "tasks"), "count")
        m[f"spark.{q}.busy_frac"] = (ratio(ratio(span_stats(q, "runMs"), 1000.0), wall and wall * cores), "ratio")
        m[f"spark.{q}.gc_s"] = (ratio(span_stats(q, "gcMs"), 1000.0), "s")
        m[f"spark.{q}.fetch_wait_s"] = (ratio(span_stats(q, "fetchWaitMs"), 1000.0), "s")
        m[f"spark.{q}.shuffle_write_mb"] = (ratio(span_stats(q, "shuffleWriteBytes"), mb), "MB")
    for q in QUERIES:
        m[f"check.{q}.mismatch_rows"] = (chk["mismatch"].get(q), "count")
    for q in QUERIES:
        m[f"trace.{q}.overhead_s"] = (sub(traced[q], untraced[q]), "s")
    return m


TASK_KEYS = {"tasks", "runMs", "gcMs", "fetchWaitMs", "shuffleWriteBytes", "spillBytes",
             "peakExecMem"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "fixture_sf01":
            inp = os.path.abspath(FIXTURE)
        else:
            inp = os.path.join(work, "data", "documents.parquet")
            if a.workload in corpus.WORKLOADS:
                t = time.time()
                corpus.write(a.workload, a.seed, inp, 4 * cores)
                print(f"perfbench: generated {a.workload} in {time.time() - t:.1f} s", file=sys.stderr)
        cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}", "-cp", classpath,
                                       "perfbench.BenchMain", "--input", inp, "--work", work,
                                       "--cores", str(cores), "--seconds", str(a.seconds),
                                       "--trace", str(a.trace), "--run", os.path.basename(work)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.run(cmd, stdout=sys.stderr, env=env, timeout=JVM_TIMEOUT_S)
        res_path = os.path.join(work, "jvm_result.json")
        if proc.returncode != 0 or not os.path.exists(res_path):
            sys.exit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
        with open(res_path) as f:
            res = json.load(f)
        return report(a, res, inp, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, inp, work, cores):
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    t = time.time()
    chk = check.run(inp, os.path.join(work, "out"), res["written"], oracle,
                    os.path.join(work, "duckdb-tmp"), cores)
    print(f"perfbench: check took {time.time() - t:.1f} s", file=sys.stderr)
    shape = chk["shape"]
    shape.update(workload=a.workload, seed=a.seed, input_partitions=res["input_partitions"])
    print(json.dumps({"corpus_shape": shape}))

    threw = sum(res["failures"].values())
    attempted = res["attempted"]
    mismatched = [q for q in res["written"] if chk["mismatch"].get(q) != 0]
    unexplained = [q for q in res["written"] if chk["unexplained"].get(q) != 0]
    for q in mismatched:
        print(f"perfbench: check {q}: {chk['mismatch'].get(q)} rows differ from the DuckDB twin, "
              f"{chk['unexplained'].get(q)} after the reference's empty-join rule", file=sys.stderr)
    for q in res["composition_drift"]:
        print(f"perfbench: {q} no longer matches SparkEntry's composition", file=sys.stderr)
    failed = threw + len(unexplained) + len(res["composition_drift"])
    correct = failed == 0 and len(res["written"]) == len(QUERIES)
    failed_frac = (threw + len(mismatched)) / attempted if attempted else 1.0
    if not res["written"]:
        metrics = {}
    elif a.trace:
        metrics = per_layer(res, chk, cores)
        write_spans(a, res)
    else:
        metrics = end_to_end(res, shape.get("docs"))
    if a.trace or not correct:
        metrics["failed_frac"] = (failed_frac, "ratio")
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None}
    missing = sorted(k for k, (v, _) in metrics.items() if v is None)
    if missing:
        print(f"perfbench: no value for {', '.join(missing)}", file=sys.stderr)
        correct = False
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if correct else 1


def write_spans(a, res):
    path = os.path.join(build.BUILD_DIR, "traces", f"{a.workload}-{a.seed}-spans.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(res["spans"], f)
    print(f"perfbench: spans written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
