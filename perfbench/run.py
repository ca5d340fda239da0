#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload train_examples --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from the checkout's sources (once per
source state), generates the workload's parquet inputs from the seed, runs
the harness in one JVM with Spark at local[N] (N = at most 4 cores), checks
every output against the generator's ground truth, prints one `name = value
unit` line per metric and, as the last line of standard output, the JSON
result. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")

WORKLOADS = ("train_examples", "corpus_ops")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB",
    "output_recall": "ratio",
}

PER_LAYER = {
    "TrainingPipeline.produceTrainingExamplesFromActions.self_s": "s",
    "TrainingPipeline.produceTrainingExamplesFromActions.join_rows": "count",
    "TrainingPipeline.produceTrainingExamplesFromActions.kept_rows": "count",
    "TrainingPipeline.produceTrainingExamplesFromActions.keep_ratio": "ratio",
    "TrainingPipeline.produceTrainingExamplesFromActions.shuffle_mb": "MB",
    "TrainingPipeline.produceTrainingExamplesFromActions.spill_mb": "MB",
    "TrainingPipeline.normalizeActions.self_s": "s",
    "TrainingPipeline.normalizeActions.rows_out": "count",
    "TrainingPipeline.explodeImpressions.self_s": "s",
    "TrainingPipeline.explodeImpressions.rows_out": "count",
    "TrainingPipeline.dailyTopKChunks.self_s": "s",
    "TrainingPipeline.dailyTopKChunks.chunks": "count",
    "TrainingPipeline.dailyTopKChunks.shuffle_mb": "MB",
    "TrainingPipeline.customerHistoryBeforeDt.self_s": "s",
    "TrainingPipeline.customerHistoryBeforeDt.rows_out": "count",
    "TrainingPipeline.customerHistoryBeforeDt.chunks_per_history": "ratio",
    "TrainingPipeline.produceTrainingExamplesPrecomputed.self_s": "s",
    "sources.Sinks.writeTrainingExamples.self_s": "s",
    "sources.Sinks.writeTrainingExamples.mb_written": "MB",
    "sources.Sinks.writeTrainingExamples.files": "count",
    "sources.Sinks.writeTrainingExamples.bytes_per_input_byte": "ratio",
    "sources.scan.self_s": "s",
    "sources.scan.rows": "count",
    "sources.scan.mb": "MB",
    "TextAnalysis.qualityFilter.self_s": "s",
    "TextAnalysis.qualityFilter.keep_ratio": "ratio",
    "Dedup.passageDedup.self_s": "s",
    "Dedup.passageDedup.passages_dropped": "count",
    "Curation.curateCorpus.self_s": "s",
    "Dedup.lshCandidatePairs.self_s": "s",
    "Dedup.lshCandidatePairs.pairs": "count",
    "Dedup.lshVerifiedPairs.self_s": "s",
    "Dedup.lshVerifiedPairs.verified_pairs": "count",
    "Dedup.lshVerifiedPairs.precision": "ratio",
    "Similarity.ivfPqSearch.self_s": "s",
    "Similarity.ivfPqSearch.candidates_per_query": "count",
    "Similarity.ivfPqSearch.scan_ratio": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.stages": "count",
    "spark.tasks": "count",
    "expressions.codegen_compiles": "count",
    "expressions.codegen_s": "s",
    "expressions.jit_s": "s",
    "expressions.job_codegen_compiles": "count",
    "trace.overhead_s": "s",
}

JVM_OPTIONS = [
    "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
    "-XX:+UseG1GC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's build and main sources and
    the harness's own."""
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for d, _, names in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles engine and harness with sbt unless this source state was
    built already; returns the runtime classpath."""
    engine = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")]
    if not all(os.path.exists(p) for p in engine):
        raise SystemExit("perfbench: the engine's build.sbt and src/main/scala are not next to perfbench/")
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts + ["-Xmx2g"]))
    t0 = time.time()
    log("building engine and harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def dir_bytes(path, suffix=""):
    total, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


# ---- output checks: each returns (ok, facts) ----

def check_training(truth, examples_dir):
    """Row-by-row comparison with the reference histories; the digest is
    taken over the key-sorted rows, so it does not depend on row order."""
    t = pq.read_table(examples_dir)
    n_exp = truth["items"].size
    if t.num_rows != n_exp:
        return {"rows": t.num_rows, "matched_rows": 0, "digest": None}
    t = t.take(pc.sort_indices(t, sort_keys=[("ranking_id", "ascending"), ("impression_pos", "ascending")]))
    per = truth["items"].shape[1]

    def col(name, typ):
        return t[name].cast(typ).to_numpy(zero_copy_only=False)

    def arrays(name):
        a = t[name].combine_chunks()
        if not (pc.list_value_length(a).to_numpy(zero_copy_only=False) == gen.MAX_HISTORY).all():
            return None
        return a.flatten().to_numpy(zero_copy_only=False).reshape(-1, gen.MAX_HISTORY)

    acts, kinds = arrays("actions"), arrays("action_types")
    ok = ((col("ranking_id", pa.string()) == np.repeat(truth["ranking_id"], per))
          & (col("dt", pa.string()) == np.repeat(truth["dt"], per))
          & (col("customer_id", pa.int64()) == np.repeat(truth["customer_id"], per))
          & (col("impression_pos", pa.int64()) == np.tile(np.arange(per), len(truth["ranking_id"])))
          & (col("impression_item_id", pa.int64()) == truth["items"].ravel())
          & (col("label", pa.int64()) == truth["labels"].ravel()))
    if acts is None or kinds is None:
        return {"rows": t.num_rows, "matched_rows": 0, "digest": None}
    ok &= (acts == np.repeat(truth["hist_items"], per, axis=0)).all(axis=1)
    ok &= (kinds == np.repeat(truth["hist_kinds"], per, axis=0)).all(axis=1)
    digest = hashlib.sha256()
    for name in ("dt", "ranking_id", "customer_id", "impression_pos", "impression_item_id", "label"):
        digest.update("\x1f".join(map(str, t[name].cast(pa.string()).to_pylist())).encode())
    digest.update(acts.astype(np.int64).tobytes())
    digest.update(kinds.astype(np.int64).tobytes())
    return {"rows": t.num_rows, "matched_rows": int(ok.sum()), "digest": digest.hexdigest()[:16]}


def check_train_examples(truth, verify, in_dir):
    n_exp = truth["items"].size
    direct = check_training(truth, verify["direct_dir"])
    daily = check_training(truth, verify["daily_dir"])
    written, files = dir_bytes(verify["daily_dir"], ".parquet")
    inputs, _ = dir_bytes(in_dir, ".parquet")
    ok = (direct["matched_rows"] == daily["matched_rows"] == n_exp
          and direct["digest"] == daily["digest"])
    return ok, {
        "expected_rows": n_exp, "direct": direct, "daily": daily,
        "stored_bytes_per_input_byte": written / inputs, "mb_written": written / 1e6, "files": files,
        "output_recall": (direct["matched_rows"] + daily["matched_rows"]) / (2 * n_exp)}


def shingles(text):
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def check_curation(truth, verdicts_dir, pairs_dir):
    """Verdicts against the independently derived ones; every verified pair
    against its exact word-3-shingle sets; recall of the planted pairs."""
    expected = gen.expected_verdicts(truth["docs"])
    rows = pq.read_table(verdicts_dir).to_pylist()
    got = {r["doc_id"]: (r["verdict"], r["dup_of"], r["split"], r["n_dropped_passages"]) for r in rows}
    mismatched = sum(1 for d, v in expected.items() if got.get(d) != v)
    text = dict(truth["docs"])
    pairs = pq.read_table(pairs_dir).to_pylist()
    bad_pairs = 0
    for p in pairs:
        a, b = shingles(text[p["doc_a"]]), shingles(text[p["doc_b"]])
        if not (p["doc_a"] < p["doc_b"] and p["n_a"] == len(a) and p["n_b"] == len(b)
                and p["n_common"] == len(a & b) and p["jaccard"] >= 0.2):
            bad_pairs += 1
    found = len(truth["near_pairs"] & {(p["doc_a"], p["doc_b"]) for p in pairs})
    verdicts = {}
    for v in got.values():
        verdicts[v[0]] = verdicts.get(v[0], 0) + 1
    ok = len(rows) == len(expected) and mismatched == 0 and bad_pairs == 0
    return ok, found, {
        "documents": len(rows), "mismatched_verdicts": mismatched, "verdicts": verdicts,
        "verified_pairs": len(pairs), "bad_pairs": bad_pairs,
        "near_dup_recall": found / len(truth["near_pairs"])}


def check_search(truth, approx, exact, queries, program_recall):
    """knnBruteForce against numpy's exact neighbours, the search result's
    shape, and its recall@10 recomputed here."""
    reference = gen.exact_neighbours(truth["x"], queries)
    n = len(truth["x"])

    def lists(rows):
        by = {}
        for r in rows:
            by.setdefault(r[0], []).append(r)
        return {q: sorted(rs, key=lambda r: r[2]) for q, rs in by.items()}

    got_exact = lists(exact)
    exact_ok = all([r[1] for r in got_exact.get(q, [])] == reference[q] for q in reference)
    got = lists(approx)
    approx_ok = set(got) == set(reference) and all(
        [r[2] for r in rs] == list(range(1, 11))
        and all(r[1] != q and 0 <= r[1] < n for r in rs)
        and all(x[3] <= y[3] for x, y in zip(rs, rs[1:]))
        for q, rs in got.items())
    hits = sum(len({r[1] for r in got.get(q, [])} & set(reference[q])) for q in reference)
    recall = hits / (10 * len(reference))
    ok = exact_ok and approx_ok and program_recall is not None and abs(recall - program_recall) < 1e-9
    return ok, hits, {"exact_matches_reference": exact_ok, "search_well_formed": approx_ok,
                      "recall_at_10": recall}


def check_corpus_ops(truth, verify, queries):
    cur_ok, found, cur = check_curation(truth, verify["verdicts_dir"], verify["pairs_dir"])
    ann_ok, hits, ann = check_search(truth, verify["approx"], verify["exact"], queries,
                                     verify.get("recall_at_10"))
    # Pooled over both retrieval tasks: ground-truth items the outputs recover.
    recall = (found + hits) / (len(truth["near_pairs"]) + 10 * queries)
    return cur_ok and ann_ok, {**cur, **ann, "output_recall": recall}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(in_dir)
    os.makedirs(os.path.join(out_dir, "tmp"))
    t0 = time.time()
    truth, props, meta = gen.GENERATORS[args.workload](args.seed, in_dir)
    gen_s = time.time() - t0

    cores = min(4, os.cpu_count() or 1)
    # A fixed, pre-touched heap: peak RSS then moves with the memory the
    # process holds beside the heap, not with when the collector happened
    # to first touch a heap region.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *JVM_OPTIONS,
           f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--in", in_dir, "--out", out_dir, "--cores", str(cores),
           "--queries", str(meta.get("queries", 0))]
    p = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
    result_file = os.path.join(out_dir, "result.json")
    if p.returncode != 0 or not os.path.isfile(result_file):
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")
    with open(result_file) as f:
        res = json.load(f)

    if not res["verify"]:
        ok, facts = False, {"output_recall": 0.0}
    elif args.workload == "train_examples":
        ok, facts = check_train_examples(truth, res["verify"], in_dir)
    else:
        ok, facts = check_corpus_ops(truth, res["verify"], meta["queries"])
    attempted, failed = res["attempted"], res["failed"]
    if not ok:
        failed = attempted  # jobs are deterministic: a wrong output is wrong every time
    jobs = res["job_s"]
    job_s = statistics.median(jobs)
    e2e = {
        "setup_s": res["setup_s"],
        "job_s": job_s,
        "rows_per_s": meta["rows"] / job_s,
        "peak_rss_mb": res["peak_rss_mb"],
        "output_recall": facts["output_recall"],
    }
    if args.trace:
        layers = res["layers"]
        sink = "sources.Sinks.writeTrainingExamples"
        for metric, fact in (("mb_written", "mb_written"), ("files", "files"),
                             ("bytes_per_input_byte", "stored_bytes_per_input_byte")):
            if fact in facts:
                layers[f"{sink}.{metric}"] = facts[fact]
        metrics = {k: {"value": float(layers.get(k, 0.0) or 0.0), "unit": u} for k, u in PER_LAYER.items()}
        trace_file = os.path.join(out_dir, "trace.jsonl")
        keep = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copyfile(trace_file, keep)
        log(f"spans written to {os.path.relpath(keep, ROOT)}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    report = {
        "workload": args.workload, "seed": args.seed, "generate_s": round(gen_s, 3),
        "jobs_timed": len(jobs), "failed_share": failed / attempted,
        "job_runs_s": [round(x, 3) for x in jobs],
        **facts, "inputs": props,
    }
    for k, v in report.items():
        print(f"{k} = {json.dumps(v) if isinstance(v, (dict, list)) else v}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
