#!/usr/bin/env python3
"""graft benchmark: one command that sets up, measures, checks and reports.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from source (sbt, cached by a digest of the sources), generates every input
from the seed, runs the JVM harness (`perfbench.Main`) and checks the
outputs. The last line of stdout is one JSON object: `correct`,
`attempted`, `failed` and `metrics` -- the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Lines before it give
each metric with its unit and sample count, the host-load stamps and the
checks. A failed check makes the command exit non-zero.

Workloads (`WORKLOADS` below): `warehouse_sql` and `manifest_dml` are the
ones `BENCHMARK.json` names; `llm_ops` runs the rest of the bench queries
the same way as `warehouse_sql`, but one pass takes longer than a
benchmark run may, so it is for manual profiling only.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

CPUS = 4
# The heap starts small and may grow to its ceiling.
HEAP_START, HEAP_MAX = "256m", "2g"
TIMEOUT_S = 170
# Planned sample counts that fix each workload's tail percentile: one
# latency per query (its median over passes) for the suites; reader
# requests for manifest_dml, where a run reaches 28-33 of them.
WORKLOADS = {
    "warehouse_sql": {"sf": 0.001, "tail_n": 37},
    "llm_ops": {"sf": 0.001, "tail_n": 104, "timeout_s": 900},
    "manifest_dml": {"docs": 500, "buckets": 4, "tail_n": 28},
}
FAMILIES = (
    ("bm25_hybrid", ("bm25_", "hybrid_")),
    ("dedup", ("minhash_", "simhash_", "ngram_jaccard", "substring_", "line_dedup",
               "source_overlap", "media_near_dup", "doc_fingerprint", "embedding_dup",
               "dedup_", "semantic_dedup", "incremental_dedup", "soft_dedup")),
    ("ann_index", ("ann_", "pq_", "ivf_", "embedding_", "cluster_balanced")),
    ("text_tokens", ("token_", "bpe_", "text_", "vocabulary_", "oov_", "ngram_lm",
                     "tfidf_", "pii_", "lang_", "decontamination", "doc_repetition",
                     "quality_classifier", "corpus_filter", "mixture_", "dsir_")),
)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def say(*a):
    print(*a, flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def family(name):
    for fam, prefixes in FAMILIES:
        if name.startswith(prefixes):
            return fam
    return "relational"


# ---- host state -----------------------------------------------------------

def env_stamp():
    """(1/5/15-min load, running JVMs), as the engine's Bench stamps it."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    jvms = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    jvms += f.read().strip() == "java"
            except OSError:
                pass
    return load, jvms


# ---- build ------------------------------------------------------------------

def source_digest(root):
    h = hashlib.sha1()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base)
            if "target" not in d for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness with sbt unless the same sources are built."""
    stamp = os.path.join(HERE, "target", "built-" + source_digest(root))
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and os.path.isdir(classes):
        return classes
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc})")
    for old in os.listdir(os.path.dirname(stamp)):
        if old.startswith("built-"):
            os.remove(os.path.join(os.path.dirname(stamp), old))
    open(stamp, "w").close()
    return classes


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars", "*")


def run_jvm(classes, plan, work, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    path = os.path.join(work, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP_START}", f"-Xmx{HEAP_MAX}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-cp", f"{classes}{os.pathsep}{spark_jars()}",
           "perfbench.Main", path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness JVM exceeded {budget_s:.0f} s")
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM failed (exit {rc})")
    with open(plan["out"]) as f:
        return json.load(f)


# ---- trace analysis -----------------------------------------------------------

def catalyst_spans(res):
    """Turn tagged QueryExecution.tracker phases into child spans of the
    layer span whose `<op>|<layer>` tag started them. Returns the spans and,
    per op, the number of phases that no such span contains."""
    by_tag = {}
    for s in res["spans"]:
        by_tag.setdefault((s["op"], s["name"]), []).append(s)
        if s["parent"] == 0:
            by_tag.setdefault((s["op"], "op"), []).append(s)
    out, next_id = [], 1 + max([s["id"] for s in res["spans"]], default=0)
    unhosted = {}
    for ph in res["phases"]:
        op, layer = ph["tag"].split("|")
        cands = by_tag.get((int(op), layer), [])
        host = next((s for s in cands if s["start_us"] - 1000 <= ph["start_us"]
                     and ph["end_us"] <= s["end_us"] + 1000), None)
        if host is None:
            unhosted[int(op)] = unhosted.get(int(op), 0) + 1
            continue
        name = {"optimization": "catalyst.optimize", "planning": "catalyst.plan"}[ph["phase"]]
        out.append({"id": next_id, "parent": host["id"], "op": host["op"], "name": name,
                    "start_us": max(ph["start_us"], host["start_us"]),
                    "end_us": min(ph["end_us"], host["end_us"])})
        next_id += 1
    return out, unhosted


def layer_of(name):
    return "harness" if name.startswith("op.") else name.split(".")[0]


def per_layer(res, ops):
    """Per-layer metrics from the measured region's traced ops, their spans
    and counts."""
    ids = {o["id"] for o in ops}
    phase_spans, unhosted = catalyst_spans(res)
    spans = [s for s in res["spans"] if s["op"] in ids]
    spans += [s for s in phase_spans if s["op"] in ids]
    self_us = stats.self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], {}).setdefault(s["name"], 0)
        by_op[s["op"]][s["name"]] += self_us[s["id"]]
    counts = {}
    for tag, v in res["counts"].items():
        op, layer = tag.split("|")
        if int(op) in ids:
            counts.setdefault(int(op), {})[layer] = v
    m = {}
    n = max(1, len(ops))

    def mean_self(name, sel=lambda o: True, scale=1e-6):
        xs = [by_op.get(o["id"], {}).get(name, 0) * scale for o in ops if sel(o)]
        return sum(xs) / len(xs) if xs else 0.0

    def count_sum(layer, i, sel=lambda o: True):
        return sum(counts.get(o["id"], {}).get(layer, [0] * 12)[i] for o in ops if sel(o))

    queries = [o for o in ops if o["kind"] == "query"]
    nq = max(1, len(queries))
    ranked = sorted(((by_op.get(o["id"], {}).get("queries", 0) / 1e6,
                      (o["end_us"] - o["start_us"]) / 1e6, o["name"]) for o in queries),
                    reverse=True)
    for build, wall, name in ranked[:25]:
        say(f"query build_s {build:8.3f} of {wall:8.3f} s wall  {name}")
    m["queries.build_s"] = mean_self("queries", lambda o: o["kind"] == "query")
    m["queries.build_jobs"] = count_sum("queries", 0) / nq if queries else 0.0
    m["catalyst.optimize_s"] = mean_self("catalyst.optimize")
    m["catalyst.plan_s"] = mean_self("catalyst.plan")
    m["exec.run_s"] = mean_self("exec")
    for name, i, scale in (("stage_jobs", 0, 1), ("stages", 1, 1), ("tasks", 2, 1),
                           ("task_s", 3, 1e-3), ("sched_delay_s", 4, 1e-3),
                           ("shuffle_read_bytes", 5, 1), ("shuffle_write_bytes", 6, 1),
                           ("input_bytes", 7, 1), ("spill_bytes", 8, 1), ("gc_s", 9, 1e-3)):
        m[f"exec.{name}"] = count_sum("exec", i) * scale / n
    m["exec.parallelism"] = m["exec.task_s"] / m["exec.run_s"] if m["exec.run_s"] else 0.0
    passes = max(1, round(len(queries) / max(1, len({o["name"] for o in queries}))))
    for fam in ("bm25_hybrid", "ann_index", "dedup", "text_tokens", "relational"):
        sel = [o for o in queries if family(o["name"]) == fam]
        m[f"family.{fam}.pass_s"] = sum((o["end_us"] - o["start_us"]) * 1e-6
                                        for o in sel) / passes
        m[f"family.{fam}.stage_jobs"] = sum(
            v[0] for o in sel for v in counts.get(o["id"], {}).values()) / passes
    reads = [o for o in ops if o["role"] == "reader"]
    nr = max(1, len(reads))
    read_ids = {o["id"] for o in reads}
    scans = [s for s in res["scans"] if int(s["tag"].split("|")[0]) in read_ids]
    m["sources.resolve_ms"] = mean_self("sources", lambda o: o["role"] == "reader", 1e-3)
    m["sources.scans_per_req"] = sum(s["scans"] for s in scans) / nr if reads else 0.0
    m["sources.files_per_req"] = sum(s["files"] for s in scans) / nr if reads else 0.0
    rows_out = sum(o["rows"] for o in reads)
    m["sources.rows_scanned_per_row"] = (sum(s["rows"] for s in scans) / rows_out
                                         if rows_out else 0.0)
    commits = [o for o in ops if o["kind"] in ("insert", "merge", "update", "delete")
               and not o["error"]]
    for kind in ("insert", "merge", "update", "delete"):
        xs = [(o["end_us"] - o["start_us"]) / 1e3 for o in commits if o["kind"] == kind]
        m[f"sinks.commit_ms.{kind}"] = stats.median(xs) if xs else 0.0
    lat = [(o["end_us"] - o["start_us"]) / 1e3 for o in commits]
    m["sinks.commit_p50_ms"] = stats.median(lat) if lat else 0.0
    # a measured region holds too few commits for the tail rule: its maximum
    m["sinks.commit_tail_ms"] = max(lat) if lat else 0.0
    written = {w[0]: w[1:] for w in res.get("written", [])}
    nc = max(1, len(commits))
    m["sinks.files_written_per_commit"] = sum(written.get(o["id"], [0, 0])[0]
                                              for o in commits) / nc
    m["sinks.bytes_written_per_commit"] = sum(written.get(o["id"], [0, 0])[1]
                                              for o in commits) / nc
    m["sinks.write_amp"] = m["sinks.space_amp"] = 0.0  # set by dml_amplification
    maint = [o for o in res["ops"] if o["kind"] == "maintain"]
    beside = [o for o in res["ops"] if o["region"] == "maintain" and o["role"] == "reader"]
    m["sinks.maintain_s"] = (sum(o["end_us"] - o["start_us"] for o in maint) / 1e6
                             / len(maint) if maint else 0.0)
    m["sinks.maintain_bytes_rewritten"] = sum(written.get(o["id"], [0, 0])[1] for o in maint)
    stall = [(r["end_us"] - r["start_us"]) / 1e3 for r in beside
             if any(r["start_us"] < x["end_us"] and x["start_us"] < r["end_us"] for x in maint)]
    m["sinks.read_stall_ms"] = stats.median(stall) if stall else 0.0
    d = res.get("describe", {})
    m["sinks.live_files"] = float(d.get("files", 0) or 0)
    m["sinks.manifest_versions"] = float(res.get("versions", 0))
    setup = [o for o in res["ops"] if o["kind"] == "index_build"]
    m["ops.index_build_s"] = sum(o["end_us"] - o["start_us"] for o in setup) / 1e6
    syncs = [o for o in res["ops"] if o["kind"] == "index"]
    m["ops.index_sync_s"] = (sum(o["end_us"] - o["start_us"] for o in syncs) / 1e6
                             / len(syncs) if syncs else 0.0)
    # each layer's share of op wall time, and how well the parts add up
    wall = sum(o["end_us"] - o["start_us"] for o in ops) or 1
    shares = {}
    for s in spans:
        shares[layer_of(s["name"])] = shares.get(layer_of(s["name"]), 0) + self_us[s["id"]]
    say("layer shares of op wall time: " + ", ".join(
        f"{layer} {shares.get(layer, 0) / wall:.3f}" for layer in
        ("queries", "sources", "catalyst", "exec", "sinks", "ops", "harness")))
    m["sinks.self_s"] = mean_self("sinks", lambda o: o["role"] == "writer")
    # An op's parts add up when its layer spans cover its wall time to
    # within 5 % and every catalyst phase of its SQL executions was found
    # inside the layer span that started it.
    lost = {o["id"]: unhosted.get(o["id"], 0) +
            sum(v[11] for v in counts.get(o["id"], {}).values()) for o in ops}
    m["trace.phases_unattributed"] = float(sum(lost.values()))
    if m["trace.phases_unattributed"]:
        say(f"TRACE FLAG: {sum(lost.values()):.0f} catalyst phases or SQL executions "
            f"in {sum(x > 0 for x in lost.values())} ops were not attributed to a span")
    m["trace.parts_within_5pct"] = sum(
        stats.parts_add_up(by_op.get(o["id"], {}).get(f"op.{o['kind']}", 0),
                           o["end_us"] - o["start_us"], lost[o["id"]]) for o in ops) / n
    return m


# ---- workloads --------------------------------------------------------------

def plan_suite(args, work, cfg):
    data = os.path.join(work, "data")
    gen.tables(data, args.seed, cfg["sf"])
    check = os.path.join(work, "check")
    os.makedirs(check, exist_ok=True)
    return {"data": data, "check_dir": check, "order_seed": args.seed}


def check_suite(res, work):
    """Oracle compare of every oracled result, and the bench-only queries'
    count and hash before vs after the measured region."""
    problems = []
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(os.getcwd(), "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = oc.main(os.path.join(work, "data"), os.path.join(work, "check"))
    lines = out.getvalue().splitlines()
    problems += [ln for ln in lines if ln.startswith("FAIL")]
    if rc != 0 and not problems:
        problems.append("oracle compare failed")
    tolerant = sum(ln.startswith("PASS(~float)") for ln in lines)
    say(f"check oracle: {lines[-1] if lines else 'no output'}"
        + (f" ({tolerant} within tolerance only)" if tolerant else ""))
    unstable = bench_only_problems(res["bench_only"])
    problems += unstable
    say(f"check bench-only: {len(res['bench_only'])} queries, {len(unstable)} not stable")
    return problems


def bench_only_problems(pairs):
    """The bench-only queries whose (row count, hash) differed between the
    set-up pass and the pass after measuring, or that gave no hash."""
    return [f"bench-only {name}: {a} then {b}" for name, (a, b) in sorted(pairs.items())
            if a != b or a[1] is None]


def query_latencies(ops):
    """A query suite's read latencies in ms: each query's median over the
    region's passes, so the sample count stays the suite's size."""
    per = {}
    for o in ops:
        per.setdefault(o["name"], []).append((o["end_us"] - o["start_us"]) / 1e3)
    return [stats.median(v) for v in per.values()]


def plan_dml(args, work, cfg):
    table = os.path.join(work, "corpus_table")
    index = os.path.join(work, "corpus_index")
    initial, writer, reader, checks = gen.dml_plan(
        args.seed, cfg["docs"], table, index, os.path.join(work, "batches"),
        cfg["buckets"])
    corpus = os.path.join(work, "corpus.parquet")
    pq.write_table(pa.Table.from_pylist(initial), corpus)
    check = os.path.join(work, "check")
    os.makedirs(check, exist_ok=True)
    plan = {"table": table, "index": index, "corpus": corpus, "buckets": cfg["buckets"],
            "warmup": gen.WARMUP, "check_dir": check, "check_terms": checks,
            "maintain": {"kind": "maintain", "sql": f"GRAFT MAINTAIN '{table}'"},
            "read_cycle": len(gen.READ_CYCLE),
            "writer": [{k: v for k, v in op.items() if k != "rows"} for op in writer],
            "reader": reader}
    return plan, (initial, writer)


def check_dml(res, work, model_in):
    initial, writer = model_in
    problems = []
    wops = sorted((o for o in res["ops"] if o["role"] == "writer"), key=lambda o: o["id"])
    done = {i for i, o in enumerate(wops) if not o["error"]}
    model, _ = gen.replay(initial, writer, done)
    table = os.path.join(work, "check", "table")
    got = ({r["doc_id"]: r for r in pq.read_table(table).to_pylist()}
           if os.path.isdir(table) else {})
    bad = [k for k in set(model) | set(got) if model.get(k) != got.get(k)]
    if bad:
        problems.append(f"table != model on {len(bad)} keys, e.g. {sorted(bad)[:5]}")
    say(f"check table: {len(got)} rows read, model {len(model)} rows, "
        f"{len(bad)} differ")
    verify = res.get("verify", [])
    unclean = [v for v in verify if v[1] != "ok"]
    if unclean or not verify:
        problems.append(f"GRAFT VERIFY: {unclean or 'no result'}")
    say(f"check verify: {len(verify)} checks, {len(unclean)} not ok")
    if res["index_version"] < 0:
        problems.append("the index sync failed")
    synced, fresh = res.get("search_pairs", ([], [None]))
    if synced != fresh:
        problems.append(f"synced index != fresh index: {len(set(synced) ^ set(fresh))} "
                        "hits differ")
    say(f"check index: {len(synced)} hits from the synced index, "
        f"{len(set(synced) ^ set(fresh))} differ from a fresh build")
    return problems, done


def dml_amplification(res, ops, initial, writer, done):
    """write_amp and space_amp from the measured region's file listings."""
    model, submitted = gen.replay(initial, writer, done)
    wops = sorted((o for o in res["ops"] if o["role"] == "writer"), key=lambda o: o["id"])
    index_of = {o["id"]: i for i, o in enumerate(wops)}
    ids = {o["id"] for o in ops}
    written = sum(w[2] for w in res.get("written", []) if w[0] in ids)
    user = sum(submitted.get(index_of[o["id"]], 0) for o in wops if o["id"] in ids)
    live = sum(gen.row_bytes(r) for r in model.values())
    return {"sinks.write_amp": written / user if user else 0.0,
            "sinks.space_amp": res["table_bytes"] / live if live else 0.0}


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in (os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "oracle_check.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout: {need} is missing")
    env_start = env_stamp()
    classes = build(root)
    # a run gets TIMEOUT_S after the build, which only a fresh checkout pays
    t_start = time.time()
    cfg = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        base = {"workload": args.workload, "work": work, "cpus": CPUS,
                "seconds": args.seconds, "trace": bool(args.trace),
                "out": os.path.join(work, "result.json")}
        if args.workload == "manifest_dml":
            plan, model_in = plan_dml(args, work, cfg)
        else:
            plan = plan_suite(args, work, cfg)
        res = run_jvm(classes, {**base, **plan}, work,
                      cfg.get("timeout_s", TIMEOUT_S) - (time.time() - t_start))
        if args.workload == "manifest_dml":
            problems, done = check_dml(res, work, model_in)
            dml_model = (*model_in, done)
        else:
            problems, dml_model = check_suite(res, work), None
        report(args, cfg, res, problems, env_start, env_stamp(), dml_model)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def declared(trace):
    """The metrics BENCHMARK.json declares for this kind of run: name -> unit."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def report(args, cfg, res, problems, env_start, env_end, dml_model):
    ops = res["ops"]
    # the workloads are chosen so that no op fails: any failure is a defect
    failed_ops = [o for o in ops if o["error"]]
    problems += [f"{o['role']} op {o['kind']} {o['name']} ({o['region']}) failed: "
                 f"{o['error']}" for o in failed_ops]
    say(f"ops: {len(ops)} attempted, {len(failed_ops)} failed, "
        f"failed_ratio {len(failed_ops) / len(ops):.4f}")
    measured = [o for o in ops if o["region"] == "measured"]
    say(f"env load_start={env_start[0]} jvms_start={env_start[1]} "
        f"load_end={env_end[0]} jvms_end={env_end[1]} "
        f"loaded={str(env_start[0][0] > 0.5).lower()}")
    if args.trace:
        traced = [o for o in measured if o["traced"]]
        metrics = per_layer(res, traced)
        # the same queries (suites) or request kinds (the DML reader), timed
        # untraced and traced in this run
        paired = [o for o in measured if o["role"] in ("client", "reader")]
        metrics["trace.overhead"], groups = stats.tracing_overhead(
            [(o["name"], o["traced"], o["end_us"] - o["start_us"]) for o in paired])
        say(f"metric trace.overhead: traced vs untraced latency over {groups} "
            f"{'request kinds' if dml_model else 'queries'} timed both ways")
        if dml_model:
            metrics.update(dml_amplification(res, traced, *dml_model))
    else:
        if dml_model:
            primary = [o for o in measured
                       if o["kind"] in ("insert", "merge", "update", "delete")]
            reads = [(o["end_us"] - o["start_us"]) / 1e3 for o in measured
                     if o["role"] == "reader"]
        else:
            primary = measured
            reads = query_latencies(measured)
        t0, t1 = min(o["start_us"] for o in measured), max(o["end_us"] for o in measured)
        good = [o for o in primary if not o["error"]]
        p, tail_v, n, beyond = stats.tail(reads, cfg["tail_n"])
        metrics = {
            "setup_s": res["setup_s"],
            "ops_per_s": len(good) / ((t1 - t0) / 1e6),
            "read_p50_ms": stats.median(reads),
            "read_tail_ms": tail_v,
            "mem_live_mb": res["mem_live_mb"],
        }
        say(f"metric ops_per_s: {len(good)} {'commits' if dml_model else 'queries'} "
            f"in {(t1 - t0) / 1e6:.2f} s")
        say(f"metric read_tail_ms: p{p:g} of {n} read latencies, {beyond} beyond")
    units = declared(args.trace)
    if set(units) != set(metrics):
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    out = {}
    for k, unit in units.items():
        out[k] = {"value": metrics[k], "unit": unit}
        say(f"metric {k} = {metrics[k]:.6g} {unit}")
    for problem in problems:
        say(f"CHECK FAILED: {problem}")
    print(json.dumps({"correct": not problems, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": out}), flush=True)
    if problems:
        sys.exit(1)


if __name__ == "__main__":
    main()
