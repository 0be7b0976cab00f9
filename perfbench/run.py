#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the JVM harness
from source (cached under .bench_build/ by a hash of the sources),
generates the workload's inputs from the seed, runs one JVM on
local[nproc] with one closed-loop client for --seconds, checks every
answer against values computed outside the program (DuckDB or the
generator-side model) and prints the metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero on any correctness mismatch.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import oracle   # noqa: E402
import stats    # noqa: E402

# Inputs per workload. Sized so a run's set-up, warm-up and checks stay
# well inside the time one run may take (see README.md).
REFRESH_SF = 0.01       # ~60k lineitem rows
REFRESH_CYCLES = 24
UPLOAD_LADDERS = 3      # 8 uploads per ladder, after the gen.WARM_UPLOADS
BASE_ROWS = 5000
FRAGMENT_MONTHS = 3     # oldest base months written as many small files
DECK_CORPUS = {"n_docs": 500, "n_vecs": 500, "n_events": 10_000}

MB = 1024.0 * 1024.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# view reads timed inside an update_refresh cycle
VIEW_KINDS = ("top10_sql", "top10_df", "auto_optiom_df")
# SparkEntry queries read after every refresh in update_refresh, with the
# module each lives in (Deck.queries in Workloads.scala)
DECK = (("q_sessionize", "operators"), ("q_scd2", "operators"), ("q_ann_brute", "ext"),
        ("q_curate_e2e", "ext"), ("q_multimodal_decode", "multimodal"))
LAYERS = ("client", "clean", "merge", "streaming", "views", "util",
          "operators", "ext", "multimodal")
END_TO_END = ("latency_p50_s", "setup_s")
PER_LAYER = (
    ["streaming.start_s", "streaming.trigger_s", "streaming.add_batch_s",
     "streaming.overhead_s",
     "clean.busy_s", "clean.rows_in", "clean.rows_out", "clean.keep_ratio",
     "merge.stage_s", "merge.busy_s", "merge.driver_s", "merge.compact_s",
     "merge.rows_rewritten", "merge.useful_ratio", "merge.bytes_written",
     "merge.files_written", "merge.base_files",
     "views.create_all_s", "views.core_build_s"]
    + [f"views.{k}_s" for k in VIEW_KINDS]
    + ["views.serial_s", "cache.refresh_s", "cache.pinned_mb",
       "cache.transient_mb"]
    + [f"deck.{q}_s" for q, _ in DECK]
    + ["spark.jobs", "spark.tasks", "spark.shuffle_mb", "spark.spill_mb",
       "spark.gc_s", "spark.input_mb", "spark.output_mb"]
    + [f"self.{l}_s" for l in LAYERS]
    + ["host.cores_start", "host.cores_end", "trace.spans"])
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_amp": "ratio"}
NAMED_UNITS = {"merge.bytes_written": "bytes", "host.cores_start": "cores",
               "host.cores_end": "cores", "error_rate": "ratio"}


def unit_of(name):
    if name in NAMED_UNITS:
        return NAMED_UNITS[name]
    if name.endswith("_per_s"):
        return "1/s"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp(root):
    """Hash of everything the build reads: the program's build and main
    sources, and the harness's build and sources."""
    h = hashlib.sha256()
    paths = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            paths.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, bb):
    stamp = source_stamp(root)
    cp_file = os.path.join(bb, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    log = os.path.join(bb, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(),
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, data):
    """Write the workload's inputs under `data`; return what the checks
    and metrics need to know about them."""
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    if workload == "upload_stream":
        fields = gen.load_fields()
        shutil.copy(os.path.join(HERE, "renewals_bq.json"), data)
        plan = gen.renewal_plan(seed, UPLOAD_LADDERS)
        ups = gen.renewal_uploads(seed, fields, plan)
        base_csv, base_model, base_days = gen.renewal_base(
            seed, fields, BASE_ROWS, plan[0][2] + 20)
        with open(os.path.join(data, "base.csv"), "wb") as f:
            f.write(base_csv)
        # the base's oldest months, written fragmented (UploadStream.prepare)
        with open(os.path.join(data, "fragment_months.txt"), "w") as f:
            f.write("\n".join(sorted({m for m, _ in base_model})[:FRAGMENT_MONTHS]) + "\n")
        os.makedirs(os.path.join(data, "uploads"))
        with open(os.path.join(data, "uploads", "plan.tsv"), "w") as tsv:
            for k, (u, (kind, n, _, _)) in enumerate(zip(ups, plan)):
                with open(os.path.join(data, "uploads", u["name"]), "wb") as f:
                    f.write(u["bytes"])
                phase = "warm" if k < len(gen.WARM_UPLOADS) else "timed"
                tsv.write(f"{u['name']}\t{kind}\t{n}\t{phase}\n")
        return {"uploads": ups, "base_model": base_model, "base_days": base_days}
    # the deck's tables replace the star schema's placeholder ones
    tables = dict(gen.star_tables(seed, REFRESH_SF), **gen.corpus_tables(seed, **DECK_CORPUS))
    gen.write_tables(tables, os.path.join(data, "tables"))
    batches, states = gen.staging_batches(seed, tables["lineitem"], REFRESH_CYCLES)
    os.makedirs(os.path.join(data, "staging"))
    sizes = []
    for k, b in enumerate(batches):
        p = os.path.join(data, "staging", f"{k:03d}.parquet")
        gen.pq.write_table(b, p)
        sizes.append(os.path.getsize(p))
    n_orders = tables["orders"].num_rows
    return {"batches": [b.num_rows for b in batches], "batch_bytes": sizes,
            "states": states, "n_orders": n_orders}


# ----------------------------------------------------------------- checks

def check_upload(res, info):
    chk = res["checks"]
    n = chk["processed"]
    ups = info["uploads"][:n]
    want = gen.merge_model(info["base_model"], info["base_days"], ups)
    got = {m: {"count": int(v[0]), "CommissionAmt": int(v[1]), "AmountDue": int(v[2])}
           for m, v in chk["per_month"].items()}
    problems = []
    if got != want:
        bad = sorted(m for m in set(got) | set(want) if got.get(m) != want.get(m))
        problems.append(f"base table differs from the merge model in {len(bad)} "
                        f"month(s), first {bad[:3]}")
    poisoned = sorted(u["name"] for u in ups if u["kind"] == "poison")
    if chk["error_files"] != poisoned:
        problems.append(f"dead-letter dir {chk['error_files']} != {poisoned}")
    good = sum(u["kind"] == "good" for u in ups)
    if chk["messages"] != good or (good and chk["message_payloads"] != ["RenewalList.CSV"]):
        problems.append(f"{chk['messages']} notify messages for {good} good uploads")
    if chk["bad_keys"] != 0:
        problems.append(f"{chk['bad_keys']} key cells still carry Excel artifacts")
    return problems, set()


def check_oracle(res, table_dir, threads):
    con = oracle.connect(table_dir, threads)
    problems, bad_kinds = [], set()
    for q in res["checks"]["oracle"]:
        rows, fp = oracle.fingerprint(con, q["sql"])
        if rows != q["rows"] or fp != int(q["fp"]):
            bad_kinds.add(q["kind"])
            problems.append(f"{q['kind']}: {q['rows']} rows fp {q['fp']} != "
                            f"oracle {rows} rows fp {fp}")
    con.close()
    return problems, bad_kinds


def refresh_expect(state, n_orders):
    import numpy as np
    model = gen.lineitem_model(state)
    recent = state["l_shipdate"] >= np.datetime64("1996-06-01")
    cents = np.round(state["l_extendedprice"][recent] * 100).astype("int64")
    vin = int((state["l_partkey"][recent] < n_orders).sum())
    model["auto_optiom"] = [int(recent.sum()), int(cents.sum()), vin]
    return model


def check_refresh(res, info):
    problems, bad_ops = [], set()
    for o in res["ops"]:
        if "cycle" not in o:
            continue
        want = refresh_expect(info["states"][o["cycle"]], info["n_orders"])
        if (o["top10_sql"] != want["top10"] or o["top10_df"] != want["top10"]
                or o["auto_optiom"] != want["auto_optiom"]):
            bad_ops.add(o["op"])
            problems.append(f"cycle {o['cycle']}: answers differ from the model")
    n = res["checks"]["processed"]
    if n:
        want = gen.lineitem_model(info["states"][n - 1])["per_month"]
        got = {m: [int(a), int(b)] for m, (a, b) in res["checks"]["per_month"].items()}
        if got != want:
            problems.append("lineitem after the last cycle differs from the model")
    return problems, bad_ops


# ---------------------------------------------------------------- metrics

def within(j, o):
    return o["start_us"] <= j["start_us"] <= o["end_us"]


def end_to_end(res, measured):
    """The bounded metrics (END_TO_END, as listed in BENCHMARK.json)."""
    lat = [(o["end_us"] - o["start_us"]) / 1e6 for o in measured]
    return {
        "latency_p50_s": statistics.median(lat),
        # JVM start until the first timed operation: JVM and Spark start,
        # host probe, the workload's set-up and its untimed warm-up
        "setup_s": (res["measure_start_us"] - res["jvm_start_us"]) / 1e6,
    }


def extras(workload, res, measured, info):
    """User-visible figures that apply to some workloads only; printed
    on the summary line, not part of the bounded metric set."""
    lat = [(o["end_us"] - o["start_us"]) / 1e6 for o in measured]
    out = {"cached_mb": res["cached_bytes"] / MB, "samples": len(lat),
           # where setup_s goes
           "setup_jvm_s": res["jvm_s"], "setup_prepare_s": res["prepare_s"],
           "setup_warm_s": res["warm_s"]}
    p = stats.tail_percentile(len(lat))
    if p is not None:
        out[f"latency_p{p:g}_s"] = stats.percentile(lat, p)
        out["latency_tail_beyond"] = len(lat) - int(len(lat) * p / 100.0)
    span_s = (measured[-1]["end_us"] - measured[0]["start_us"]) / 1e6
    out["ops_per_s"] = len(measured) / span_s
    jobs = res["jobs"]
    written = sum(j["out_bytes"] for j in jobs if any(within(j, o) for o in measured))
    if workload == "upload_stream":
        kept = {u["name"]: len(u["model"]) for u in info["uploads"]}
        out["rows_per_s"] = sum(kept[o["upload"]] for o in measured) / span_s
        out["write_amp"] = written / sum(o["bytes"] for o in measured)
    elif workload == "update_refresh":
        out["rows_per_s"] = sum(info["batches"][o["cycle"]] for o in measured) / span_s
        out["write_amp"] = written / sum(info["batch_bytes"][o["cycle"]] for o in measured)
    return out


def per_layer(workload, res, measured, info):
    m = {k: 0.0 for k in PER_LAYER}
    n = len(measured)
    spans = res["spans"]
    jobs = res["jobs"]
    op_jobs = [[j for j in jobs if within(j, o)] for o in measured]
    all_jobs = [j for js in op_jobs for j in js]
    in_run = [s for s in spans if s["start_us"] >= res["measure_start_us"]]

    def span_mean(name):
        """Mean span duration inside the measured window."""
        ds = [(s["end_us"] - s["start_us"]) / 1e6 for s in in_run if s["name"] == name]
        return sum(ds) / len(ds) if ds else 0.0

    def count_sum(name):
        return sum(s["value"] for s in in_run if s["name"] == name)

    def job_s(pred):
        return sum(stats.union_length([(j["start_us"], j["end_us"])
                                       for j in js if pred(j)]) for js in op_jobs) / 1e6 / n

    # streaming: the run() call, and micro-batch phases per operation
    m["streaming.start_s"] = span_mean("streaming.start")
    bs = [b for b in res["batches"] if any(within(b, o) for o in measured)]
    m["streaming.trigger_s"] = sum(b["trigger_ms"] for b in bs) / 1e3 / n
    m["streaming.add_batch_s"] = sum(b["add_batch_ms"] for b in bs) / 1e3 / n
    m["streaming.overhead_s"] = m["streaming.trigger_s"] - m["streaming.add_batch_s"]

    m["clean.busy_s"] = span_mean("clean.busy")
    rin, rout = count_sum("clean.rows_in"), count_sum("clean.rows_out")
    cleans = max(1, sum(1 for s in in_run if s["name"] == "clean.rows_in"))
    m["clean.rows_in"], m["clean.rows_out"] = rin / cleans, rout / cleans
    m["clean.keep_ratio"] = rout / rin if rin else 0.0

    roles = {j["job"]: stats.merge_role(j) for j in all_jobs}
    m["merge.stage_s"] = job_s(lambda j: roles[j["job"]] == "stage")
    m["merge.busy_s"] = job_s(lambda j: roles[j["job"]] is not None)
    m["merge.compact_s"] = job_s(lambda j: roles[j["job"]] == "compact")
    m["merge.rows_rewritten"] = sum(j["out_records"] for j in all_jobs
                                   if roles[j["job"]] == "rewrite") / n
    m["merge.bytes_written"] = sum(j["out_bytes"] for j in all_jobs
                                   if roles[j["job"]] is not None) / n
    if workload == "update_refresh":
        staged = sum(info["batches"][o["cycle"]] for o in measured)
        # driver time of the merge call: the part no Spark job covers
        gaps = [stats.self_time(s, [j for j in jobs if within(j, s)])
                for s in in_run if s["name"] == "merge.updateTable"]
        m["merge.driver_s"] = sum(gaps) / 1e6 / n
    else:
        kept = {u["name"]: len(u["model"]) for u in info.get("uploads", [])}
        staged = sum(kept.get(o.get("upload"), 0) for o in measured)
        # micro-batch time not covered by any Spark job: listings, renames,
        # notify and dead-letter moves, driven from the batch thread
        gaps = [max(0.0, b["trigger_ms"] * 1e3 - stats.union_length(
            [(j["start_us"], j["end_us"]) for j in jobs if within(j, b)])) for b in bs]
        m["merge.driver_s"] = sum(gaps) / 1e6 / n
    m["merge.useful_ratio"] = staged / (m["merge.rows_rewritten"] * n) \
        if m["merge.rows_rewritten"] else 0.0
    files = sum(1 for s in in_run if s["name"] == "merge.files_written")
    if files:
        m["merge.files_written"] = count_sum("merge.files_written") / files
        m["merge.base_files"] = count_sum("merge.base_files") / files

    m["views.create_all_s"] = span_mean("views.createAll")
    m["views.core_build_s"] = span_mean("views.transactionsCore")
    for k in VIEW_KINDS:
        m[f"views.{k}_s"] = span_mean(f"views.{k}")
    ops_ids = {o["op"] for o in measured}
    op_spans = [s for s in spans if s["op"] in ops_ids]
    # single-task stages of view jobs: the single-partition ROW_NUMBER
    # window of the registered TRANSACTIONS SQL shows up here
    m["views.serial_s"] = sum(j["serial_ms"] for j in stats.attach_jobs(op_spans, all_jobs)
                              if j["layer"] == "views") / 1e3 / n
    m["cache.refresh_s"] = span_mean("cache.refresh")
    m["cache.pinned_mb"] = res["pinned_bytes"] / MB
    m["cache.transient_mb"] = (res["cached_bytes"] - res["pinned_bytes"]) / MB
    for q, module in DECK:
        m[f"deck.{q}_s"] = span_mean(f"{module}.{q}")

    m["spark.jobs"] = len(all_jobs) / n
    m["spark.tasks"] = sum(j["tasks"] for j in all_jobs) / n
    m["spark.shuffle_mb"] = sum(j["shuffle_read"] for j in all_jobs) / MB / n
    m["spark.spill_mb"] = sum(j["spill"] for j in all_jobs) / MB / n
    m["spark.gc_s"] = sum(j["gc_ms"] for j in all_jobs) / 1e3 / n
    m["spark.input_mb"] = sum(j["in_bytes"] for j in all_jobs) / MB / n
    m["spark.output_mb"] = sum(j["out_bytes"] for j in all_jobs) / MB / n

    for layer, t in stats.self_time_by_layer(op_spans, all_jobs).items():
        key = f"self.{layer}_s"
        if key in m:
            m[key] = t / n
    m["host.cores_start"] = res["host"]["start"]["effective_cores"]
    m["host.cores_end"] = res["host"]["end"]["effective_cores"]
    m["trace.spans"] = len(spans) + len(jobs) + len(res["batches"])
    return m


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["upload_stream", "update_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the repository root: build.sbt and src/main/scala/graft are missing")
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)
    classpath = build(root, bb)

    tag = f"{a.workload}-{a.seed}-{os.getpid()}"
    data = os.path.join(bb, "data", tag)
    work = os.path.join(bb, "work", tag)
    out = os.path.join(bb, "work", f"{tag}.json")
    info = make_inputs(a.workload, a.seed, data)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    cpus = os.cpu_count() or 1
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), data, work, out])
    log = os.path.join(bb, f"{a.workload}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        # a terminated benchmark must not leave its JVM behind
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            rc = proc.wait(timeout=a.seconds + 140)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc is None:
            die(f"JVM timed out; see {log}", 3)
    if rc != 0 or not os.path.exists(out):
        die(f"JVM failed (rc={rc}); see {log}", 3)
    with open(out) as f:
        res = json.load(f)

    if a.workload == "upload_stream":
        problems, bad = check_upload(res, info)
        failed_ops = {o["op"] for o in res["ops"] if not o["ok"]}
    else:
        problems, bad = check_refresh(res, info)
        more, bad_kinds = check_oracle(res, os.path.join(work, "update_refresh", "tables"), cpus)
        problems += more
        if bad_kinds & {q for q, _ in DECK}:  # every cycle read that answer
            bad |= {o["op"] for o in res["ops"]}
        failed_ops = bad | {o["op"] for o in res["ops"] if not o["ok"]}
    for o in res["ops"]:
        if not o["ok"] and o.get("error"):
            problems.append(f"op {o['op']} {o['kind']}: {o['error'][:300]}")
    attempted = len(res["ops"])
    failed = len(failed_ops) + (1 if problems and not failed_ops else 0)
    correct = not problems and failed == 0

    # the timed operation: upload -> notified (a poisoned upload is
    # dead-lettered instead; it is checked, not timed), or one refresh cycle
    measured = [o for o in res["ops"] if o["start_us"] >= res["measure_start_us"]
                and o["kind"] != "upload_poison"]
    if not measured:
        die("no operation completed inside the measured window", 4)
    e2e = end_to_end(res, measured)
    summary = dict(e2e, **extras(a.workload, res, measured, info))
    summary["error_rate"] = failed / attempted
    summary["host_cores"] = [res["host"]["start"]["effective_cores"],
                             res["host"]["end"]["effective_cores"]]
    metrics = per_layer(a.workload, res, measured, info) if a.trace else e2e

    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    if a.trace:  # the spans, jobs and micro-batches, for inspection
        os.makedirs(os.path.join(bb, "traces"), exist_ok=True)
        os.replace(out, os.path.join(bb, "traces", f"{a.workload}-{a.seed}.json"))
    else:
        os.remove(out)

    for p in problems:
        print(f"MISMATCH {p}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "summary": {
        k: {"value": v, "unit": unit_of(k)}
        if isinstance(v, float) else v for k, v in summary.items()}}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k)}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
