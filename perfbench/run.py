#!/usr/bin/env python3
"""Run one workload of the repository's benchmark and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest_summary --seed 1 --seconds 10 --trace 0

Workloads: ingest_summary and catalog_heavy (see perfbench/README.md). The
first run in a checkout builds the program and the harness from source with
sbt, and generates the base tables; both are kept under .bench_build/ and
rebuilt when their sources change.

With --trace 0 the last line of stdout is one JSON object with every
end-to-end metric; with --trace 1 it carries every per-layer metric, and the
run's spans are written to .bench_build/runs/<run>/spans.json. Each run also
writes a record (machine, settings, canary, every measurement, checks) to
.bench_build/runs/<run>/record.json. A failed correctness check fails the
run: it is counted in `failed`, `correct` is false, and the exit code is 1.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import benchlib as bl  # noqa: E402
import gen  # noqa: E402

BUILD = ROOT / ".bench_build"
HEAP = "3g"
MAX_CPUS = 4
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as the root build sets).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# Stated rates and sizes. The open loop's rate is one the seed sustains
# without a growing backlog: its batches finish well inside the trigger.
INGEST = {"setup_reps": 3, "interval_s": 0.1, "open_rows": 200,
          "drain_files": 6, "drain_rows": 2000, "trigger_ms": 2000}
CATALOG = {"setup_reps": 3, "queries": [
    "kv_bulk_put", "q1_pricing_summary", "dau_wau", "winnowing_fingerprints",
    "ngram_jaccard_pairs", "cosine_near_dup", "multimodal_resize",
    "attribution_last_touch", "bootstrap_ci", "corpus_topp_select"]}

E2E = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
       ("throughput_per_s", "1/s")]
MODULES = ["CoreOps", "RelationalOps", "TimeWindowOps", "TextOps", "DedupOps",
           "SimilarityOps", "MultimodalOps", "AdvancedOps", "StatsOps", "FilterOps"]
INGEST_LAYERS = [
    ("sources.latestOffset_ms", "ms/batch"), ("sources.getBatch_ms", "ms/batch"),
    ("engine.queryPlanning_ms", "ms/batch"), ("engine.walCommit_ms", "ms/batch"),
    ("engine.commitOffsets_ms", "ms/batch"), ("engine.trigger_ms", "ms/batch"),
    ("StreamJobs.addBatch_ms", "ms/batch"), ("ingest.queue_wait_ms", "ms/file"),
    ("ingest.spark_jobs_per_batch", "count"), ("ingest.tasks_per_batch", "count"),
    ("ingest.rows_per_batch", "count"), ("ingest.batches", "count"),
    ("ingest.gen_late_ms", "ms/file"), ("TopicTableSink.files_per_batch", "count"),
    ("KvUpsertSink.touched_buckets", "count"), ("KvUpsertSink.bytes_written_per_batch", "bytes"),
    ("KvUpsertSink.write_amp", "ratio"), ("KvUpsertSink.upsert_useful_ratio", "ratio"),
    ("KvUpsertSink.table_bytes_end", "bytes"), ("KvUpsertSink.table_files_end", "count")]
CATALOG_LAYERS = (
    [("catalog.total_s", "s/pass"), ("catalog.build_s", "s/pass"), ("catalog.plan_s", "s/pass"),
     ("catalog.exec_s", "s/pass")]
    + [(f"{m}.s", "s/pass") for m in MODULES]
    + [(f"q.{q}.s", "s/pass") for q in CATALOG["queries"]]
    + [("catalog.shuffle_write_bytes", "bytes"), ("catalog.shuffle_read_bytes", "bytes"),
       ("catalog.spill_bytes", "bytes"), ("catalog.gc_s", "s/pass"),
       ("catalog.jobs", "count"), ("catalog.tasks", "count"),
       ("catalog.task_skew", "ratio")])
TRACED = [("traced." + n, u) for n, u in E2E]
PER_LAYER = INGEST_LAYERS + CATALOG_LAYERS + TRACED


class RunFailed(Exception):
    pass


def run_proc(cmd, timeout, **kw):
    """subprocess.run in its own process group, so a timeout also stops the
    children it started (sbt's JVM); waits until all have ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise RunFailed(f"{cmd[0]} ran out of time")
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


# ---------------------------------------------------------------- build

def _digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = sorted(base.rglob("*")) if base.is_dir() else [base]
        for f in files:
            if f.is_file() and "target" not in f.relative_to(ROOT).parts:
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        raise RunFailed("the program's sources (src/main/scala, build.sbt) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise RunFailed("sbt and java are needed to build the program")
    key = _digest([ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
                   HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"])
    cp_file, key_file = BUILD / "classpath.txt", BUILD / "build.key"
    if cp_file.exists() and key_file.exists() and key_file.read_text() == key:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    r = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        800, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    (BUILD / "build.log").write_text(r.stdout + r.stderr)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise RunFailed("build failed; see .bench_build/build.log")
    cp_file.write_text(lines[-1])
    key_file.write_text(key)
    return lines[-1]


def base_tables():
    d = BUILD / "tables"
    key = _digest([HERE / "gen.py"])
    if (d / "key").exists() and (d / "key").read_text() == key:
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen.make_tables(str(d))
    (d / "key").write_text(key)
    return d


# ---------------------------------------------------------------- run record

def machine():
    cpus = len(os.sched_getaffinity(0))
    fs = "unknown"
    try:
        best = ""
        for line in open("/proc/mounts"):
            _, mnt, kind = line.split()[:3]
            if str(BUILD).startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, kind
    except OSError:
        pass
    return {"nproc": cpus, "local_n": min(cpus, MAX_CPUS), "heap": HEAP,
            "scratch_root": str(BUILD.relative_to(ROOT)),
            "scratch_fs": fs, "scratch_tmpfs": fs in ("tmpfs", "ramfs")}


def iso_ms(s):
    return datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def run_harness(cp, plan, rundir, deadline):
    plan_path, result_path = rundir / "plan.json", rundir / "result.json"
    gen.write_json(plan_path, plan)
    (rundir / "tmp").mkdir()
    cmd = ["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={rundir / 'tmp'}",
           "-cp", cp, "perfbench.Harness", str(plan_path), str(result_path)]
    with open(rundir / "harness.log", "w") as log:
        r = run_proc(cmd, max(10.0, deadline - time.time()), cwd=rundir, stdout=log,
                     stderr=subprocess.STDOUT)
    if r.returncode != 0 or not result_path.exists():
        raise RunFailed(f"the harness exited with {r.returncode}; see harness.log")
    return json.loads(result_path.read_text())


# ---------------------------------------------------------------- ingest

ENGINE_ORDER = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                "commitOffsets"]


def batches(phase):
    out = []
    for b in phase["batches"]:
        p = json.loads(b["progress"])
        if p["numInputRows"] == 0:
            continue
        start = iso_ms(p["timestamp"])
        out.append({"query": p["id"], "id": p["batchId"], "rows": p["numInputRows"],
                    "start": start, "end": start + p["durationMs"]["triggerExecution"],
                    "d": p["durationMs"], "listing": b.get("kv_listing")})
    return sorted(out, key=lambda b: b["id"])


def summary_line(batch_id, n, ts_us):
    date = datetime.datetime.fromtimestamp(ts_us / 1e6, datetime.timezone.utc)
    return (f"Spark - date:{date.strftime('%Y/%m/%d %H:%M')} from topic: page_visits"
            f" - number of RDD (batches): {batch_id + 1} - number of message {n}")


def expected_ingest_kv(files, file_batch, bs):
    """Independent recompute of the pipeline's cells: per batch, one summary
    cell under the batch's epoch second and one cell per distinct
    (key, value) under "<second>-<key>", all stamped with the batch's
    largest event time, folded last-write-wins. Returns the table and, per
    batch, its cells and how many of them were new or changed."""
    import pyarrow.parquet as pq
    per_batch = [[] for _ in bs]
    for f, b in zip(files, file_batch):
        per_batch[b].append(pq.read_table(f, columns=["key", "value", "timestamp"]))
    state, upserts = {}, []
    for b, tables in zip(bs, per_batch):
        keys = [k for t in tables for k in t["key"].to_pylist()]
        vals = [v for t in tables for v in t["value"].to_pylist()]
        ts = max(int(t["timestamp"].cast("int64").to_numpy().max()) for t in tables)
        sec = ts // 1_000_000
        cells = [(str(sec), "cf1", "messages", summary_line(b["id"], len(keys), ts), ts)]
        cells += [(f"{sec}-{'null' if k is None else k}", "cf1", "content",
                   "kafka empty message" if k is None else f"{k}--|--{v}", ts)
                  for k, v in set(zip(keys, vals))]
        upserts.append((cells, bl.lww_fold(state, cells)))
    return state, upserts


def check_ingest_phase(name, phase, bs, files, rows_per_file, file_batch, problems):
    """Count the batches whose outputs are wrong, describing each problem;
    also return each batch's recomputed upsert (see expected_ingest_kv)."""
    bad = set()
    lines = {}
    for value, _ in phase["summary"]:
        k = int(value.split("number of RDD (batches): ")[1].split(" ")[0]) - 1
        lines.setdefault(k, []).append(value)
    for b in bs:
        if len(lines.get(b["id"], [])) != 1:
            bad.add(b["id"])
            problems.append(f"{name}: batch {b['id']} has {len(lines.get(b['id'], []))} summary lines")
    extra = set(lines) - {b["id"] for b in bs}
    if extra:
        problems.append(f"{name}: summary lines for unknown batches {sorted(extra)}")
        bad |= extra
    counted = sum(int(v.rsplit(" ", 1)[1]) for vs in lines.values() for v in vs)
    if counted != len(files) * rows_per_file:
        problems.append(f"{name}: summary lines count {counted} messages, "
                        f"{len(files) * rows_per_file} were generated")
        bad |= {b["id"] for b in bs}
    if file_batch is None:
        problems.append(f"{name}: batches did not take whole files")
        return len(bs), None
    want, upserts = expected_ingest_kv(files, file_batch, bs)
    got = {}
    for r, c, q, v, ts in phase["kv"]:
        got.setdefault(r, {})[(c, q)] = (ts, v)
    if got != want:
        diff = sorted(set(got) ^ set(want)) or sorted(
            r for r in want if got.get(r) != want[r])
        problems.append(f"{name}: KV table differs from the recompute at rowkeys {diff[:5]}")
        bad |= {b["id"] for b in bs}
    return len(bad), upserts


def analyse_ingest(res, plan, traced):
    rec, problems = {}, []
    watch = {p: Path(plan["work"]) / p / "watch" for p in ("open", "drain")}
    o_bs, d_bs = batches(res["open"]), batches(res["drain"])
    n_open = len(res["open"]["files"])
    fpb = bl.files_per_batch([b["rows"] for b in o_bs], INGEST["open_rows"])
    file_batch = bl.batch_of_files(n_open, fpb) if fpb else None
    failed, upserts = check_ingest_phase("open", res["open"], o_bs,
                                [watch["open"] / f for f in res["open"]["files"]],
                                INGEST["open_rows"], file_batch, problems)
    d_fb = list(range(len(d_bs))) if all(b["rows"] == INGEST["drain_rows"] for b in d_bs) else None
    failed += check_ingest_phase("drain", res["drain"], d_bs,
                                 [watch["drain"] / f for f in res["drain"]["files"]],
                                 INGEST["drain_rows"], d_fb, problems)[0]
    attempted = len(o_bs) + len(d_bs)
    if file_batch is None:
        return {}, {}, attempted, max(failed, 1), problems, rec
    # the primer (file 0, batch 0) has no due time; the schedule starts after it
    lat, wait, late = bl.open_loop(res["open"]["due_ms"], res["open"]["moved_ms"],
                                   file_batch[1:], [b["start"] for b in o_bs],
                                   [b["end"] for b in o_bs])
    p, tail_ms = bl.tail(lat)
    rec.update({"latency_samples": len(lat), "tail_percentile": p})
    e2e = {"setup_s": bl.median(res["setup_s"]),
           "latency_p50_s": bl.median(lat) / 1000.0,
           "latency_tail_s": (tail_ms if tail_ms is not None else max(lat)) / 1000.0,
           "throughput_per_s": bl.drain_rate([b["rows"] for b in d_bs], [b["end"] for b in d_bs])}
    layers = {}
    if traced:
        sched = o_bs[1:]  # the primer's batch creates the sinks; not a scheduled batch
        med = lambda k: bl.median([b["d"].get(k, 0) for b in sched])  # noqa: E731
        ops = res.get("jobs", {})
        per_batch = [ops.get(f"batch-{b['query']}-{b['id']}", {}) for b in sched]
        acc = [bl.write_accounting(a["listing"] or {}, b["listing"] or {})
               for a, b in zip(o_bs, sched)]
        end = res["open"]["kv_table_end"]
        layers = {
            "sources.latestOffset_ms": med("latestOffset"), "sources.getBatch_ms": med("getBatch"),
            "engine.queryPlanning_ms": med("queryPlanning"), "engine.walCommit_ms": med("walCommit"),
            "engine.commitOffsets_ms": med("commitOffsets"),
            "engine.trigger_ms": med("triggerExecution"), "StreamJobs.addBatch_ms": med("addBatch"),
            "ingest.queue_wait_ms": bl.median(wait),
            "ingest.spark_jobs_per_batch": bl.median([o.get("jobs", 0) for o in per_batch]),
            "ingest.tasks_per_batch": bl.median([o.get("tasks", 0) for o in per_batch]),
            "ingest.rows_per_batch": bl.median([b["rows"] for b in sched]),
            "ingest.batches": len(sched), "ingest.gen_late_ms": max(late),
            "TopicTableSink.files_per_batch": res["open"]["topic_files"] / len(o_bs),
            "KvUpsertSink.touched_buckets": bl.median([a[0] for a in acc]),
            "KvUpsertSink.bytes_written_per_batch": bl.median([a[1] for a in acc]),
            "KvUpsertSink.write_amp": bl.median(
                [a[1] / bl.cell_bytes(c) for a, (c, _) in zip(acc, upserts[1:])]),
            "KvUpsertSink.upsert_useful_ratio": bl.median(
                [ch / a[2] if a[2] else 0.0 for a, (_, ch) in zip(acc, upserts[1:])]),
            "KvUpsertSink.table_bytes_end": sum(v[0] for v in end.values()),
            "KvUpsertSink.table_files_end": len(end)}
    rec["batch_spans"] = [s for b in o_bs + d_bs for s in batch_spans(b)]
    return e2e, layers, attempted, failed, problems, rec


def batch_spans(b):
    """A micro-batch as a span, its engine phases as children laid end to
    end in the order the engine runs them."""
    op = f"batch-{b['query']}-{b['id']}"
    root = {"id": op, "op": op, "name": "micro-batch", "parent": 0,
            "start_ms": b["start"], "end_ms": b["end"]}
    out, t = [root], b["start"]
    for k in ENGINE_ORDER:
        d = b["d"].get(k, 0)
        out.append({"id": f"{op}-{k}", "op": op, "name": k, "parent": op,
                    "start_ms": t, "end_ms": t + d})
        t += d
    return out


# ---------------------------------------------------------------- catalog

def check_catalog(tables, dump, names):
    """Hash-compare each dumped result with the DuckDB oracle (tools/check.py)."""
    oracle = json.loads((Path(dump) / "oracle_sql.json").read_text())
    checked = [n for n in names if n in oracle]
    bad, problems = set(), []
    if checked:
        r = run_proc([sys.executable, str(ROOT / "tools" / "check.py"), str(tables),
                      str(dump), *checked], 120, stdout=subprocess.PIPE,
                     stderr=subprocess.PIPE, text=True)
        ok = {ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("OK ")}
        for n in checked:
            if n not in ok:
                bad.add(n)
        problems += [ln for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
    for n in names:
        if n not in oracle and not any((Path(dump) / n).glob("*.parquet")):
            bad.add(n)
            problems.append(f"{n}: no result written")
    return bad, problems, checked


def analyse_catalog(res, plan, traced):
    names = plan["order"]
    bad, problems, checked = check_catalog(plan["tables"], plan["dump"], names)
    bad |= set(res["failed"])
    problems += [f"{q}: threw" for q in res["failed"]]
    times = {t["query"]: t["s"] for t in res["queries"]}
    qs = [times[q] for q in names if q in times]
    # ten different queries: their median jumps between two queries from run
    # to run, so the typical query is their geometric mean, and the tail the
    # mean of the slower half (too few samples for the ten-beyond rule)
    rec = {"queries": len(qs), "oracle_checked": checked}
    if not qs:
        return {}, {}, len(names), len(names), problems, rec
    e2e = {"setup_s": bl.median(res["setup_s"]), "latency_p50_s": bl.geomean(qs),
           "latency_tail_s": bl.slower_half_mean(qs),
           "throughput_per_s": len(qs) / sum(qs)}
    layers = {}
    if traced:
        spans = res["spans"]
        by = lambda name: sum(s["end_ms"] - s["start_ms"] for s in spans  # noqa: E731
                              if s["name"] == name) / 1000.0
        ops = res.get("jobs", {})
        qops = [ops.get(f"q-{q}", {}) for q in names]
        skews = [max(st) / bl.median(st) for o in qops for st in o.get("stage_task_ms", [])
                 if len(st) > 1 and bl.median(st) > 0]
        mod = res["module_of"]
        layers = {"catalog.total_s": sum(qs),
                  "catalog.build_s": by("Q.fn"), "catalog.plan_s": by("executedPlan"),
                  "catalog.exec_s": by("noop write"),
                  "catalog.shuffle_write_bytes": sum(o.get("shuffle_write_bytes", 0) for o in qops),
                  "catalog.shuffle_read_bytes": sum(o.get("shuffle_read_bytes", 0) for o in qops),
                  "catalog.spill_bytes": sum(o.get("spill_bytes", 0) for o in qops),
                  "catalog.gc_s": sum(o.get("gc_ms", 0) for o in qops) / 1000.0,
                  "catalog.jobs": sum(o.get("jobs", 0) for o in qops),
                  "catalog.tasks": sum(o.get("tasks", 0) for o in qops),
                  "catalog.task_skew": max(skews) if skews else 1.0}
        for m in MODULES:
            layers[f"{m}.s"] = sum(times.get(q, 0.0) for q in names if mod.get(q) == m)
        for q in names:
            layers[f"q.{q}.s"] = times.get(q, 0.0)
    return e2e, layers, len(names), len(bad), problems, rec


# ---------------------------------------------------------------- main

WORKLOADS = {"ingest_summary": analyse_ingest, "catalog_heavy": analyse_catalog}


def plan_for(workload, seed, seconds, traced, rundir, tables, cpus):
    inputs, work = rundir / "inputs", rundir / "work"
    work.mkdir(parents=True)
    plan = {"workload": workload, "trace": traced, "cpus": cpus, "seconds": seconds,
            "spark_local_dir": str(rundir / "spark-local"), "work": str(work),
            "inputs": str(inputs), "tables": str(tables)}
    if workload == "ingest_summary":
        p = dict(INGEST, open_files=max(1, round(seconds / INGEST["interval_s"])))
        files = gen.ingest_inputs(str(tables), str(inputs), seed, p)
        plan.update(p, setup_files=files["setup"], primer_file=files["primer"][0],
                    open_files=files["open"], drain_files=files["drain"])
    elif workload == "catalog_heavy":
        plan.update(setup_reps=CATALOG["setup_reps"], dump=str(rundir / "dump"),
                    order=gen.catalog_order(seed, CATALOG["queries"]))
    else:
        raise RunFailed(f"unknown workload {workload}")
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    traced = a.trace == 1
    phases = {}

    def phase(name, f, *args):
        t = time.time()
        try:
            return f(*args)
        finally:
            phases[name] = time.time() - t

    try:
        cp = phase("build_s", build)
        deadline = time.time() + RUN_LIMIT_S
        tables = phase("tables_s", base_tables)
        m = machine()
        rundir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
        shutil.rmtree(rundir, ignore_errors=True)
        plan = phase("inputs_s", plan_for, a.workload, a.seed, a.seconds, traced, rundir,
                     tables, m["local_n"])
        res = phase("harness_s", run_harness, cp, plan, rundir, deadline)
        analyse = WORKLOADS[a.workload]
        e2e, layers, attempted, failed, problems, rec = phase(
            "checks_s", analyse, res, plan, traced)
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    metrics = {}
    if e2e:
        names = PER_LAYER if traced else E2E
        values = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        values.update(layers)
        values.update({"traced." + k: v for k, v in e2e.items()})
        if not traced:
            values = e2e
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names}
    spans = res.get("spans", []) + rec.pop("batch_spans", [])
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "machine": m, "settings": {k: v for k, v in plan.items()
                                         if not isinstance(v, list) or len(v) <= 20},
              "session_s": res["session_s"], "canary_before_s": res["canary_before_s"],
              "canary_after_s": res["canary_after_s"], "heap_max_bytes": res["heap_max_bytes"],
              "spark_master": res["spark_master"], "setup_samples_s": res["setup_s"],
              "end_to_end": e2e, "per_layer": layers, "problems": problems,
              "wall_s": time.time() - t_start, "phases": phases, **rec}
    if traced:
        self_ms = {}
        st = bl.self_times(spans)
        for s in spans:
            self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + st[s["id"]]
        record["self_ms_by_span"] = self_ms
        gen.write_json(rundir / "spans.json", spans)
        bases = sorted((BUILD / "runs").glob(f"{a.workload}-s*-t0/record.json"),
                       key=lambda p: p.stat().st_mtime)
        if bases:
            untraced = json.loads(bases[-1].read_text())["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] / untraced[k] - 1.0
                                          for k in e2e if untraced.get(k)}
    gen.write_json(rundir / "record.json", record)
    for d in ("inputs", "work", "dump", "spark-local", "tmp"):
        shutil.rmtree(rundir / d, ignore_errors=True)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    for n, v in metrics.items():
        print(f"{n} {v['value']:.6g} {v['unit']}")
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
