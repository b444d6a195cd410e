"""The repository's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine from source
(build.py), makes the workload's inputs from the seed (cached under
`.bench_build/data`), runs the workload in a fresh JVM
(`perfbench.Harness`) with local[nproc] and a fixed heap, checks the
outputs, deletes what the run left behind, and prints one JSON object as
the last line of stdout: `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
second, traced JVM runs after the untraced one and the metrics are the
per-layer ones, with the spans written to `.bench_build/traces/`.
See README.md beside this file for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import etl_inputs  # noqa: E402

# a run ends within this many seconds once its inputs exist; etl_files,
# which BENCHMARK.json does not list, handles its 200 files in about two
# minutes
RUN_BUDGET_S = {"etl_files": 600}
DEFAULT_BUDGET_S = 170
HEAP = "3g"
SETUP_SAMPLES = 2

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

# The suite's fixed query set: one query from each of nine operator
# modules (two from Relational), each about a second cold at sf0.1, so a
# run holds a cold pass and two warm passes (README.md).
SUITE_OPS = [
    "q_etl_txn", "q_log_merge", "q_tpch_q6", "q_join_semi",
    "q_window_tumbling", "q_token_budget", "q_kanon", "q_image_phash",
    "q_dedup_exact", "q_embed_quantize",
]

# LLM-data queries whose cost is executor work on the corpus (README.md).
CORPUS_OPS = ["q_tfidf", "q_bm25", "q_embed_neardup", "q_ann_ivf_probe"]
CORPUS_SIZE = (10000, 4000, 2)  # documents, vectors, vocabulary multiple

WORKLOADS = {
    "suite_sf0.1": {"kind": "queries", "ops": SUITE_OPS},
    "corpus_2x": {"kind": "queries", "ops": CORPUS_OPS},
    "etl_files": {"kind": "etl"},
}


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_java(args, cwd, timeout, log_path):
    """Runs one JVM to its end; returns (pid, exit code or None on timeout).
    The JVM is killed and waited for however this function is left."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(["java"] + args, cwd=cwd, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            return proc.pid, proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return proc.pid, None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            remove_program_tmp(proc.pid)


def remove_program_tmp(pid):
    """The engine keeps per-JVM fixtures and a warehouse under /tmp, keyed
    by pid; they are removed once that JVM has exited."""
    for path in glob.glob(f"/tmp/graft_rt/*_{pid}") + [f"/tmp/graft_warehouse_{pid}"]:
        shutil.rmtree(path, ignore_errors=True)


def ensure_inputs(root, classes, workload, seed):
    """Returns the input directory of this workload, generating it on first
    use. The query workloads read fixed tables (their seed orders the
    queries); the etl files are drawn from the seed. Generation time is
    never part of a measurement."""
    data_root = os.path.join(root, build.BUILD_DIR, "data")
    if workload == "etl_files":
        d = os.path.join(data_root, f"etl_seed{seed}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            etl_inputs.generate(d, seed)
        return d
    if workload == "suite_sf0.1":
        d = os.path.join(data_root, "suite_sf0.1")
        main = ["perfbench.Inputs", d]
    else:
        d = os.path.join(data_root, "corpus_{}_{}_{}".format(*CORPUS_SIZE))
        main = ["graft.ScaleData", d] + [str(n) for n in CORPUS_SIZE]
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        log(f"generating inputs in {d}")
        _, code = run_java(jvm_flags(classes, tmp) + main, root, 600,
                           os.path.join(tmp, "generate.log"))
        if code != 0:
            raise SystemExit(f"perfbench: input generation failed, see {tmp}/generate.log")
        shutil.rmtree(tmp, ignore_errors=True)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def jvm_flags(classes, tmp):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dderby.system.home={tmp}",
        f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}",
        "-cp", classes + ":" + os.path.join(build.spark_jars(), "*"),
    ]


def harness(root, classes, mode, kind, data, ops, seconds, trace, deadline):
    """One JVM, ended by `deadline` (time.time()). Returns (records, setup
    seconds measured from launch)."""
    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    ops_file = os.path.join(run_dir, "ops.txt")
    with open(ops_file, "w") as f:
        f.write("\n".join(ops) + "\n")
    t0 = time.time()
    try:
        _, code = run_java(
            jvm_flags(classes, tmp) + ["perfbench.Harness", mode, kind, data,
                                       run_dir, ops_file, str(seconds), str(trace)],
            root, deadline - time.time(), os.path.join(run_dir, "jvm.log"))
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"perfbench: harness JVM exited with {code}")
        with open(os.path.join(run_dir, "records.jsonl")) as f:
            records = [json.loads(line) for line in f if line.strip()]
        if kind == "etl":
            read_etl_outputs(records)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    setup = next(r for r in records if r["kind"] == "setup")
    return records, setup["end_ms"] / 1000 - t0


def read_etl_outputs(records):
    """The JSON documents are read before the run directory goes."""
    for r in records:
        if r["kind"] == "etl_out":
            meta = r["json"] + ".meta.json"
            try:
                with open(r["json"]) as f:
                    r["json_rows"] = len(json.load(f))
                with open(meta) as f:
                    r["record_count"] = int(json.load(f)["record_count"])
            except (OSError, ValueError, KeyError):
                r["json_rows"] = r["record_count"] = None


def oracle_counts(data, records):
    """DuckDB row count of each op's oracle SQL over the same tables,
    computed once per input set and SQL text and cached beside the inputs."""
    import duckdb
    cache_path = os.path.join(data, "oracle_counts.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    out, con = {}, None
    for r in records:
        if r["kind"] != "oracle":
            continue
        key = r["name"] + ":" + hashlib.sha256(r["sql"].encode()).hexdigest()[:16]
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for p in glob.glob(os.path.join(data, "*.parquet")):
                    t = os.path.basename(p)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{p}/*.parquet')")
            cache[key] = con.execute(f"SELECT count(*) FROM ({r['sql']})").fetchone()[0]
        out[r["name"]] = cache[key]
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return out


def check_queries(data, records):
    """Names of the ops that failed or whose row count differs from the
    oracle's."""
    bad = {r["name"] for r in records if r["kind"] == "op" and not r["ok"]}
    want = oracle_counts(data, records)
    for r in records:
        if r["kind"] == "count" and r["rows"] != want.get(r["name"]):
            log(f"output check: {r['name']} rows={r['rows']} oracle={want.get(r['name'])}")
            bad.add(r["name"])
    return bad


def check_etl(data, records):
    """Indices of the files whose handler call failed or whose JSON document
    disagrees with the CSV; the warehouse totals count as one more op."""
    expect = etl_inputs.record_counts(data)
    ops = [r for r in records if r["kind"] == "op"]
    outs = {r["index"]: r for r in records if r["kind"] == "etl_out"}
    bad = set()
    for o in ops:
        if not o["ok"]:
            bad.add(o["pass"])
            continue
        want = expect[o["name"]]
        got = outs[o["pass"]]
        if got["record_count"] != want or got["json_rows"] != want:
            log(f"output check: {o['name']} record_count={got['record_count']} "
                f"rows={got['json_rows']} expected={want}")
            bad.add(o["pass"])
    wh = next(r for r in records if r["kind"] == "derby")
    done = [o["name"] for o in ops]
    rows, cents = etl_inputs.warehouse_totals(data, done)
    if wh.get("rows") != rows or wh.get("cents") != cents:
        log(f"output check: warehouse rows={wh.get('rows')} cents={wh.get('cents')} "
            f"expected rows={rows} cents={cents} {wh.get('error', '')}")
        bad.add("warehouse")
    return bad


def op_list(workload, data, seed):
    if WORKLOADS[workload]["kind"] == "etl":
        return etl_inputs.files(data)
    ops = list(WORKLOADS[workload]["ops"])
    random.Random(seed).shuffle(ops)
    return ops


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a stopped run still kills its JVM and removes what it left behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    classes = build.build(root)
    cores = os.cpu_count()
    load_start = load1()
    data = ensure_inputs(root, classes, a.workload, a.seed)
    kind = WORKLOADS[a.workload]["kind"]
    ops = op_list(a.workload, data, a.seed)
    repeated = kind == "queries"
    deadline = time.time() + RUN_BUDGET_S.get(a.workload, DEFAULT_BUDGET_S)

    def jvm(mode, trace):
        return harness(root, classes, mode, kind, data, ops, a.seconds, trace, deadline)

    records, setup_s = jvm("run", 0)
    e2e_samples = [setup_s]
    if a.trace:
        traced, _ = jvm("run", 1)
    else:
        for _ in range(SETUP_SAMPLES - 1):
            e2e_samples.append(jvm("setup", 0)[1])

    bad = check_queries(data, records) if repeated else check_etl(data, records)
    attempted = len(ops) if repeated else len([r for r in records if r["kind"] == "op"]) + 1
    exit_rec = next(r for r in records if r["kind"] == "exit")
    e2e = metrics.end_to_end(records, e2e_samples, exit_rec["vmhwm_kb"], repeated)
    load_end = load1()
    print(f"# workload={a.workload} seed={a.seed} nproc={cores} "
          f"load1_start={load_start} load1_end={load_end} ops={len(ops)} "
          f"warm_passes={len({r['pass'] for r in records if r['kind'] == 'op' and r['phase'] == 'warm'})} "
          f"failed_share={len(bad) / attempted:.4f} "
          + " ".join(f"{k}={v:.4f}" for k, v in e2e.items()))
    if a.trace:
        layers = metrics.layer_metrics(traced, cores, repeated)
        untraced_warm = e2e["warm_s"]
        traced_warm = metrics.end_to_end(traced, [0], 0, repeated)["warm_s"]
        layers["trace.overhead_share"] = (traced_warm - untraced_warm) / untraced_warm
        out_dir = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": layers,
                       "spans": metrics.span_tree(traced)}, f)
        print(f"# trace written to {os.path.relpath(path, root)}")
        values = {n: (layers[n], u) for n, u in metrics.per_layer_names()}
    else:
        units = dict(metrics.END_TO_END)
        values = {n: (v, units[n]) for n, v in e2e.items()}
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
