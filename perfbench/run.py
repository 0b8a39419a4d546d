#!/usr/bin/env python3
"""The repository's benchmark.  One command runs one workload:

    python3 perfbench/run.py --workload registry_sweep --seed 1 --seconds 10 --trace 0

It builds the engine from source (perfbench/build.py), launches one JVM
(perfbench.Main) that sets the workload up from the seed and runs its ops
in a closed loop from one driver thread, then checks every output:

  * registry_sweep: each query result against its SparkEntry.oracleSql
    run in DuckDB over the same fixture files, with tools/check_oracle.py's
    normalisation, and CurationPipeline.run's `written` against the rows
    read back from its output;
  * versioned_mix: every checked read and the final snapshot against a
    replay of the same op log on a plain DuckDB table.

It prints a report of every end-to-end metric with its unit (and, with
--trace 1, the per-layer tables), then, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones.  The full per-op record goes to
.bench_out/<workload>-seed<seed>-trace<t>.json.  Everything the run
writes stays under the checkout (.bench_build, .bench_work, .bench_out).
"""
import argparse
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("registry_sweep", "versioned_mix")
JVM_TIMEOUT_S = 165
# The JVM sees half the cores: Spark runs local[nproc/2], and the JIT and GC
# thread pools shrink with it, so the driver thread, the JIT and other
# processes on the host do not queue behind the task threads.  The JIT stops
# at C1: its compile bursts are short and end early, where C2's ran through
# the whole timed loop.  On 4 shared cores this cut the run-to-run spread of
# versioned_mix's wall_s and op_gmean_s (same seed) from about 10% to 4%.
# C1 code inlines less than C2's, so its call stacks are deeper; the thread
# stack is raised to 4 MB, as in Spark's own test JVMs, for Catalyst's
# recursion over large plans.
JVM_STEADY = [f"-XX:ActiveProcessorCount={max(1, len(os.sched_getaffinity(0)) // 2)}",
              "-XX:TieredStopAtLevel=1", "-Xss4m"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def load_check_oracle():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_jvm(args, classes, jars, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}"] + JVM_STEADY + build.JAVA_OPENS
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as lf:
            log(lf.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited {rc}")
    with open(out) as f:
        return json.load(f)


def check_queries(res):
    """Compare each written query result with its DuckDB oracle, and the
    pipeline's `written` with the rows read back: ({op name: why}, checked)."""
    import duckdb
    co = load_check_oracle()
    chk = res["check"]
    con = duckdb.connect()
    for t in os.listdir(chk["data"]):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(chk['data'], t)}')")
    wrong, checked = {}, 0
    for name, sql in sorted(chk["oracle_sql"].items()):
        checked += 1
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{chk['results']}/{name}/*.parquet')").df()
            exp = con.sql(sql).df()
            if co.frame_rows(got) != co.frame_rows(exp):
                wrong[name] = "result differs from the DuckDB oracle"
        except Exception as e:  # an unreadable result or oracle is a failed check
            wrong[name] = f"check error: {str(e).splitlines()[0][:160]}"
    cur = chk.get("curation") or {}
    if cur:
        checked += 1
        if cur["written"] != cur["read_back"]:
            wrong["curation"] = f"written={cur['written']} but {cur['read_back']} rows read back"
    return wrong, checked


def check_versioned(res):
    """Replay the op log on a plain DuckDB table; compare every fingerprinted
    read and the final snapshot: ({op id or "final": why}, checked)."""
    import duckdb
    co = load_check_oracle()
    chk = res["check"]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE b AS SELECT * FROM read_parquet('{chk['batches']}')")
    con.execute("CREATE TABLE t AS SELECT doc_id, text, lang, source, n_chars FROM "
                f"read_parquet('{chk['documents']}') WHERE false")
    cols = "doc_id, text, lang, source, n_chars"
    fp_sql = "SELECT count(*), coalesce(sum(doc_id), 0), coalesce(sum(n_chars), 0) FROM t"

    def fp(where=""):
        return [int(x) for x in con.sql(fp_sql + where).fetchone()]

    at = {chk["create_version"]: fp()}
    con.execute(f"INSERT INTO t SELECT {cols} FROM read_parquet('{chk['documents']}')")
    at[chk["initial_version"]] = fp()
    wrong, reads = {}, 0
    for e in chk["log"]:
        op = e["op"]
        if not e["ok"]:
            continue
        if op in ("append", "merge"):
            if op == "merge":
                con.execute(f"DELETE FROM t WHERE doc_id IN "
                            f"(SELECT doc_id FROM b WHERE batch = {e['batch']})")
            con.execute(f"INSERT INTO t SELECT {cols} FROM b WHERE batch = {e['batch']}")
        elif op == "update":
            con.execute(f"UPDATE t SET text = text || '{e['tag']}', "
                        f"n_chars = n_chars + {len(e['tag'])} "
                        f"WHERE doc_id % {e['mod']} = {e['rem']}")
        elif op in ("delete", "delete_mor"):
            con.execute(f"DELETE FROM t WHERE doc_id % {e['mod']} = {e['rem']}")
        if op in ("append", "merge", "update", "delete", "delete_mor", "optimize"):
            at[e["value"]] = fp()  # the committed version's state
        elif op in ("read_latest", "read_asof"):
            reads += 1
            want = fp(f" WHERE lang = '{e['lang']}'") if op == "read_latest" \
                else at.get(e["version"])
            if want != e["value"]:
                wrong[e["op_id"]] = f"read {e['value']}, replay has {want}"
    final = con.sql(f"SELECT * FROM read_parquet('{chk['final']}/*.parquet')").df()
    if co.frame_rows(final) != co.frame_rows(con.sql(f"SELECT {cols} FROM t").df()):
        wrong["final"] = "final snapshot differs from the replay"
    return wrong, reads + 1


def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)] if xs else None


def end_to_end(res):
    """Every end-to-end metric: name -> (value, unit, samples)."""
    ops = res["ops"]
    secs = [o["seconds"] for o in ops if o["ok"]]
    m = {"setup_s": (statistics.median(res["setup_s"]), "s", len(res["setup_s"])),
         "wall_s": (res["wall_s"], "s", 1),
         "op_p50_s": (statistics.median(secs) if secs else None, "s", len(secs)),
         # geometric mean: uses every op, so it stays steady where a median
         # of ~11 ops sits at the edge between clusters of op costs
         "op_gmean_s": (statistics.geometric_mean(secs) if secs else None, "s", len(secs)),
         # a p90 needs ten samples beyond it
         "op_p90_s": (pct(secs, 0.9) if len(secs) >= 100 else None, "s", len(secs)),
         "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
         "scratch_left_mb": (res["scratch_left_mb"], "MB", 1)}
    if res["workload"] == "versioned_mix":
        for kind in ("commit", "read"):
            xs = [o["seconds"] for o in ops if o["ok"] and o["kind"] == kind]
            m[f"{kind}_p50_s"] = (statistics.median(xs) if xs else None, "s", len(xs))
            m[f"{kind}_p90_s"] = (pct(xs, 0.9) if xs else None, "s", len(xs))
        chk = res["check"]
        m["bytes_per_live_byte"] = (chk["table_bytes"] / max(1, chk["final_bytes"]), "ratio", 1)
    return m


# per-layer metrics: how each per-op value folds into the workload's value
RATIOS = {
    "exec.parallel_eff": ("exec.task_run_ms", None),
    "sources.write_amp": ("sources.bytes_written", "sources.input_bytes"),
    "sources.scan_file_frac": ("sources.input_files", "sources.live_files"),
    "pipelines.kept_frac": ("pipelines.written", "pipelines.ingested"),
}
MAXED = {"exec.peak_exec_mem_mb"}


def per_layer(res, names):
    ops = res["ops"]
    tot = {}
    for o in ops:
        for k, v in o["layers"].items():
            tot[k] = max(tot.get(k, 0.0), v) if k in MAXED else tot.get(k, 0.0) + v
    out = {}
    for n in names:
        if n in RATIOS:
            num, den = RATIOS[n]
            d = (tot.get("exec.ms", 0.0) * res["cores"]) if den is None else tot.get(den, 0.0)
            out[n] = tot.get(num, 0.0) / d if d else 0.0
        elif n == "trace.wall_s":
            out[n] = res["wall_s"]
        else:
            out[n] = tot.get(n, 0.0)
    return out


def slowest_table(res, n=20):
    cols = ["queries.build_ms", "plan.analyze_ms", "plan.optimize_ms", "plan.physical_ms",
            "plan.exchanges", "exec.ms", "exec.shuffle_stages", "exec.result_stage_ms",
            "exec.between_stage_ms", "exec.task_run_ms", "exec.parallel_eff"]
    ops = sorted((o for o in res["ops"] if o["ok"] and o["kind"] == "query"),
                 key=lambda o: -o["seconds"])[:n]
    rows = []
    for o in ops:
        L = o["layers"]
        shuffle = L.get("exec.shuffle_stages", 0)
        rows.append({"name": o["name"], "s": round(o["seconds"], 3),
                     **{c: round(L.get(c, 0.0), 3) for c in cols},
                     "exec.ms_per_shuffle_stage": round(L.get("exec.ms", 0) / shuffle, 1)
                     if shuffle else None})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classes, jars = build.build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        res = run_jvm(args, classes, jars, work, os.path.join(work, "result.json"))
        if args.workload == "versioned_mix":
            wrong, checked = check_versioned(res)
        else:
            wrong, checked = check_queries(res)
            ids = {o["name"]: o["id"] for o in res["ops"]}
            wrong = {ids[k]: v for k, v in wrong.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # an op fails when it raised or its output is wrong
    ops = res["ops"]
    label = {o["id"]: f"{o['id']}:{o['name']}" for o in ops}
    failed = {label[o["id"]]: o["error"] for o in ops if not o["ok"]}
    for k, why in wrong.items():
        failed.setdefault(label.get(k, k), why)
    attempted = len(ops)
    n_failed = min(attempted, len(failed))
    e2e = end_to_end(res)
    e2e["error_frac"] = (n_failed / max(1, attempted), "ratio", attempted)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={res['cores']} ops={attempted} checked={checked} failed={n_failed} "
          f"({time.time() - t0:.1f}s)")
    for k, v in sorted(failed.items()):
        print(f"  FAILED {k}: {v}")
    for k, (v, unit, n) in e2e.items():
        print(f"  {k:<22} {'n/a' if v is None else f'{v:.4f}'} {unit}  (n={n})")
    # where the timed loop's CPU went: JIT compilation and GC, and the
    # CPU the hypervisor stole from the machine meanwhile
    print("  timed loop: " + ", ".join(f"{k} {res[k]:.2f} s" for k in
                                       ("cpu_s", "jit_s", "gc_s", "steal_s")) +
          f"; untimed priming before it {res['prime_s']:.2f} s")

    detail = {"args": vars(args), "end_to_end": {k: v[0] for k, v in e2e.items()},
              **{k: res[k] for k in ("setup_s", "prime_s", "cpu_s", "jit_s", "gc_s", "steal_s")},
              "failed": failed, "ops": ops}
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        layers = per_layer(res, names)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k, v in layers.items():
            print(f"  {k:<26} {v:.4f}")
        untraced = os.path.join(ROOT, ".bench_out",
                                f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["wall_s"]
            detail["trace_overhead_s"] = res["wall_s"] - base
            print(f"  tracing overhead: traced - untraced wall_s = "
                  f"{res['wall_s'] - base:.3f} s")
        if args.workload == "registry_sweep":
            detail["slowest"] = slowest_table(res)
            print("  slowest ops (s, build, analyze/optimize/physical ms, exchanges, "
                  "exec ms, shuffle stages, result-stage ms, between-stage ms, "
                  "task-run ms, parallel eff):")
            for r in detail["slowest"]:
                print("   ", " ".join(str(v) for v in r.values()))
        detail["per_layer"] = layers
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
