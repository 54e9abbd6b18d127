#!/usr/bin/env python3
"""The repository's benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (once per source digest,
into .bench_build/), generates the workload's inputs from the seed, runs
the workload as one closed-loop client on local[nproc / 2] in a fresh JVM,
checks every op's output, and prints one JSON object as the last line:
end-to-end metrics with --trace 0; per-layer metrics with --trace 1 (that
mode adds one traced pass after the measured ones and reports its pass
time less theirs as trace.overhead_s).
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import struct
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JVM_TIMEOUT_S = 150

# registry-small: the 25 registered queries that were fastest in a cold
# pass over the registry at sf0.01 (each under 0.15 s on a 4-core host),
# less q_win_range (see README.md). Fixed per-query cost dominates them.
REGISTRY_SMALL = """
q_agg_distinct q_arr_ops q_audit_row q_cast_strict q_date_arith q_date_fmt
q_embed_quant q_mm_meta q_project q_sort q_str_clean q_str_pad q_str_snake
q_str_translate q_text_compress q_text_fingerprint q_text_langid
q_text_normalize q_text_pii q_token_count q_url_template q_win_cumsum
q_win_moving q_win_ntile q_win_relrank
""".split()

WORKLOADS = {
    # A run makes `warmups` unmeasured passes, then measures
    # max(1, round(seconds / pass_s)) passes, pass_s being the nominal
    # length of one warm pass: the work in a run is fixed by --seconds and
    # does not grow as the code gets faster.
    "registry-small": {"pass_s": 2.5, "warmups": 4},
    "seoul-ingest": {"pass_s": 3.0, "warmups": 3},
}
SETUPS = GEN_REPEATS = 3
END_TO_END = ["setup_s", "pass_s", "op_p50_s", "op_p90_s", "ingest_rows_per_s",
              "heap_live_peak_mb"]
UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "ingest_rows_per_s": "1/s", "heap_live_peak_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile once per digest of the sources; reuse the classes otherwise."""
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                     glob.glob("perfbench/scala/*.scala") + ["perfbench/build.sh"])
    h = hashlib.sha256()
    for p in sources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join("perfbench", "build.sh"), jars, CLASSES],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def digest_dir(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, data):
    """Generate the inputs GEN_REPEATS times (the median time is set-up
    time); every repeat must reproduce the same bytes."""
    times, digests, manifest = [], set(), None
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "registry-small":
            gen.tables(data, seed)
        else:
            manifest = gen.seoul(data, seed)
        times.append(time.perf_counter() - t0)
        digests.add(digest_dir(data))
    if len(digests) != 1:
        fail("input generation is not deterministic")
    return statistics.median(times), manifest


def spark_threads():
    """Half the cores the benchmark may use: the other half keeps the JIT,
    the GC and other tenants of a shared host off the task threads, so a
    busy neighbour slows a stage's slowest task less."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def heap_mb():
    """Driver heap, fixed (-Xms = -Xmx) so that heap resizing does not vary
    between runs: half the machine's memory, within 2-3 GiB. Both
    workloads keep under 100 MB live."""
    try:
        kb = int(open("/proc/meminfo").read().split("MemTotal:")[1].split()[0])
    except (OSError, IndexError, ValueError):
        kb = 8 << 20
    return max(2048, min(3072, kb // 2048))


def run_jvm(jars, run, args, trace):
    """One fresh JVM over the prepared inputs; returns (result, jvm start s)."""
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run, d))
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # SoftRefLRUPolicyMSPerMB=0: every GC clears soft references, so the
    # live heap read after the post-op GC does not depend on GC timing
    cmd = ["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-XX:SoftRefLRUPolicyMSPerMB=0",
           f"-Djava.io.tmpdir={run}/tmp", "-Duser.timezone=UTC",
           f"-Dderby.system.home={run}", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{jars}/*", "perfbench.Harness", f"run={run}",
            f"trace={trace}"] + [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "local"))
    with open(os.path.join(run, "jvm.log"), "w") as log:
        t0 = time.time()
        try:
            r = subprocess.run(cmd, cwd=run, env=env, stdout=log, stderr=log,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s (log: {run}/jvm.log)")
    res = os.path.join(run, "result.json")
    if r.returncode != 0 or not os.path.exists(res):
        sys.stderr.write(open(os.path.join(run, "jvm.log")).read()[-4000:])
        fail(f"JVM exited with {r.returncode}")
    result = json.load(open(res))
    result["jvm_wall_s"] = time.time() - t0
    return result, result["main_ms"] / 1000.0 - t0


# --- output checks -------------------------------------------------------

def _num(f):
    if f != f:
        return "nan"
    if f == 0:
        return "0"
    return str(struct.unpack("<q", struct.pack("<d", f))[0])


def _canon(v):
    """Engine-neutral text of one value; perfbench.ResultHash writes the
    same text for Spark's values."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return _num(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{k}:{_canon(x)}" for k, x in v.items())) + "}"
    return str(v)


def result_hash(names, rows):
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    text = ",".join(names[i] for i in order) + "\n" + "\n".join(lines)
    return hashlib.sha256(text.encode()).hexdigest()


def check_queries(data, checks):
    """Each op's result against its DuckDB oracle's over the same inputs:
    the row count and the order-insensitive hash of the whole result. The
    no-oracle queries must return rows."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")

    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name, c in checks.items():
        try:
            if "oracle_sql" not in c:
                ok = c["rows"] > 0
            else:
                cur = con.execute(c["oracle_sql"])
                names = [d[0] for d in cur.description]
                rows = cur.fetchall()
                ok = len(rows) == c["rows"] and result_hash(names, rows) == c["hash"]
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            print(f"perfbench: check {name}: {type(e).__name__}: {str(e)[:200]}",
                  file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: check {name} failed", file=sys.stderr)
            bad.append(name)
    return bad


def check_seoul(manifest, checks, passes):
    """Generator-known counts against what the passes wrote."""
    bad = []
    audits = checks["audit"]
    for d in manifest["datasets"]:
        table = f"NLDATA_{d['id']:06d}"
        t = checks["tables"][table]
        mine = [a for a in audits if a["table"] == table]
        ok = (t["rows"] == d["ingested"] and t["null_values"] == d["null_values"] and
              len(mine) == passes and
              all(a["rows"] == d["ingested"] and a["quarantined"] == d["quarantined"] and
                  a["high_water_mark"] == d["high_water_mark"] and
                  a["inserted"] == "Y" and a["dated"] for a in mine))
        if not ok:
            print(f"perfbench: check {table} failed: {t} {mine} want {d}", file=sys.stderr)
            bad.append(table)
    if (checks["catalog_rows"] != manifest["catalog_rows"] or
            checks["catalog_enriched"] != manifest["catalog_enriched"]):
        print(f"perfbench: check categoryEnrich failed: {checks}", file=sys.stderr)
        bad.append("categoryEnrich")
    return bad


# --- metrics -------------------------------------------------------------

def pass_time(p):
    return sum(o["s"] for o in p["ops"])


def op_times(result):
    """Each op's times over the measured passes."""
    per_op = {}
    for p in result["passes"]:
        if p["kind"] == "measure":
            for o in p["ops"]:
                per_op.setdefault(o["name"], []).append(o["s"])
    return per_op


def end_to_end(result, jvm_start, gen_s, input_rows):
    passes = [p for p in result["passes"] if p["kind"] == "measure"]
    pass_s = statistics.median(pass_time(p) for p in passes)
    ops = [statistics.median(v) for v in op_times(result).values()]
    setup = [s["session_s"] + s["prep_s"] for s in result["setups"]]
    return {
        "setup_s": gen_s + jvm_start + statistics.median(setup),
        "pass_s": pass_s,
        "op_p50_s": statistics.median(ops),
        # interpolated between the two medians around the 90th percentile,
        # so that one op's noise moves it less than a single order statistic
        "op_p90_s": statistics.quantiles(ops, n=10, method="inclusive")[-1],
        "ingest_rows_per_s": input_rows / pass_s,
        "heap_live_peak_mb": statistics.median(p["heap_live_peak_mb"] for p in passes),
    }


def per_layer(result, gen_s, manifest, e2e):
    """The traced pass's layer figures, plus set-up and compile figures
    from the untraced part of the run."""
    layer = dict(result["trace"])
    traced = next(p for p in result["passes"] if p["kind"] == "traced")
    warmup = next(p for p in result["passes"] if p["kind"] == "warmup")
    layer["trace.overhead_s"] = pass_time(traced) - e2e["pass_s"]
    layer["tables.prep_s"] = statistics.median(s["prep_s"] for s in result["setups"])
    layer["sources.generate_s"] = gen_s
    # Janino compiles happen in the cold warm-up pass; later passes hit
    # Spark's code cache
    layer["codegen.compile_s"] = warmup["compile_s"]
    layer["codegen.classes"] = float(warmup["compiles"])
    if manifest:
        written = sum(t["bytes"] for t in result["checks"]["tables"].values())
        layer["sources.quarantined_rows"] = float(
            sum(d["quarantined"] for d in manifest["datasets"]))
        layer["sources.bytes_written_per_input_byte"] = written / manifest["input_bytes"]
        layer["sources.input_rows"] = float(manifest["input_rows"])
        layer["sources.input_bytes"] = float(manifest["input_bytes"])
        layer["sources.malformed_lines"] = float(manifest["malformed_lines"])
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["per_layer"]
    # every metric BENCHMARK.json names; 0 where a workload never enters a layer
    return {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM unwind normally: subprocess.run kills the JVM and the
    # scratch directories are removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala is missing")
    w = WORKLOADS[a.workload]
    jars = spark_jars()
    build(jars)

    run = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    data = run + "-data"
    try:
        gen_s, manifest = generate(a.workload, a.seed, data)
        passes = max(1, round(a.seconds / w["pass_s"]))
        args = {"workload": a.workload, "seed": a.seed, "passes": passes,
                "warmups": w["warmups"], "setups": SETUPS, "cores": spark_threads(), "data": data}
        if a.workload == "seoul-ingest":
            args["datasets"] = ";".join(f"{d['id']}:{d['kind']}:{d['csv']}:{d['start_idx']}"
                                        for d in manifest["datasets"])
            input_rows = manifest["input_rows"]
        else:
            args["ops"] = ",".join(REGISTRY_SMALL)
            import pyarrow.parquet as pq
            input_rows = sum(pq.read_metadata(p).num_rows
                             for p in glob.glob(os.path.join(data, "*.parquet")))

        result, jvm_start = run_jvm(jars, run, args, a.trace)
        checks = result["checks"]
        t_check = time.perf_counter()
        bad = (check_seoul(manifest, checks, passes + a.trace)
               if a.workload == "seoul-ingest" else check_queries(data, checks))
        failed_ops = set(result["failed"]) | set(bad)
        measured = [p for p in result["passes"] if p["kind"] != "warmup"]
        attempted = sum(len(p["ops"]) for p in measured)
        failed = sum(1 for p in measured for o in p["ops"]
                     if not o["ok"] or o["name"] in failed_ops)
        e2e = end_to_end(result, jvm_start, gen_s, input_rows)
        print(f"perfbench: generate {gen_s:.2f} s, jvm start {jvm_start:.2f} s, set-ups "
              + " ".join(f"{x['session_s']:.2f}+{x['prep_s']:.2f}" for x in result["setups"])
              + " s, passes " + " ".join(f"{p['kind']}={pass_time(p):.2f}"
                                        for p in result["passes"])
              + " s, between-op hygiene " + " ".join(f"{p['hygiene_s']:.2f}"
                                                   for p in result["passes"])
              + f" s, jvm check {result['check_s']:.2f} s, jvm wall {result['jvm_wall_s']:.2f} s,"
              f" oracle check {time.perf_counter() - t_check:.2f} s", file=sys.stderr)
        print("perfbench: measured op times (s): " + "; ".join(
            f"{n} " + " ".join(f"{t:.3f}" for t in ts)
            for n, ts in sorted(op_times(result).items(), key=lambda kv: statistics.median(kv[1]))),
            file=sys.stderr)
        if a.trace:
            metrics = per_layer(result, gen_s, manifest, e2e)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run, "spans.jsonl"),
                        os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl"))
        else:
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": metrics}
    finally:
        for d in glob.glob(run + "*"):
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
