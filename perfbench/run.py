#!/usr/bin/env python3
"""The repository benchmark: the scheduled ingest job (cold and rerun) and
the operator suite. See perfbench/README.md for the workloads and metrics.

Usage, from the repository root:
  python3 perfbench/run.py --workload ingest_cold --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --smoke        # every workload and check, tiny inputs

It builds the library and the benchmark (perfbench/build.py), generates
the seeded inputs, runs one JVM for the workload, checks every output and
prints one line per metric, then the result as one JSON line.
"""
import argparse
import contextlib
import glob
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's directory free of caches
import build  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ("ingest_cold", "ingest_rerun", "query_suite")

# Input sizes. Smoke mode shrinks every one of them.
FULL = {"cold_scale": 1.0, "sftp_pdf_bytes": 256_000, "rerun_files": 1000, "sf": 0.01}
SMOKE = {"cold_scale": 0.01, "sftp_pdf_bytes": 20_000, "rerun_files": 60, "sf": 0.001}

# Registry keys whose DuckDB oracle does not hold on generated tables:
# pinned VALUES computed on the fixed sf0.01 test tables, or a query over
# that fixed path. They are checked like keys without an oracle.
GATE_SF_PINS = {
    "dedup_cluster", "dedup_incremental", "dedup_minhash", "dedup_minhash_agg",
    "dedup_minhash_recall", "dedup_simhash", "dedup_simhash_pairs",
    "stream_dedup_incremental", "text_compress_ratio", "tok_bpe", "scan_binary",
    "sim_ann_recall",
}
ORACLE_TIMEOUT_S = 10.0


def sanitize(name):
    """The reference's filename rule, written independently of the
    library: every code point outside [A-Za-z0-9._- ] becomes '-', then
    leading and trailing spaces go."""
    ok = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789._- ")
    return "".join(c if c in ok else "-" for c in name).strip(" ")


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


# ---------------------------------------------------------------- ingest

def read_sink(path):
    """(server_folder, src_file, file_name) -> {(size, crc)} and the
    source file versions (server_folder, src_file, src_size) -> src_size,
    read straight from the parquet files."""
    import pyarrow.parquet as pq
    got, sources = {}, {}
    if not os.path.isdir(path):
        return got, sources
    t = pq.read_table(path, columns=["server_folder", "src_file", "src_size", "file_name",
                                     "size", "content"])
    cols = [t.column(c).to_pylist() for c in
            ("server_folder", "src_file", "src_size", "file_name", "size", "content")]
    for sf, src, src_size, name, size, content in zip(*cols):
        if size != len(content):
            raise ValueError(f"sink row {sf}/{src}/{name}: size {size} != {len(content)} bytes")
        got.setdefault((sf, src, name), set()).add((size, zlib.crc32(content) & 0xFFFFFFFF))
        sources[(sf, src, src_size)] = src_size
    return got, sources


def current_state(manifest, delta):
    state = {s: dict(v["files"]) for s, v in manifest["servers"].items()}
    if delta >= 0:
        for s, files in manifest["deltas"][delta].items():
            state[s].update(files)
    return state


def check_ingest(manifest, result):
    """Every source file's current version must be in the sink: for a
    plain file its (size, CRC32), for an archive every member's. Rows
    that match no version of any source file are wrong output. A lost
    file that the run's delta rewrote is counted apart from other lost
    files (`lost_rewritten`), so the known loss of rewritten files does
    not hide any other."""
    folders = {s: f"localhost_{v['port']}" for s, v in manifest["servers"].items()}
    known = {}
    for state in [current_state(manifest, d) for d in range(-1, len(manifest["deltas"]))]:
        for s, files in state.items():
            for name, f in files.items():
                for m, v in (f["members"] or {name: f}).items():
                    known.setdefault((folders[s], sanitize(name), sanitize(m)), set()).add(
                        (v["size"], v["crc"]))
    # ingest_rerun's runs start from the base state; ingest_cold's from nothing.
    base, base_sources = read_sink(result["base_sink"]) if result["base_sink"] else ({}, {})
    rounds = []
    for r in result["rounds"]:
        got, sources = read_sink(r["sink"])
        wrong = sum(1 for k, vs in got.items() if not vs <= known.get(k, set()))
        for k, vs in base.items():
            got.setdefault(k, set()).update(vs)
        delta = manifest["deltas"][r["delta"]] if r["delta"] >= 0 else {}
        files = lost = lost_rewritten = 0
        for s, fs in current_state(manifest, r["delta"]).items():
            for name, f in fs.items():
                files += 1
                want = [(sanitize(m), (v["size"], v["crc"])) for m, v in
                        (f["members"] or {name: f}).items()]
                if not all(v in got.get((folders[s], sanitize(name), m), ()) for m, v in want):
                    lost += 1
                    rewritten = name in delta.get(s, {}) and name in manifest["servers"][s]["files"]
                    lost_rewritten += rewritten
        payload = sum(sources.values())
        # Bytes written as new (source file versions the base sink does not
        # hold) over the bytes the job's source fetched in this run.
        new_bytes = sum(size for src, size in sources.items() if src not in base_sources)
        fetched = r["fetched_bytes"]
        rounds.append({"files": files, "lost": lost, "lost_rewritten": lost_rewritten,
                       "wrong": wrong, "new": len(sources), "payload_mb": payload / 1e6,
                       "useful": new_bytes / fetched if fetched else 0.0})
    return rounds


def ingest_metrics(result, checks, trace):
    timed = [(r, c) for r, c in zip(result["rounds"], checks)
             if not r["traced"] and not r["warm"]]
    walls = [r["wall_s"] for r, _ in timed]
    batches = [b for r, _ in timed for b in r["batches_s"]]
    e2e = {
        "run_s": (statistics.median(walls), "s", len(walls)),
        "query_p50_s": (statistics.median(batches), "s", len(batches)),
        "query_p90_s": (quantile(batches, 0.9), "s", len(batches)),
    }
    attempted = sum(c["files"] for _, c in timed)
    failed = sum(c["lost"] for _, c in timed)
    report = {
        "ingest_mb_s": (statistics.median(c["payload_mb"] / r["wall_s"] for r, c in timed),
                        "MB/s", len(timed)),
        "failed_ratio": (failed / attempted, "ratio", attempted),
    }
    layers = {}
    if trace:
        tr = [c for r, c in zip(result["rounds"], checks) if r["traced"]]
        layers = dict(result["layers"])
        layers.update({
            "ingest.files_new": statistics.median(c["new"] for c in tr),
            "ingest.files_lost": statistics.median(c["lost"] for c in tr),
            "ingest.fetch_useful_ratio": statistics.median(c["useful"] for c in tr),
        })
    return e2e, report, attempted, failed, layers


# ----------------------------------------------------------------- query

def check_suite(result):
    """Hash every result as tools/check.py does. The warm-up pass is
    graded against the DuckDB oracle by check.py itself (keys without a
    usable oracle need rows > 0); every later execution of a key must
    hash the same as its warm-up result. Returns key -> problem."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import check
    import duckdb
    warm_dir = os.path.join(os.path.dirname(result["execs"][0]["out"]))
    keys = sorted({e["key"] for e in result["execs"]})
    with open(os.path.join(warm_dir, "oracle_sql.json"), "w") as f:
        json.dump(result["oracle_sql"], f)
    with open(os.path.join(warm_dir, "query_names.json"), "w") as f:
        json.dump(keys, f)
    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        check.main(warm_dir, result["sf_dir"], timeout_s=ORACLE_TIMEOUT_S,
                   skip=GATE_SF_PINS & set(keys))
    bad, passed = {}, set()
    for line in log.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        if word == "PASS":
            passed.add(rest.split(":")[0])
        elif word == "FAIL":
            bad[rest.split(":")[0]] = line
    con = duckdb.connect()
    warm_hash = {}
    for e in result["execs"]:
        if e["error"]:
            continue
        try:
            got = con.execute(f"SELECT * FROM '{e['out']}/*.parquet'")
            cols = [c[0] for c in got.description]
            rows = got.fetchall()
        except Exception as ex:  # unreadable output
            bad.setdefault(e["key"], f"FAIL {e['key']}: {ex}")
            continue
        h = check.table_hash(rows, cols)
        if not rows and e["key"] not in passed:
            bad.setdefault(e["key"], f"FAIL {e['key']}: no rows")
        if e["pass"] == "warm":
            warm_hash[e["key"]] = h
        elif warm_hash.get(e["key"]) != h:
            bad.setdefault(e["key"], f"FAIL {e['key']}: result differs between passes")
    return bad


def suite_metrics(result, bad):
    timed = [e for e in result["execs"] if e["pass"] != "warm" and not e["traced"]]
    lat = [e["latency_s"] for e in timed]
    passes = [result["passes_s"][int(p[1:])] for p in sorted({e["pass"] for e in timed})]
    e2e = {
        "run_s": (statistics.median(passes), "s", len(passes)),
        "query_p50_s": (statistics.median(lat), "s", len(lat)),
        "query_p90_s": (quantile(lat, 0.9), "s", len(lat)),
    }
    failed = sum(1 for e in timed if e["error"] or e["key"] in bad)
    report = {
        "suite_s": (statistics.median(passes), "s", len(passes)),
        "failed_ratio": (failed / len(timed), "ratio", len(timed)),
    }
    layers = dict(result.get("layers", {}))
    layers.update({"ingest.files_new": 0.0, "ingest.files_lost": 0.0,
                   "ingest.fetch_useful_ratio": 0.0})
    return e2e, report, len(timed), failed, layers


# ------------------------------------------------------------------- run

def jvm(classpath, work, conf):
    heap = "3g"
    opens = [x for p in build.JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", os.pathsep.join(classpath), "perfbench.Main"] +
           [f"{k}={v}" for k, v in conf.items()])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait()
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    # The library keeps per-process scratch under /dev/shm/graft/p<pid>
    # (or /tmp/graft); remove what this JVM left there.
    for base in ("/dev/shm/graft", "/tmp/graft"):
        shutil.rmtree(os.path.join(base, f"p{p.pid}"), ignore_errors=True)
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed with code {code}")
    with open(conf["out"]) as f:
        return json.load(f)


def tables(classpath, work, root, sf, cpus):
    """The registry's tables at `sf`. They depend only on the library
    source and the SF, so they are generated once per build, by a JVM of
    their own, into the build output, and reused by later runs."""
    build_dir = os.path.join(root, ".bench_build")
    stamp = open(os.path.join(build_dir, "classes.stamp")).read()[:16]
    path = os.path.join(build_dir, f"tables-sf{sf}-{stamp}")
    if not os.path.exists(os.path.join(path, "_generated")):
        for old in glob.glob(os.path.join(build_dir, f"tables-sf{sf}-*")):
            shutil.rmtree(old, ignore_errors=True)
        jvm(classpath, work, {"workload": "tables", "tables": path, "sf": sf, "cpus": cpus,
                              "work": work, "out": os.path.join(work, "tables.json")})
        open(os.path.join(path, "_generated"), "w").close()
    return path


def run_once(args, sizes, classpath, root):
    t0 = time.time()
    work = os.path.join(root, ".bench_build", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpus = len(os.sched_getaffinity(0))
        conf = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "work": work, "cpus": cpus,
                "out": os.path.join(work, "result.json")}
        if args.workload == "query_suite":
            conf.update(tables=tables(classpath, work, root, sizes["sf"], cpus),
                        results=os.path.join(work, "results"))
        else:
            inputs = os.path.join(work, "inputs")
            if args.workload == "ingest_cold":
                manifest = corpus.cold(inputs, args.seed, sizes["cold_scale"],
                                       sizes["sftp_pdf_bytes"])
            else:
                manifest = corpus.rerun(inputs, args.seed, sizes["rerun_files"])
                conf["deltas"] = os.path.join(inputs, "delta")
            conf.update(servers=",".join(f"{v['scheme']}:{v['port']}:{os.path.join(inputs, 'srv', s)}"
                                         for s, v in manifest["servers"].items()))
        result = jvm(classpath, work, conf)
        t_jvm = time.time()
        setup = result["first_op_epoch_ms"] / 1000 - t0
        if args.workload == "query_suite":
            bad = check_suite(result)
            e2e, report, attempted, failed, layers = suite_metrics(result, bad)
            wrong = len(bad)
            problems = sorted(bad.values())
            lost_other = 0
        else:
            checks = check_ingest(manifest, result)
            e2e, report, attempted, failed, layers = ingest_metrics(result, checks, args.trace)
            wrong = sum(c["wrong"] for c in checks)
            problems = [f"round {i}: {c['lost']} of {c['files']} source files missing from the sink"
                        f" ({c['lost_rewritten']} of them rewritten by the run's delta)"
                        for i, c in enumerate(checks) if c["lost"]]
            lost_other = sum(c["lost"] - c["lost_rewritten"] for c in checks)
        e2e["setup_s"] = (setup, "s", 1)
        sys.stderr.write(
            f"timing: inputs+jvm start {result['session_ready_epoch_ms'] / 1000 - t0:.1f} s, "
            f"set-up {(result['first_op_epoch_ms'] - result['session_ready_epoch_ms']) / 1000:.1f} s, "
            f"measured+stop {t_jvm - result['first_op_epoch_ms'] / 1000:.1f} s, "
            f"checks {time.time() - t_jvm:.1f} s\n")
        for p in problems[:20]:
            print(f"check: {p}")
        for name, (v, unit, n) in sorted({**e2e, **report}.items()):
            print(f"metric {name} = {v:.6g} {unit} (n={n})")
        if args.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        else:
            metrics = {k: {"value": v, "unit": unit} for k, (v, unit, _) in sorted(e2e.items())}
        return {"correct": wrong == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}, lost_other
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(root, ".bench_build",
                                            f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    for suffix, unit in (("_mb_s", "MB/s"), ("_ms_per_file", "ms"), ("_ms", "ms"), ("_s", "s"),
                         ("_mb", "MB"), ("_ratio", "ratio"), ("_share", "ratio")):
        if name.endswith(suffix) or f"{suffix}." in name:
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; without --workload, run every workload traced and not")
    args = ap.parse_args()
    root = os.getcwd()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    classpath = build.build(root, os.path.join(root, ".bench_build"))
    sizes = SMOKE if args.smoke else FULL
    if args.smoke and not args.workload:
        ok = True
        for w in WORKLOADS:
            for trace in (0, 1):
                a = argparse.Namespace(workload=w, seed=args.seed, seconds=args.seconds,
                                       trace=trace, smoke=True)
                out, lost_other = run_once(a, sizes, classpath, root)
                print(json.dumps({"workload": w, "trace": trace, **out}))
                # The loss of rewritten files on ingest_rerun is a known
                # library defect and is reported, not failed on; any other
                # lost file or failed operation fails the smoke run.
                ok &= out["correct"] and lost_other == 0 and (
                    out["failed"] == 0 or w == "ingest_rerun")
        sys.exit(0 if ok else 1)
    print(json.dumps(run_once(args, sizes, classpath, root)[0]))


if __name__ == "__main__":
    main()
