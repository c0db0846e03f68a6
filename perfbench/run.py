#!/usr/bin/env python3
"""The repository benchmark: one command, four seeded workloads, checked outputs.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):
  nvd-load       cve.Main -dd -p -csv -idb -icwe over seeded NVD year feeds
  nvd-query      one closed-loop client sending a seeded request mix to cve.Main
  catalog-slice  a frozen slice of SparkEntry.queries at sf0.1
  curate         Curate.run --strip-boilerplate --strip-selfrep --strip-crossdoc

Each run builds the engine from source once per checkout (perfbench/build.sh
into .bench_build/), makes its inputs from --seed, starts one fresh JVM
(`java` directly, with the flags of scripts/jrun.sh) in a scratch directory
under .bench_build/, checks the outputs, and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones in BENCHMARK.json; with
--trace 1 the run is traced and the metrics are the per-layer ones (0 for a
layer the workload does not call). The line before it carries the workload's
own detailed figures by name and unit. A wrong answer makes `correct` false
and the exit code 1.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
import checks  # noqa: E402
import gen_nvd  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
CPUS = 4
JVM_TIMEOUT_S = 170

# Sizes. The NVD feeds follow gen_nvd.feed_sizes: 24 year feeds 2002-2025,
# the largest about 6x the smallest.
NVD_CVES = 16000
NVD_WARM_CVES = 600
QUERY_MIN = 60            # requests per run: three blocks of the mix
WARM_REQUESTS = 10

with open(os.path.join(HERE, "catalog_slice.json")) as f:
    SLICE = json.load(f)
with open(os.path.join(HERE, "curate_expected.json")) as f:
    CURATE_EXPECTED = json.load(f)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ── build ────────────────────────────────────────────────────────────────

def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sh")]
    for d in ("src/main/scala", "perfbench/jvm"):
        files += sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; later runs reuse the classes."""
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


# ── inputs ───────────────────────────────────────────────────────────────

def nvd_inputs(seed):
    """Seeded feeds, shared by the runs of one seed in this checkout."""
    d = os.path.join(BUILD, "inputs", f"nvd-{NVD_CVES}-s{seed}")
    if not os.path.exists(os.path.join(d, "expected.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_nvd.generate(tmp, seed, NVD_CVES)
        gen_nvd.generate(os.path.join(tmp, "warm"), seed + 1_000_003, NVD_WARM_CVES, feeds=4)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "expected.json")) as f:
        return d, json.load(f)


def query_mix(seed, expected):
    """The seeded request sequence, in blocks of 20 with one fixed mix.

    Per block: 7 CVE point reports (recent years favoured; one id in three
    blocks does not exist, ~5%), 5 CPE listings (a vendor+product pair, a
    vendor, a product, a ten-vendor prefix, and one more pair; half with a
    score floor, 40% with a date floor), 4 score/date listings (three with a
    date floor spread over the last 12 years, so pub_year pruning varies),
    2 CWE info lookups (one unknown id in ten blocks) and 2 CSV exports (one
    score/date, one CPE listing). Each slot draws from a seeded pool of 12
    requests of its kind, so hot requests repeat.
    """
    rng = random.Random(seed * 7919 + 17)
    feeds = expected["feeds"]
    years = [f["year"] for f in feeds]
    yw = [f["cves"] * (1 + 3 * i / (len(feeds) - 1)) for i, f in enumerate(feeds)]
    n_of = {f["year"]: f["cves"] for f in feeds}

    def cve(miss):
        y = rng.choices(years, yw)[0]
        n = n_of[y] + 1 + rng.randrange(5000) if miss else 1 + rng.randrange(n_of[y])
        return f"-cve CVE-{y}-{n:05d}"

    def floor():
        return f"{rng.choice(years[-12:])}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"

    def cpe(kind):
        v, p = rng.randrange(gen_nvd.N_VENDORS), rng.randrange(gen_nvd.N_PRODUCTS)
        a = "-cpe " + {"pair": f"vendor{v}:prod{p}:", "vendor": f"vendor{v}:",
                       "product": f":prod{p}:", "prefix": f"vendor{rng.randint(10, 39)}"}[kind]
        if rng.random() < 0.5:
            a += f" -sc {rng.choice([5, 7, 8.5, 9])}"
        if rng.random() < 0.4:
            a += f" -dt {floor()}"
        return a

    def score(dated):
        if dated:
            return f"-sc {rng.choice([9, 9.2, 9.4, 9.5, 9.7])} -dt {floor()}"
        return f"-sc {rng.choice([9.8, 9.9])}"

    def cwe(miss):
        return f"-cwe {9000 + rng.randrange(900) if miss else rng.choice(expected['cwe_catalog_ids'])}"

    kinds = {
        "cve_report": {"hit": lambda: cve(False), "miss": lambda: cve(True)},
        "cpe_listing": {k: (lambda k=k: cpe(k)) for k in ("pair", "vendor", "product", "prefix")},
        "score_date": {"dated": lambda: score(True), "undated": lambda: score(False)},
        "cwe_info": {"hit": lambda: cwe(False), "miss": lambda: cwe(True)},
        "csv_export": {"score": lambda: score(True) + " -csv", "cpe": lambda: cpe("vendor") + " -csv"},
    }
    pools = {(f, k): sorted({make() for _ in range(12)}) for f, ks in kinds.items()
             for k, make in ks.items()}
    seq = []
    for b in range(200):
        slots = ([("cve_report", "miss" if b % 3 == 0 and i == 0 else "hit") for i in range(7)]
                 + [("cpe_listing", k) for k in ("pair", "vendor", "product", "prefix", "pair")]
                 + [("score_date", k) for k in ("dated", "dated", "dated", "undated")]
                 + [("cwe_info", "miss" if b % 10 == 0 and i == 0 else "hit") for i in range(2)]
                 + [("csv_export", k) for k in ("score", "cpe")])
        block = [(f, rng.choice(pools[(f, k)])) for f, k in slots]
        rng.shuffle(block)
        seq += block
    return seq


# ── the JVM run ──────────────────────────────────────────────────────────

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}", "-Xmx8g",
            "-cp", f"{classes}:{JARS}/*", "perfbench.Main"]
    out = os.path.join(work, "result.json")
    cmd += [f"{k}={v}" for k, v in args.items()] + [f"work={work}", f"out={out}", f"cpus={CPUS}"]
    os.sync()  # start on a quiet disk: inputs written back, earlier deletes discarded
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"JVM run exceeded {JVM_TIMEOUT_S}s (log: {log.name})")
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    res = None
    if os.path.exists(out):
        with open(out) as f:
            res = json.load(f)
    if rc != 0 or res is None or "error" in res:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-3000:])
        die(f"JVM run failed (rc={rc}): {res and res.get('error')}")
    res["jvm_start_s"] = res["main_start_ms"] / 1e3 - launched
    res["jvm_wall_s"] = time.time() - launched
    return res


# ── metrics ──────────────────────────────────────────────────────────────

def pct(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def m(v, unit):
    return {"value": v, "unit": unit}


def common(res, op_s):
    """The end-to-end metrics every workload reports. Set-up is the run's one
    cold set-up: launch to `main`, session build, first touch, warm-up."""
    setup = res["jvm_start_s"] + res["setup_s"]
    return {"setup_s": m(setup, "s"), "op_p50_ms": m(statistics.median(op_s) * 1e3, "ms")}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(x["name"], x["unit"]) for x in json.load(f)["per_layer"]]


# ── workloads ────────────────────────────────────────────────────────────

def wl_nvd_load(a, classes, work):
    d, exp = nvd_inputs(a.seed)
    res = run_jvm(classes, work, {
        "workload": "nvd-load", "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "feeds": f"{d}/feeds", "cwe": f"{d}/cwec.csv", "warm_feeds": f"{d}/warm/feeds",
        "warm_cwe": f"{d}/warm/cwec.csv", "min_ops": 3})
    errors = checks.nvd_load(work, exp, res["probe_lines"])
    loads = res["op_s"]
    attempted = len(loads) + len(res.get("traced_op_s", []))
    _, n_bytes = checks.disk_usage(os.path.join(work, "spark-warehouse", "cvedb.db"))
    detail = {"load_s": m(statistics.median(loads), "s"),
              "store_bytes_per_feed_byte": m(n_bytes / exp["feed_json_bytes"], "ratio"),
              "cves": m(NVD_CVES, "count"), "feeds": m(len(exp["feeds"]), "count"),
              "loads": m(len(loads), "count")}
    failed = attempted if errors else 0
    return res, loads, attempted, failed, errors, detail


def wl_nvd_query(a, classes, work):
    d, exp = nvd_inputs(a.seed)
    mix = query_mix(a.seed, exp)
    req_file = os.path.join(work, "requests.tsv")
    with open(req_file, "w") as f:
        f.writelines(f"{fam}\t{args}\n" for fam, args in mix)
    res = run_jvm(classes, work, {
        "workload": "nvd-query", "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "feeds": f"{d}/feeds", "cwe": f"{d}/cwec.csv", "requests": req_file, "min_ops": QUERY_MIN,
        "warm_requests": WARM_REQUESTS})
    op = res["op_s"]
    sent = [mix[i % len(mix)] for i in range(len(op))]
    copies = 2 if a.trace else 1  # a traced run sends each request twice
    bad, n_checked = checks.nvd_query(work, os.path.join(work, "results"))
    errors = [f"{k}: {v}" for k, v in list(bad.items())[:5]]
    if res["unstable"]:
        errors.append(f"{int(res['unstable'])} repeated requests answered differently")
    failed = min(copies * sum(1 for _, r in sent if r in bad) + int(res["unstable"]),
                 copies * len(op))
    detail = {"query_p50_ms": m(statistics.median(op) * 1e3, "ms"),
              "query_p90_ms": m(pct(op, 0.90) * 1e3, "ms"),
              "warehouse_load_s": m(res["warehouse_load_s"], "s"),
              "requests": m(len(op), "count"), "distinct_checked": m(n_checked, "count")}
    for fam in ("cve_report", "score_date", "cpe_listing", "cwe_info", "csv_export"):
        xs = [t for t, (f, _) in zip(op, sent) if f == fam]
        if xs:
            detail[f"{fam}_p50_ms"] = m(statistics.median(xs) * 1e3, "ms")
            detail[f"{fam}_requests"] = m(len(xs), "count")
    return res, op, copies * len(op), failed, errors, detail


def wl_catalog(a, classes, work):
    data = os.path.join(HERE, "data")
    heavy, light = SLICE["heavy"], SLICE["light"]
    res = run_jvm(classes, work, {
        "workload": "catalog-slice", "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "data": f"{data}/sf0.1", "check_data": f"{data}/sf0.01",
        "verify_out": os.path.join(work, "verify"),
        "heavy": ",".join(heavy), "light": ",".join(light),
        "rows": ",".join(f"{k}:{v}" for k, v in SLICE["rows_sf0.1"].items())})
    errors = list(res["failures"])
    errors += checks.catalog(os.path.join(work, "verify"), f"{data}/sf0.01", heavy + light)
    q = res["query_s"]
    names = heavy + light
    bad = {e.split(":")[0] for e in errors}
    passes = int(res["passes"]) * (2 if a.trace else 1)  # traced runs pair each pass
    detail = {"catalog_heavy_s": m(sum(q[n] for n in heavy), "s"),
              "catalog_light_s": m(sum(q[n] for n in light), "s"),
              "queries": m(len(names), "count"), "passes": m(res["passes"], "count")}
    detail.update({f"{n}_s": m(q[n], "s") for n in names})
    return res, res["pass_s"], len(names) * passes, len(bad) * passes, errors, detail


def wl_curate(a, classes, work):
    res = run_jvm(classes, work, {
        "workload": "curate", "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "data": os.path.join(HERE, "data", "sf0.1"), "min_ops": 2})
    errors = []
    for s in res["stats"]:
        got = {k: v for k, v in json.loads(s).items() if k in CURATE_EXPECTED}
        if got != CURATE_EXPECTED:
            errors.append(f"stage counts {got} != {CURATE_EXPECTED}")
    runs = res["op_s"]
    detail = {"curate_s": m(statistics.median(runs), "s"), "runs": m(len(runs), "count")}
    return res, runs, len(res["stats"]), len(errors), errors, detail


WORKLOADS = {"nvd-load": wl_nvd_load, "nvd-query": wl_nvd_query,
             "catalog-slice": wl_catalog, "curate": wl_curate}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="perfbench: the repository benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"run from the repository root: no src/main/scala under {ROOT}")
    classes = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        res, op_s, attempted, failed, errors, detail = WORKLOADS[a.workload](a, classes, work)
    except SystemExit:
        print(f"perfbench: work directory kept at {work}", file=sys.stderr)
        raise
    detail["error_frac"] = m(failed / max(attempted, 1), "ratio")
    detail["peak_rss_mb"] = m(res["peak_rss_mb"], "MB")
    detail["op_mean_ms"] = m(statistics.fmean(op_s) * 1e3, "ms")
    detail["run_wall_s"] = m(time.time() - t0, "s")
    detail["jvm_wall_s"] = m(res["jvm_wall_s"], "s")
    for k in ("jvm_start_s", "session_build_s", "prepare_s", "warm_up_s"):
        detail[k] = m(res[k], "s")
    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    if a.trace:
        layers = res.get("layers", {})
        # 0 for a layer this workload does not call (or a count it never took)
        metrics = {n: m(layers.get(n) or 0.0, u) for n, u in per_layer_names()}
        spans = os.path.join(BUILD, "spans", f"{a.workload}-s{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
        with open(spans) as f:
            detail["spans"] = m(sum(1 for _ in f), "count")
    else:
        metrics = common(res, op_s)
        detail.update(metrics)
    ok = not errors
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": detail}))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if ok:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()  # the deletes' discards land in this run, not the next
    else:
        print(f"perfbench: work directory kept at {work}", file=sys.stderr)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
