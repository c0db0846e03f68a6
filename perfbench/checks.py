"""Output checks for perfbench/run.py. Each returns the failures it found.

nvd-load      warehouse row counts and checksums against gen_nvd's figures,
              CSV sink row counts, and the per-feed metadata probe lines
nvd-query     every distinct request's printed report against the same report
              rebuilt from DuckDB over the warehouse parquet
catalog-slice each query's small-data result against its DuckDB oracle, with
              scripts/local_verify.py's cmp_frames (columns sorted by name,
              rows in produced order, floats compared exactly)
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

import gen_nvd


def disk_usage(d):
    files = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs]
    return len(files), sum(os.path.getsize(f) for f in files)


def warehouse(con, work):
    wh = os.path.join(work, "spark-warehouse", "cvedb.db")
    con.execute(f"CREATE TABLE cvss AS SELECT * FROM read_parquet('{wh}/cvss/*/*.parquet', "
                "hive_partitioning = true)")
    for t in ("cve_problem", "cpe", "cwe"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{wh}/{t}/*.parquet')")


# ── nvd-load ─────────────────────────────────────────────────────────────

def csv_rows(d):
    n = 0
    for p in glob.glob(os.path.join(d, "part-*")):
        with open(p) as f:
            n += max(sum(1 for _ in f) - 1, 0)
    return n


def nvd_load(work, exp, probe_lines):
    errs = []
    con = duckdb.connect()
    warehouse(con, work)
    lines = {
        "cvss": [gen_nvd.cvss_line_of(r) for r in con.execute(
            "SELECT cve, base_score_3, base_score, published_date, description FROM cvss").fetchall()],
        "cve_problem": [f"{c}|{p}" for c, p in con.execute(
            "SELECT cve, problem FROM cve_problem").fetchall()],
        "cpe": [f"{c}|{u}|{v}" for c, u, v in con.execute(
            "SELECT cve, cpe23uri, vulnerable FROM cpe").fetchall()],
        "cwe": [f"{i}|{n}" for i, n in con.execute("SELECT cwe_id, name FROM cwe").fetchall()],
    }
    for t, ls in lines.items():
        if len(ls) != exp["rows"][t]:
            errs.append(f"{t}: {len(ls)} rows, expected {exp['rows'][t]}")
        elif gen_nvd.checksum(ls) != exp["checksum"][t]:
            errs.append(f"{t}: checksum differs from the generator's")
    for name, t in (("cve_cvss_scores.csv", "cvss"), ("cve_related_problems.csv", "cve_problem"),
                    ("cve_cpes.csv", "cpe")):
        n = csv_rows(os.path.join(work, "results", name))
        if n != exp["rows"][t]:
            errs.append(f"{name}: {n} rows, expected {exp['rows'][t]}")
    want = ["Dropping the database", "Processing downloaded data"]
    for f in sorted(exp["feeds"], key=lambda f: -f["year"]):
        y = f["year"]
        want += [f"\nProcessing nvdcve-1.1-{y}.json.zip", f"CVE_data_timestamp: {y}-12-31T08:00Z",
                 "CVE_data_version: 4.0", "CVE_data_format: MITRE",
                 f"CVE_data_number of CVEs: {f['cves']}", "CVE_data_type: CVE"]
    want.append("Importing CWE data")
    if probe_lines != want:
        errs.append("cve.Main's printed feed report differs from the feeds")
    return errs


# ── nvd-query ────────────────────────────────────────────────────────────

def fmt(v):
    """`graft.cve.Report`'s rendering: null as None, dates ISO, 1-dp doubles."""
    return "None" if v is None else str(v)


def fmt_score(sc):
    return str(int(sc)) if sc == int(sc) else repr(sc)


def parse(req):
    toks = req.split(" ")
    o = {"csv": "-csv" in toks, "sc": 0.0}
    for flag, key in (("-cve", "cve"), ("-cpe", "cpe"), ("-cwe", "cwe"), ("-sc", "sc"), ("-dt", "dt")):
        if flag in toks:
            o[key] = toks[toks.index(flag) + 1]
    o["sc"] = float(o["sc"])
    return o


def expect(con, cwe_names, req, results):
    """The lines `cve.Main.run` should print for `req`, and the CSV it should write."""
    o = parse(req)
    sc, dt = o["sc"], o.get("dt")
    date_sql = " AND published_date >= CAST(? AS DATE)" if dt else ""
    date_arg = [dt] if dt else []
    if "cpe" in o:
        rows = con.execute(
            "SELECT cpe23uri, cve, base_score_3, base_score, published_date FROM cpe JOIN cvss "
            "USING (cve) WHERE vulnerable = 'True' AND contains(cpe23uri, ?) "
            f"AND (base_score_3 >= ? OR base_score >= ?){date_sql} ORDER BY cpe23uri, cve",
            [o["cpe"], sc, sc] + date_arg).fetchall()
        out = ["CPE queries", "CPE\t\t\t\t\t\t\tCVE\t\tCVSSv3.x CVSSv2" + ("\t Published Date" if dt else "")]
        out += [f"{fmt(r[0])} {fmt(r[1])} {fmt(r[2])} \t {fmt(r[3])}" + (f" \t {fmt(r[4])}" if dt else "")
                for r in rows]
        if o["csv"]:
            path = f"{results}/{o['cpe']}_{fmt_score(sc)}_{dt or 'False'}.csv"
            out.append("wrote " + path)
            return out, (path, len(rows))
        return out, None
    if "cwe" in o:
        r = con.execute("SELECT cwe_id, name, description, extended_description, "
                        "modes_of_introduction, common_consequences, potential_mitigations "
                        "FROM cwe WHERE cwe_id = ? ORDER BY cwe_id LIMIT 1", [int(o["cwe"])]).fetchone()
        out = ["CWE queries"]
        if r is None:
            return out + [f"CWE-{o['cwe']} not found"], None
        out += [f"CWE-{fmt(r[0])}", "========", fmt(r[1])]
        out += [fmt(x) for x in r[2:4] if x is not None]
        for title, x in (("Modes of Introduction", r[4]), ("Common Consequences", r[5]),
                         ("Potential Mitigations", r[6])):
            if x is not None:
                out += [f"\n{title}", "--------------------", fmt(x)]
        return out, None
    if "cve" in o:
        c = o["cve"]
        r = con.execute("SELECT cve, vector_string_3, base_score_3, base_severity_3, vector_string, "
                        "base_score, severity, description, published_date, last_modified_date "
                        "FROM cvss WHERE contains(cve, ?) ORDER BY cve LIMIT 1", [c]).fetchone()
        out = ["CVE queries"]
        if r is None:
            out.append("CVE not found")
        else:
            out += [f"CVE:\t\t\t {fmt(r[0])}", f"CVSSv3.x Attack vector:  {fmt(r[1])}",
                    f"CVSSv3.x Base Score:\t {fmt(r[2])} {fmt(r[3])}",
                    f"CVSSv2.x Attack vector:  {fmt(r[4])}",
                    f"CVSSv2.x Base Score:\t {fmt(r[5])} {fmt(r[6])}", "Description:", fmt(r[7]),
                    f"\nPubished Date:\t\t {fmt(r[8])}", f"Last Modified Date:\t {fmt(r[9])}"]
        out += ["\nRelated Common Weakness Enumerations (CWE)",
                "-------------------------------------------"]
        for (p,) in con.execute("SELECT problem FROM cve_problem WHERE contains(cve, ?) "
                                "ORDER BY problem", [c]).fetchall():
            stripped = p.lstrip("CWE-")
            if stripped and stripped.isdigit():
                resolved = cwe_names.get(int(stripped), p)
                out.append(p if resolved == p else f"{p} {resolved}")
        out += ["\nRelated Common Platform Enumerations (CPE)",
                "-------------------------------------------"]
        out += [u for (u,) in con.execute("SELECT cpe23uri FROM cpe WHERE contains(cve, ?) AND "
                                          "vulnerable = 'True' ORDER BY cpe23uri", [c]).fetchall()]
        return out, None
    rows = con.execute(
        "SELECT cve, base_score_3, vector_string_3, base_score, vector_string, published_date "
        f"FROM cvss WHERE (base_score_3 >= ? OR base_score >= ?){date_sql} ORDER BY cve",
        [sc, sc] + date_arg).fetchall()
    head = "CVE \t\tCVSSv3.x Score CVSSv3.x Vector String \t\t\tCVSSv2 Score CVSSv2 Vector String"
    out = ["CVE queries", head + ("\t\t\t Published Date" if dt else "")]
    out += [" ".join(fmt(x) for x in r[:6 if dt else 5]) for r in rows]
    if o["csv"]:
        path = f"{results}/CVEs_score{fmt_score(sc)}_{dt or 'False'}.csv"
        out.append("wrote " + path)
        return out, (path, len(rows))
    return out, None


def nvd_query(work, results):
    """(map of request -> reason for every distinct request answered wrongly,
    number of distinct requests checked)."""
    con = duckdb.connect()
    warehouse(con, work)
    cwe_names = dict(con.execute("SELECT cwe_id, name FROM cwe").fetchall())
    bad = {}
    with open(os.path.join(work, "outputs.jsonl")) as f:
        answers = [json.loads(l) for l in f if l.strip()]
    for a in answers:
        want, export = expect(con, cwe_names, a["req"], results)
        if a["out"] != want:
            i = next((k for k, (x, y) in enumerate(zip(a["out"], want)) if x != y),
                     min(len(a["out"]), len(want)))
            bad[a["req"]] = (f"line {i} of {len(want)}: got "
                             f"{a['out'][i] if i < len(a['out']) else None!r}, "
                             f"want {want[i] if i < len(want) else None!r}")
        elif export:
            path, n = export
            got = sum(1 for _ in open(path)) - 1 if os.path.exists(path) else -1
            if got != n:
                bad[a["req"]] = f"export {path}: {got} rows, want {n}"
    return bad, len(answers)


# ── catalog-slice ────────────────────────────────────────────────────────

def catalog(verify_dir, data_dir, names):
    """The comparison is local_verify.cmp_frames itself; a query without an
    oracle fails here, where local_verify would skip it."""
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    import local_verify
    errs = []
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    for n in names:
        files = sorted(glob.glob(os.path.join(verify_dir, n, "*.parquet")))
        if not files:
            errs.append(f"{n}: no result written")
            continue
        if n not in oracles:
            errs.append(f"{n}: no oracle")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        try:
            duck_df = con.execute(oracles[n]).df()
        except Exception as e:  # a broken oracle is a failed check, not a crash
            errs.append(f"{n}: oracle error {str(e)[:200]}")
            continue
        ok, msg = local_verify.cmp_frames(spark_df, duck_df)
        if not ok:
            errs.append(f"{n}: {msg}")
    return errs
