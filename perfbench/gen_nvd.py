#!/usr/bin/env python3
"""Seeded NVD 1.1 year-feed generator for the benchmark.

Usage: python3 perfbench/gen_nvd.py <outdir> --seed N --cves TOTAL [--feeds 24]

Writes, under <outdir>:
  feeds/nvdcve-1.1-<year>.json.zip   one zipped feed per year
  cwec.csv                           18-column MITRE-layout CWE catalog that
                                     covers every CWE id the feeds emit
  expected.json                      flattened row counts, per-table checksums,
                                     feed sizes — computed here, not by Spark

Items follow `scripts/gen_nvd.py`'s shape (the paths `graft.cve.NvdSchema`
reads) with wider value pools: ~130 CWE ids plus `NVD-CWE-*` labels, nested
configuration nodes, CPE matches with and without `cpe23Uri`, and a few
descriptions carrying tabs and newlines. Feeds are years from 2002 on, and
their sizes grow with the year so the largest is about 6x the smallest, as in
the real NVD feeds.
Stdlib only; the same arguments give byte-identical output.
"""
import argparse
import hashlib
import json
import os
import random
import zipfile

CWE_IDS = [16, 20, 22, 59, 74, 77, 78, 79, 88, 89, 90, 91, 94, 95, 113, 116,
           119, 120, 121, 122, 125, 126, 129, 131, 134, 170, 178, 190, 191,
           193, 200, 203, 209, 212, 220, 252, 254, 255, 264, 269, 276, 281,
           284, 285, 287, 290, 294, 295, 306, 307, 310, 311, 312, 319, 326,
           327, 330, 345, 347, 352, 362, 369, 377, 384, 399, 400, 401, 404,
           415, 416, 425, 427, 434, 444, 457, 459, 476, 502, 521, 522, 532,
           552, 601, 611, 613, 617, 639, 640, 662, 665, 667, 668, 669, 670,
           674, 681, 682, 697, 703, 704, 706, 732, 754, 755, 763, 770, 772,
           787, 798, 824, 835, 843, 862, 863, 908, 909, 915, 916, 918, 922,
           1021, 1187, 1188, 1236, 1321, 1333]
# Catalog ids that the feeds never cite (the dimension is wider than the facts).
CWE_UNUSED = [1004, 1007, 1024, 1051, 1104]
LABELS_OTHER = ["NVD-CWE-noinfo", "NVD-CWE-Other"]
WORDS = ["buffer", "overflow", "remote", "attacker", "crafted", "input",
         "parser", "memory", "corruption", "disclosure", "allows", "via",
         "request", "header", "authenticated", "privilege", "escalation",
         "denial", "service", "injection", "component", "function", "module",
         "cross-site", "scripting", "arbitrary", "code", "execution", "file",
         "path", "traversal", "validation", "improper", "access", "control"]
V3_AV = ["NETWORK", "ADJACENT_NETWORK", "LOCAL", "PHYSICAL"]
V3_SEV = [(9.0, "CRITICAL"), (7.0, "HIGH"), (4.0, "MEDIUM"), (0.1, "LOW"), (0.0, "NONE")]
V2_SEV = [(7.0, "HIGH"), (4.0, "MEDIUM"), (0.0, "LOW")]
N_VENDORS, N_PRODUCTS = 400, 1500
FIRST_YEAR, SKEW = 2002, 6.0


def feed_sizes(total, feeds):
    """Per-feed CVE counts growing with the year; last/first ~= SKEW."""
    w = [1.0 + (SKEW - 1.0) * (i / (feeds - 1)) ** 1.5 for i in range(feeds)]
    sizes = [int(total * x / sum(w)) for x in w]
    sizes[-1] += total - sum(sizes)
    return sizes


def severity(score, table):
    return next(name for lo, name in table if score >= lo)


def item(rng, year, i):
    cve = f"CVE-{year}-{i + 1:05d}"
    impact = {}
    if rng.random() < 0.8:
        s3 = round(rng.uniform(1, 10), 1)
        av = rng.choice(V3_AV)
        impact["baseMetricV3"] = {
            "cvssV3": {"attackComplexity": rng.choice(["LOW", "HIGH"]),
                       "attackVector": av,
                       "availabilityImpact": rng.choice(["HIGH", "LOW", "NONE"]),
                       "confidentialityImpact": rng.choice(["HIGH", "LOW", "NONE"]),
                       "integrityImpact": rng.choice(["HIGH", "LOW", "NONE"]),
                       "privilegesRequired": rng.choice(["NONE", "LOW", "HIGH"]),
                       "scope": rng.choice(["UNCHANGED", "CHANGED"]),
                       "userInteraction": rng.choice(["NONE", "REQUIRED"]),
                       "vectorString": f"CVSS:3.1/AV:{av[0]}/AC:L/PR:N/UI:N/S:U/C:H/I:N/A:H",
                       "baseScore": s3, "baseSeverity": severity(s3, V3_SEV)},
            "exploitabilityScore": round(rng.uniform(0, 4), 1),
            "impactScore": round(rng.uniform(0, 6), 1)}
    if rng.random() < 0.85:
        s2 = round(rng.uniform(1, 10), 1)
        bm2 = {"cvssV2": {"accessComplexity": rng.choice(["LOW", "MEDIUM", "HIGH"]),
                          "accessVector": rng.choice(["NETWORK", "LOCAL"]),
                          "authentication": "NONE", "availabilityImpact": "PARTIAL",
                          "confidentialityImpact": "PARTIAL", "integrityImpact": "PARTIAL",
                          "vectorString": "AV:N/AC:L/Au:N/C:P/I:P/A:P",
                          "baseScore": s2},
               "severity": severity(s2, V2_SEV),
               "exploitabilityScore": round(rng.uniform(0, 10), 1),
               "impactScore": round(rng.uniform(0, 10), 1),
               "obtainAllPrivilege": False, "obtainOtherPrivilege": False,
               "obtainUserPrivilege": rng.random() < 0.1}
        if rng.random() < 0.9:
            bm2["userInteractionRequired"] = rng.random() < 0.3
        impact["baseMetricV2"] = bm2

    def match():
        m = {"vulnerable": rng.random() < 0.8}
        if rng.random() < 0.98:  # Flatten.cpes skips matches without a URI
            m["cpe23Uri"] = (f"cpe:2.3:a:vendor{rng.randrange(N_VENDORS)}:"
                             f"prod{rng.randrange(N_PRODUCTS)}:"
                             f"{rng.randint(0, 9)}.{rng.randint(0, 9)}:*:*:*:*:*:*:*")
        return m
    nodes = []
    for _ in range(rng.randint(0, 3)):
        r = rng.random()
        if r < 0.25:
            nodes.append({"operator": "AND", "children": [
                {"cpe_match": [match() for _ in range(rng.randint(1, 3))]}
                for _ in range(rng.randint(1, 2))]})
        elif r < 0.97:
            nodes.append({"operator": "OR",
                          "cpe_match": [match() for _ in range(rng.randint(1, 4))]})
        else:
            nodes.append({"operator": "OR"})  # neither list: contributes nothing
    problems = [{"value": (rng.choice(LABELS_OTHER) if rng.random() < 0.06
                           else f"CWE-{rng.choice(CWE_IDS)}")}
                for _ in range(rng.randint(1, 3))]
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 40)))
    if rng.random() < 0.03:
        text = text.replace(" ", "\t", 1).replace(" ", "\n", 1)
    descr = [{"lang": "en", "value": text}]
    if rng.random() < 0.05:
        descr.append({"lang": "en", "value": " Note: fixed in a later release."})
    month, day = rng.randint(1, 12), rng.randint(1, 28)
    return {
        "cve": {"data_type": "CVE", "CVE_data_meta": {"ID": cve},
                "problemtype": {"problemtype_data": [{"description": problems}]},
                "description": {"description_data": descr}},
        "configurations": {"CVE_data_version": "4.0", "nodes": nodes},
        "impact": impact,
        "publishedDate": f"{year}-{month:02d}-{day:02d}T10:{rng.randint(0, 59):02d}Z",
        "lastModifiedDate": f"{min(year + rng.randint(0, 2), 2025)}-12-30T10:00Z"}


def checksum(lines):
    """Order-free table checksum: sum of 60-bit md5 prefixes, mod 2^63."""
    return sum(int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in lines) % (1 << 63)


def fmt(v):
    return "" if v is None else repr(v) if isinstance(v, float) else str(v)


def cvss_line_of(row):
    """(cve, base_score_3, base_score, published_date, description) as checksummed."""
    cve, s3, s2, published, descr = row
    return "|".join([cve, fmt(s3), fmt(s2), str(published), descr])


def cvss_line(it):
    """The row `Flatten.cvss` makes, projected to the checksummed columns."""
    imp = it["impact"]
    s3 = imp.get("baseMetricV3", {}).get("cvssV3", {}).get("baseScore")
    s2 = imp.get("baseMetricV2", {}).get("cvssV2", {}).get("baseScore")
    descr = "".join(d["value"] for d in it["cve"]["description"]["description_data"])
    descr = descr.replace("\r", " ").replace("\n", " ").replace("\t", " ")
    return cvss_line_of((it["cve"]["CVE_data_meta"]["ID"], s3, s2, it["publishedDate"][:10], descr))


def problem_lines(it):
    cve = it["cve"]["CVE_data_meta"]["ID"]
    return [f"{cve}|{d['value']}"
            for pd in it["cve"]["problemtype"]["problemtype_data"] for d in pd["description"]]


def cpe_lines(it):
    """`Flatten.cpes`: a node with children contributes only its children's
    matches; matches without a URI are skipped."""
    cve = it["cve"]["CVE_data_meta"]["ID"]
    out = []
    for n in it["configurations"]["nodes"]:
        lists = ([c.get("cpe_match", []) for c in n["children"]] if "children" in n
                 else [n.get("cpe_match", [])])
        for ms in lists:
            out += [f"{cve}|{m['cpe23Uri']}|{m['vulnerable']}" for m in ms if "cpe23Uri" in m]
    return out


def cwe_rows(rng):
    rows = []
    for cid in sorted(CWE_IDS + CWE_UNUSED):
        name = f"Weakness {cid}: improper handling of {rng.choice(WORDS)} {rng.choice(WORDS)}"
        descr = f"The product {rng.choice(WORDS)}s data, but it does not {rng.choice(WORDS)} it correctly."
        ext = (f"When \"{rng.choice(WORDS)}\" is used,\nan attacker may {rng.choice(WORDS)} it."
               if rng.random() < 0.5 else "")
        modes = rng.choice(["Architecture and Design::Implementation", "Implementation", ""])
        cons = f"Integrity: {rng.choice(WORDS)}" if rng.random() < 0.8 else ""
        mitig = (f"Strategy: {rng.choice(WORDS)}. Use an \"allowlist\", not a denylist."
                 if rng.random() < 0.7 else "")
        rows.append([str(cid), name, "Base", "Draft", descr, ext,
                     f"::NATURE:ChildOf:CWE ID:{rng.choice(CWE_IDS)}::", "Primary",
                     "Language-Independent", "", "", modes, "", "High", cons,
                     "Automated Static Analysis", mitig, f"CVE-2019-{rng.randint(1, 9999):04d}"])
    return rows


CWE_HEADER = ["CWE-ID", "Name", "Weakness Abstraction", "Status", "Description",
              "Extended Description", "Related Weaknesses", "Weakness Ordinalities",
              "Applicable Platforms", "Background Details", "Alternate Terms",
              "Modes Of Introduction", "Exploitation Factors", "Likelihood of Exploit",
              "Common Consequences", "Detection Methods", "Potential Mitigations",
              "Observed Examples"]


def csv_field(s):
    return '"' + s.replace('"', '""') + '"' if any(c in s for c in ',"\n') else s


def generate(outdir, seed, cves, feeds=24):
    rng = random.Random(seed)
    os.makedirs(f"{outdir}/feeds", exist_ok=True)
    sizes = feed_sizes(cves, feeds)
    counts = {"cvss": 0, "cve_problem": 0, "cpe": 0}
    sums = {"cvss": 0, "cve_problem": 0, "cpe": 0}
    feed_info, json_bytes, zip_bytes = [], 0, 0
    for k, n in enumerate(sizes):
        year = FIRST_YEAR + k
        items = [item(rng, year, i) for i in range(n)]
        feed = {"CVE_data_type": "CVE", "CVE_data_format": "MITRE",
                "CVE_data_version": "4.0", "CVE_data_numberOfCVEs": str(n),
                "CVE_data_timestamp": f"{year}-12-31T08:00Z", "CVE_Items": items}
        name = f"nvdcve-1.1-{year}.json"
        body = json.dumps(feed).encode()
        path = f"{outdir}/feeds/{name}.zip"
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
            info = zipfile.ZipInfo(name, date_time=(year, 12, 31, 8, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)
        json_bytes += len(body)
        zip_bytes += os.path.getsize(path)
        feed_info.append({"year": year, "cves": n, "json_bytes": len(body)})
        for table, lines in (("cvss", [cvss_line(it) for it in items]),
                             ("cve_problem", [l for it in items for l in problem_lines(it)]),
                             ("cpe", [l for it in items for l in cpe_lines(it)])):
            counts[table] += len(lines)
            sums[table] = (sums[table] + checksum(lines)) % (1 << 63)
    rows = cwe_rows(rng)
    with open(f"{outdir}/cwec.csv", "w", newline="") as f:
        f.write(",".join(CWE_HEADER) + "\n")
        for r in rows:
            f.write(",".join(csv_field(x) for x in r) + "\n")
    counts["cwe"] = len(rows)
    sums["cwe"] = checksum(f"{r[0]}|{r[1]}" for r in rows)
    expected = {"seed": seed, "rows": counts, "checksum": sums,
                "feed_json_bytes": json_bytes, "feed_zip_bytes": zip_bytes,
                "feeds": feed_info, "cwe_catalog_ids": sorted(int(r[0]) for r in rows)}
    with open(f"{outdir}/expected.json", "w") as f:
        json.dump(expected, f)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("outdir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cves", type=int, required=True)
    ap.add_argument("--feeds", type=int, default=24)
    a = ap.parse_args()
    e = generate(a.outdir, a.seed, a.cves, a.feeds)
    print(json.dumps({"rows": e["rows"], "feed_json_bytes": e["feed_json_bytes"]}))


if __name__ == "__main__":
    main()
