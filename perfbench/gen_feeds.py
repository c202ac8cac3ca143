#!/usr/bin/env python3
"""Seeded synthetic NVD 1.1 year feeds plus the nvd_query operation plan.

Usage: python3 perfbench/gen_feeds.py <outdir> <seed> <years> <items_per_year> <plan_ops>

Items come from `scripts/gen_nvd.py`'s `item()`, so the feeds have exactly the
shape the repo's ingest stress data has; only the seed and the size differ
(`gen_nvd.py` fixes its seed at 42). Writes into <outdir>:

  nvdcve-1.1-<year>.json.zip   one zip per year, one JSON member each
  manifest.json                generator counts the ingest output is checked
                               against, and the nvd_query plan: one entry per
                               operation with its arguments and expected rows
"""
import csv
import json
import os
import random
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "scripts"))
import gen_nvd  # noqa: E402

FIRST_YEAR = 2020
CWE_CATALOG = os.path.join(HERE, "..", "src", "test", "resources", "nvd", "cwe_catalog.csv")

# Query mix of the nvd_query closed loop: every block of 20 consecutive
# operations holds exactly this many of each shape, in seeded order, so the
# mix a run measures does not drift with the seed or the run length. The
# shares are equal because neither the paper nor its reference tool gives a
# traffic mix to follow.
MIX = [("cve_report", 5), ("score_listing", 5), ("cpe_listing", 5), ("cwe_lookup", 5)]
# Share of cve_report ids that name no CVE in the feeds. Only ids miss: the
# other shapes take a score, date, platform or CWE id, which the plan draws
# from values the data holds.
MISS_SHARE = 0.10
SCORES = [7.0, 7.5, 8.0, 8.5, 9.0, 9.5]
# Date floors for score_listing: None scans every pub_year partition, the
# others prune 0 to 3 of the 4 year partitions.
DATE_FLOORS = [None, "2020-07-01", "2021-03-15", "2022-01-01", "2022-10-20", "2023-06-01"]


def summarize(item):
    """The facts about one generated item that query results are checked against."""
    imp = item["impact"]
    v3 = imp.get("baseMetricV3", {}).get("cvssV3", {}).get("baseScore")
    v2 = imp.get("baseMetricV2", {}).get("cvssV2", {}).get("baseScore")
    problems = [d["value"] for pd in item["cve"]["problemtype"]["problemtype_data"]
                for d in pd["description"]]
    cpes = []
    for node in item["configurations"]["nodes"]:
        lists = [c["cpe_match"] for c in node["children"]] if "children" in node \
            else [node["cpe_match"]]
        for ms in lists:
            cpes.extend((m["cpe23Uri"], m["vulnerable"]) for m in ms)
    return {"id": item["cve"]["CVE_data_meta"]["ID"], "v3": v3, "v2": v2,
            "pub": item["publishedDate"][:10], "problems": problems, "cpes": cpes}


def scored(s, score):
    return (s["v3"] is not None and s["v3"] >= score) or \
        (s["v2"] is not None and s["v2"] >= score)


def cwe_ids():
    with open(CWE_CATALOG, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return sorted(int(r[0]) for r in rows[1:] if r and r[0].isdigit())


def plan(rng, items, years, per_year, n_ops):
    by_vendor = {}
    for s in items:
        for uri, vuln in s["cpes"]:
            if vuln:
                by_vendor.setdefault(uri.split(":")[3], []).append(s)
    vendors = sorted(by_vendor)
    known_cwes = cwe_ids()
    listing_counts = {}
    block = [shape for shape, n in MIX for _ in range(n)]
    ops = []
    for i in range(n_ops):
        if i % len(block) == 0:
            rng.shuffle(block)
        shape = block[i % len(block)]
        if shape == "cve_report":
            if rng.random() < MISS_SHARE:
                # A year with no feed, or an index past the year's last item.
                cve = rng.choice([f"CVE-{FIRST_YEAR - 1}-{rng.randrange(per_year):06d}",
                                  f"CVE-{FIRST_YEAR + rng.randrange(years)}-{per_year + rng.randrange(1000):06d}"])
                ops.append({"shape": shape, "cve": cve, "rows": 0, "problems": 0, "cpes": 0})
            else:
                s = items[rng.randrange(len(items))]
                ops.append({"shape": shape, "cve": s["id"], "rows": 1,
                            "problems": len(s["problems"]),
                            "cpes": sum(1 for _, v in s["cpes"] if v)})
        elif shape == "score_listing":
            score, date = rng.choice(SCORES), rng.choice(DATE_FLOORS)
            key = (score, date)
            if key not in listing_counts:
                listing_counts[key] = sum(1 for s in items
                                          if scored(s, score) and (date is None or s["pub"] >= date))
            ops.append({"shape": shape, "score": score, "date": date, "rows": listing_counts[key]})
        elif shape == "cpe_listing":
            score, date = rng.choice(SCORES[:3]), rng.choice(DATE_FLOORS[:3])
            vendor = rng.choice(vendors)
            arg = f":{vendor}:"
            # by_vendor lists an item once per matching platform: count each once.
            rows = sum(sum(1 for uri, vuln in s["cpes"] if vuln and arg in uri)
                       for s in {s["id"]: s for s in by_vendor[vendor]}.values()
                       if scored(s, score) and (date is None or s["pub"] >= date))
            ops.append({"shape": shape, "cpe": arg, "score": score, "date": date, "rows": rows})
        else:
            ops.append({"shape": shape, "cwe": rng.choice(known_cwes), "rows": 1})
    return ops


def main():
    outdir, seed, years, per_year, n_ops = \
        sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5])
    os.makedirs(outdir, exist_ok=True)
    rng = random.Random(seed)
    items, zipped = [], 0
    for y in range(FIRST_YEAR, FIRST_YEAR + years):
        raw = [gen_nvd.item(rng, y, i) for i in range(per_year)]
        feed = {"CVE_data_type": "CVE", "CVE_data_format": "MITRE",
                "CVE_data_version": "4.0", "CVE_data_numberOfCVEs": str(per_year),
                "CVE_data_timestamp": f"{y}-12-31T08:00Z", "CVE_Items": raw}
        name = f"nvdcve-1.1-{y}.json"
        path = os.path.join(outdir, name + ".zip")
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr(name, json.dumps(feed))
        zipped += os.path.getsize(path)
        items.extend(summarize(it) for it in raw)
    manifest = {
        "seed": seed, "years": years, "items_per_year": per_year,
        "block": sum(n for _, n in MIX),
        "zips": years, "zip_bytes": zipped,
        "counts": {"cvss": len(items),
                   "cve_problem": sum(len(s["problems"]) for s in items),
                   "cpe": sum(len(s["cpes"]) for s in items),
                   "cwe": len(cwe_ids())},
        "ops": plan(random.Random(seed + 1), items, years, per_year, n_ops),
    }
    with open(os.path.join(outdir, "manifest.json"), "w") as f:
        json.dump(manifest, f)


if __name__ == "__main__":
    main()
