#!/usr/bin/env python3
"""Turn a calibration run into an expected table for a query workload.

    python3 perfbench/run.py --workload calibrate --seed 0 --seconds 1 \\
        --trace 0 --calibrate-sf sf0.001 [--calibrate-names q1,q2,...]
    python3 tools/compare.py perfbench/data/sf0.001 \\
        .bench_build/artifacts/verify-sf0.001 > compare.txt
    python3 perfbench/make_expected.py queries_floor sf0.001 \\
        .bench_build/artifacts/calibrate-s0-t0.json compare.txt

The calibration run wrote each query's result parquet (checked by
tools/compare.py against the DuckDB oracle), its row count and content hash
(twice: `stable` says whether both agreed) and its cold and warm seconds.
A query that fails the oracle compare is left out of the table, and so out
of every sample; the table says which and why.
"""
import json
import re
import sys


def main(workload, sf, artifact, compare_txt=None):
    """Without compare_txt the artifact is a re-timing (--calibrate-results
    0): its seconds replace the table's, results and verdicts are kept."""
    art = json.load(open(artifact))
    out = f"perfbench/expected/{workload}.json"
    if compare_txt is None:
        table = json.load(open(out))
        for name, e in art["detail"].items():
            table["queries"][name].update(e)
        table["calibrated"]["timing_nproc"] = art["config"]["nproc"]
        with open(out, "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{out}: re-timed {len(art['detail'])} queries")
        return
    verdict = {}
    for line in open(compare_txt):
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line)
        if m:
            verdict[m.group(2)] = (m.group(1), line.strip())
    queries, excluded = {}, {}
    for name, e in sorted(art["detail"].items()):
        v = verdict.get(name)
        if v and v[0] == "FAIL":
            excluded[name] = v[1]
            continue
        e = dict(e)
        e["compare"] = v[0] if v else "no oracle: pinned to this run's hash"
        queries[name] = e
    for f in art["failures"]:
        excluded[f.split(":")[0]] = f
    table = {
        "workload": workload,
        "sf": sf,
        "calibrated": {
            "nproc": art["config"]["nproc"],
            "spark_version": art["config"]["spark_version"],
            "java_version": art["config"]["java_version"],
            "oracle_compare": {k: sum(1 for v in verdict.values() if v[0] == k)
                               for k in ("PASS", "FAIL")},
            "unstable_hashes": sorted(n for n, e in queries.items()
                                      if not e["stable"]),
        },
        "excluded": excluded,
        "queries": queries,
    }
    with open(out, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{out}: {len(queries)} queries, {len(excluded)} excluded")


if __name__ == "__main__":
    main(*sys.argv[1:])
