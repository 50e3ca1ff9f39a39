#!/usr/bin/env python3
"""Record the relational and corpus workloads' expected outputs.

Runs each workload's queries three times under different seeds (so in
different orders and JVMs), keeps a query's row count and digest only if
every run agrees, cross-checks them against the query's DuckDB oracle SQL
where it has one, and writes perfbench/expected.json.

    python3 perfbench/record_expected.py [workload...]

Run it from the repository root, at a commit whose oracle gate passes; a
query whose runs disagree, or whose oracle disagrees, stops the recording.
"""

import json
import os
import subprocess
import sys
import time

import run
from digest import digest

SEEDS = (1, 2, 3)


def observed(cp, spec, workload, seed):
    result, _ = run.harness(cp, workload, seed, 0, 0, spec,
                            deadline=time.time() + 600)
    seen = {}
    for op in result["warmup"] + [o for p in result["passes"] for o in p["ops"]]:
        if op.get("error"):
            raise SystemExit("%s threw: %s" % (op["name"], op["error"]))
        seen.setdefault(op["name"], set()).add((op["rows"], op["digest"]))
    return seen


def oracles(cp, names):
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.OracleDump"] + names,
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        spec = json.load(f)
    cp = run.build(run.spark_jars())
    path = os.path.join(run.HERE, "expected.json")
    with open(path) as f:
        kept = json.load(f)
    expected = {}
    for workload in sys.argv[1:] or ("relational", "corpus"):
        seen = {}
        for seed in SEEDS:
            for name, vals in observed(cp, spec, workload, seed).items():
                seen.setdefault(name, set()).update(vals)
        unstable = {n: v for n, v in seen.items() if len(v) != 1}
        if unstable:
            raise SystemExit("outputs differ between runs: %s" % unstable)
        for name, vals in seen.items():
            rows, dg = next(iter(vals))
            expected[name] = {"rows": rows, "digest": dg, "oracle": "none"}

    import duckdb
    con = duckdb.connect()
    sf_dir = os.path.join(run.HERE, "data", spec["sf"])
    for t in sorted(os.listdir(sf_dir)):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s')"
                    % (t.split(".")[0], sf_dir, t))
    for name, sql in oracles(cp, sorted(expected)).items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows, dg = digest(cols, cur.fetchall())
        want = expected[name]
        if rows != want["rows"]:
            raise SystemExit("%s: oracle has %d rows, Spark %d"
                             % (name, rows, want["rows"]))
        want["oracle"] = "digest" if dg == want["digest"] else "rows"

    listed = {q for w in spec["workloads"].values() for q in w.get("queries", ())}
    kept = {n: e for n, e in kept.items() if n in listed}
    kept.update(expected)
    with open(path, "w") as f:
        json.dump(kept, f, indent=1, sort_keys=True)
        f.write("\n")
    kinds = [e["oracle"] for e in expected.values()]
    print("recorded %d queries; oracle digest match %d, rows only %d, "
          "no oracle %d" % (len(kinds), kinds.count("digest"),
                            kinds.count("rows"), kinds.count("none")))


if __name__ == "__main__":
    sys.exit(main())
